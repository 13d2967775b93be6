package graft.core

import org.apache.spark.sql.SparkSession

/** Single place where graft SparkSessions are built, so every entry
  * point (Verify, Bench, the graft.run CLIs, tests) gets the same
  * required conf ([[Tables.RequiredConf]]) and scale-appropriate
  * shuffle parallelism. On a real cluster the same conf keys apply;
  * only `master` changes.
  */
object Sessions {

  /** local[N] session for the driver harnesses and CLIs. N and the
    * shuffle partition count both come from SPARK_GRAFT_CPUS (the
    * driver's contract); at 100 TB shuffle partitions would instead be
    * sized to ~128MB per partition, with AQE coalescing downward. */
  def local(appName: String): SparkSession = {
    // default = every core (the driver contract is local[32] with
    // shuffle partitions 32 on the 32-core bench box; a fixed small
    // default would silently run the bench 8× under-parallelized)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // local[N, 2]: allow ONE task retry, like every real cluster
    // (spark.task.maxFailures defaults to 4 there; bare local[N] makes
    // any task failure fatal, which no production deployment has).
    // This is also what lets the suite TEST the retry-safety the sinks
    // promise (SURVEY §7.4 risk 1) with an induced first-attempt
    // failure instead of only asserting re-run idempotency.
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus,2]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // The generated-code cache defaults to 100 entries; a 399-query
      // catalog generates thousands of distinct codegen units per
      // pass, so pass 2 recompiles (Janino, tens of ms per unit) what
      // pass 1 already compiled. Sizing the cache to the catalog is a
      // driver/executor-memory-for-CPU trade that holds at any data
      // scale (the cache is keyed by generated source, not data), so
      // the size is a constant, not a knob.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // The codegen cache is keyed by (classloader, source), and with
      // artifact isolation on every session gets its own classloader:
      // each streaming drain runs on a cloned session, so identical
      // generated code compiled again on every drain. graft adds no
      // jars, files or artifacts to a session, so isolation buys it
      // nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
    Tables.RequiredConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` on a fresh [[local]] session, then [[stop]] it, also
    * when `body` throws. The entry points' `main`s run through this:
    * `perfbench` calls them in-process one after another, where a
    * failed body must not leave a live session under the next call. */
  def withLocal[A](appName: String)(body: SparkSession => A): A = {
    val spark = local(appName)
    try body(spark) finally stop(spark)
  }

  /** Stop `spark` and clear the calling thread's active-session slot and
    * the default session. `SparkSession.stop()` leaves the thread's
    * inheritable slot pointing at the stopped session, which keeps it
    * (and everything it memoizes) reachable from the caller. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
