package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Runs a `main` object in a child JVM on the suite's classpath: for
  * tests that must stop a session, which the suite's shared session
  * rules out in this JVM. */
object ChildJvm {

  /** Run `main` (a Scala object with a `main` method) with `args`;
    * returns whether it exited 0 within 5 minutes, and its output. */
  def run(main: AnyRef, args: String*): (Boolean, String) = {
    // the forked suite JVM's flags: Spark needs its --add-opens
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val log = Files.createTempFile("child_jvm", ".log").toFile
    val pb = new ProcessBuilder((Seq(
      Path.of(System.getProperty("java.home"), "bin", "java").toString,
      "-Xmx1g", "-cp", System.getProperty("java.class.path")) ++ opens ++
      Seq(main.getClass.getName.stripSuffix("$")) ++ args).asJava)
      .redirectErrorStream(true).redirectOutput(log)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    (done && p.exitValue == 0, Files.readString(log.toPath))
  }
}
