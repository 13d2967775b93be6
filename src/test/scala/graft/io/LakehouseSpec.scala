package graft.io

import java.nio.file.Files

import graft.SparkSpecBase
import graft.core.Tables

class LakehouseSpec extends SparkSpecBase {

  test("date-partitioned layout prunes the scan to one partition") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val path = Files.createTempDirectory("lake").toString + "/orders"
    val src = Tables.orders(spark, "/root/testdata/sf0.001")
    Lakehouse.writePartitioned(
      src.withColumn("ds", to_date(col("o_orderdate"))), path, Seq("ds"))

    val day = spark.read.parquet(path).filter(col("ds") === lit("1996-03-09"))
    // correctness: the partition read equals the row-filter read
    assert(day.count() ==
      src.filter(to_date(src("o_orderdate")) === "1996-03-09").count())
    assert(day.count() > 0)

    // the plan must prune on the partition column, not post-filter
    val plan = day.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("ds"), plan)
    val scanned = day.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned == Seq(1), s"expected exactly one partition, got $scanned")
  }
  test("morton2 interleaves bits; z-ordered files cover narrow " +
    "rectangles in BOTH dimensions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pinned values: a=3 (bits 0,1 -> positions 0,2), b=1 (bit 0 -> 1)
    val m = Seq((3L, 1L)).toDF("a", "b")
      .select(Lakehouse.morton2(col("a"), col("b")).as("z"))
      .collect()(0).getLong(0)
    assert(m == 7L)
    val m2 = Seq((0L, 5L)).toDF("a", "b")
      .select(Lakehouse.morton2(col("a"), col("b")).as("z"))
      .collect()(0).getLong(0)
    assert(m2 == ((1L << 1) | (1L << 5))) // b bits 0,2 -> positions 1,5

    // clustering: 64x64 grid, z-order into 16 files; every file's
    // bounding rectangle must be far smaller than the full domain in
    // BOTH dims (a plain sort achieves this only for its lead column)
    val path = java.nio.file.Files.createTempDirectory("zord").toString + "/g"
    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    Lakehouse.writeZOrdered(grid, "x", "y", path, nFiles = 16, bits = 6)
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name()).agg(
        (max(col("x")) - min(col("x"))).as("xr"),
        (max(col("y")) - min(col("y"))).as("yr"))
      .agg(avg(col("xr")), avg(col("yr"))).collect()(0)
    assert(perFile.getDouble(0) < 32.0, s"x range ${perFile.getDouble(0)}")
    assert(perFile.getDouble(1) < 32.0, s"y range ${perFile.getDouble(1)}")
  }

  test("file-stats skipping: sound (same rows as full scan) and " +
    "effective (z-order drops files for a 2-D rectangle)") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("zskip").toString + "/g"
    // 64x64 grid, z-ordered into 16 files
    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    Lakehouse.writeZOrdered(grid, "x", "y", path, nFiles = 16, bits = 6)

    // footer stats exist for both columns on every file
    val stats = Lakehouse.parquetFileStats(spark, path, Seq("x", "y"))
    assert(stats.size == 16)
    assert(stats.forall(_._2.keySet == Set("x", "y")))

    // low-corner rectangle covers 1/16 of the grid: most files skip
    val ranges = Map("x" -> (0L, 15L), "y" -> (0L, 15L))
    val (kept, nTotal, nKept) =
      Lakehouse.readWithFileSkipping(spark, path, ranges)
    assert(nTotal == 16)
    assert(nKept < nTotal, s"expected skipped files, kept $nKept/$nTotal")

    // soundness: pruned read + residual filter == full scan + filter
    val pred = col("x").between(0, 15) && col("y").between(0, 15)
    val viaSkip = kept.filter(pred)
    val full = spark.read.parquet(path).filter(pred)
    assert(viaSkip.count() == 256)
    assert(viaSkip.exceptAll(full).count() == 0)
    assert(full.exceptAll(viaSkip).count() == 0)

    // disjoint rectangle: zero files survive, frame is empty not broken
    val (none, _, zero) = Lakehouse.readWithFileSkipping(
      spark, path, Map("x" -> (1000L, 2000L)))
    assert(zero == 0 && none.count() == 0)
  }

  test("mergeIntoPartitioned rewrites only touched partitions, " +
      "upserts last-write-wins, and is idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("lkm").toString + "/t"
    val base = Seq(
      (1L, 10.0, "2024-01"), (2L, 20.0, "2024-01"),
      (3L, 30.0, "2024-02"), (4L, 40.0, "2024-03"))
      .toDF("k", "v", "m")
    Lakehouse.writePartitioned(base, path, Seq("m"))
    def partFiles(m: String) =
      new java.io.File(s"$path/m=$m").listFiles
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toSeq.sorted
    val janBefore = partFiles("2024-01")
    val febBefore = partFiles("2024-02")
    // batch: update k=3 (feb), insert k=5 into feb — touches ONLY feb
    val batch = Seq((3L, 300.0, "2024-02"), (5L, 50.0, "2024-02"))
      .toDF("k", "v", "m")
    Lakehouse.mergeIntoPartitioned(spark, path, batch, Seq("k"), Seq("m"))
    val got = spark.read.parquet(path)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 10.0, 2L -> 20.0, 3L -> 300.0,
      4L -> 40.0, 5L -> 50.0))
    // untouched partitions: the same files, byte-stamps untouched
    assert(partFiles("2024-01") == janBefore)
    assert(partFiles("2024-02") != febBefore)
    // idempotent: re-merging the same batch changes nothing
    Lakehouse.mergeIntoPartitioned(spark, path, batch, Seq("k"), Seq("m"))
    val again = spark.read.parquet(path)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(again == got)
  }

  test("compact folds a fragmented directory without changing data") {
    val path = java.nio.file.Files.createTempDirectory("cmp").toString + "/t"
    val src = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_totalprice")
    src.repartition(20).write.parquet(path)
    def files = new java.io.File(path).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(files == 20)
    val before = src.count()
    Lakehouse.compact(spark, path, 2)
    assert(files <= 2)
    val after = spark.read.parquet(path)
    assert(after.count() == before)
    assert(after.exceptAll(src).count() == 0)
  }

  test("versioned snapshots: time travel pins old content; a " +
    "marker-less (crashed) version is invisible and gets overwritten") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ttv").toString + "/t"
    assert(Lakehouse.versions(spark, path).isEmpty)
    val v1 = Lakehouse.writeVersion(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = Lakehouse.writeVersion(spark, path,
      Seq((1L, "a2"), (3L, "c")).toDF("k", "v"))
    assert((v1, v2) == ((1, 2)))
    assert(Lakehouse.versions(spark, path) == Seq(1, 2))
    // time travel: v1 content unchanged although v2 is latest
    assert(Lakehouse.readVersion(spark, path, 1)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(Lakehouse.readLatest(spark, path)
      .as[(Long, String)].collect().toSet == Set((1L, "a2"), (3L, "c")))
    // simulate a crash: a half-written v=3 without _SUCCESS — readers
    // must not see it, and the next write must claim (overwrite) it
    Seq((9L, "half")).toDF("k", "v").write.parquet(s"$path/v=3")
    new java.io.File(s"$path/v=3/_SUCCESS").delete()
    assert(Lakehouse.versions(spark, path) == Seq(1, 2))
    assertThrows[IllegalArgumentException](
      Lakehouse.readVersion(spark, path, 3))
    val v3 = Lakehouse.writeVersion(spark, path,
      Seq((4L, "d")).toDF("k", "v"))
    assert(v3 == 3)
    assert(Lakehouse.readLatest(spark, path)
      .as[(Long, String)].collect().toSet == Set((4L, "d")))
  }

  test("compact recovers from a prior crash's leftovers: stale " +
    "__compact_old and __compact_tmp dirs never reach the result") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("cmpc").toString + "/t"
    val good = Seq((1L, "keep"), (2L, "keep")).toDF("k", "v")
    good.repartition(4).write.parquet(path)
    // a previous compact died mid-flight: a STALE full copy sits
    // aside, and a half-written tmp dir lingers — both must be
    // ignored/overwritten, only the canonical path's data survives
    Seq((9L, "stale")).toDF("k", "v").write.parquet(path + "__compact_old")
    Seq((8L, "half")).toDF("k", "v").write.parquet(path + "__compact_tmp")
    Lakehouse.compact(spark, path, 1)
    val got = spark.read.parquet(path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "keep"), (2L, "keep")), s"got $got")
    // and the swap cleaned up after itself — a second compact (or a
    // reader globbing the parent) sees no leftover dirs
    assert(!new java.io.File(path + "__compact_old").exists())
    assert(!new java.io.File(path + "__compact_tmp").exists())
  }

  test("expireVersions keeps the newest snapshots, drops the rest, " +
      "and expired time travel fails loudly") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ret").toString + "/t"
    (1 to 4).foreach { i =>
      Lakehouse.writeVersion(spark, path,
        Seq((i.toLong, s"v$i")).toDF("k", "v"))
    }
    val dropped = Lakehouse.expireVersions(spark, path, keepLast = 2)
    assert(dropped == Seq(1, 2))
    assert(Lakehouse.versions(spark, path) == Seq(3, 4))
    assert(Lakehouse.readLatest(spark, path)
      .as[(Long, String)].collect().toSet == Set((4L, "v4")))
    // the surviving older snapshot still time-travels
    assert(Lakehouse.readVersion(spark, path, 3)
      .as[(Long, String)].collect().toSet == Set((3L, "v3")))
    intercept[IllegalArgumentException] {
      Lakehouse.readVersion(spark, path, 1)
    }
    // keepLast larger than the ledger is a no-op
    assert(Lakehouse.expireVersions(spark, path, keepLast = 5).isEmpty)
    assert(Lakehouse.versions(spark, path) == Seq(3, 4))
  }

  test("expireVersions sweeps STALE orphaned __stage_* attempts but " +
    "leaves fresh (possibly in-flight) ones alone (ADVICE r11)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("swp").toString + "/t"
    Lakehouse.writeVersion(spark, path, Seq((1L, "a")).toDF("k", "v"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a hard-killed writer's orphan (old mtime) and a live attempt
    val stale = new org.apache.hadoop.fs.Path(path, "__stage_dead")
    val fresh = new org.apache.hadoop.fs.Path(path, "__stage_live")
    fs.mkdirs(stale); fs.mkdirs(fresh)
    fs.setTimes(stale, System.currentTimeMillis() - 7200L * 1000, -1)
    Lakehouse.expireVersions(spark, path, keepLast = 1)
    assert(!fs.exists(stale), "stale stage dir must be swept")
    assert(fs.exists(fresh), "fresh stage dir must survive the sweep")
    assert(Lakehouse.versions(spark, path) == Seq(1))
  }

  test("commitVersion: a FAILED write job deletes its own stage dir " +
    "(ADVICE r11: no orphan per failed attempt)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("occ3").toString + "/t"
    Lakehouse.commitVersion(spark, path, 0, Seq((1L, "a")).toDF("k", "v"))
    val boom = Seq((1L, "x")).toDF("k", "v")
      .withColumn("v", org.apache.spark.sql.functions
        .raise_error(org.apache.spark.sql.functions.lit("boom")))
    intercept[Exception] {
      Lakehouse.commitVersion(spark, path, 1, boom)
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("__stage"))
    assert(leftovers.isEmpty, s"staging left behind: ${leftovers.toSeq}")
    // the ledger is untouched and the next commit lands normally
    assert(Lakehouse.versions(spark, path) == Seq(1))
    assert(Lakehouse.commitVersion(spark, path, 1,
      Seq((2L, "b")).toDF("k", "v")) == 2)
  }

  test("deletion vectors subtract on read without touching the base; " +
    "vacuum folds them in and clears the ledger") {
    import spark.implicits._
    val path = Files.createTempDirectory("dv").toString + "/t"
    val base = (1L to 10L).map(k => (k, s"r$k")).toDF("k", "v")
    base.write.parquet(s"$path/base")
    def baseFiles: Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$path/base")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).toSet
    }
    val before = baseFiles
    assert(Lakehouse.appendDeleteVector(spark, path,
      Seq(2L, 4L).toDF("k")) == 1)
    assert(Lakehouse.appendDeleteVector(spark, path,
      Seq(4L, 6L).toDF("k")) == 2) // overlapping delete is fine
    assert(Lakehouse.deleteVectorIds(spark, path) == Seq(1, 2))
    // merge-on-read subtracts; the base files are untouched
    val mor = Lakehouse.readMergeOnRead(spark, path, "k")
      .select("k").as[Long].collect().toSet
    assert(mor == Set(1L, 3L, 5L, 7L, 8L, 9L, 10L))
    assert(baseFiles == before, "a delete must not rewrite the base")
    // vacuum: same rows, zero vectors, base physically rewritten
    Lakehouse.vacuumDeletes(spark, path, "k")
    assert(Lakehouse.deleteVectorIds(spark, path).isEmpty)
    val after = Lakehouse.readMergeOnRead(spark, path, "k")
      .select("k").as[Long].collect().toSet
    assert(after == mor, "vacuum changed the visible row set")
    // the ledger restarts cleanly after a vacuum
    assert(Lakehouse.appendDeleteVector(spark, path,
      Seq(10L).toDF("k")) == 1)
    assert(Lakehouse.readMergeOnRead(spark, path, "k")
      .count() == 6L)
    // vacuum with no vectors is a no-op
    Lakehouse.vacuumDeletes(spark, path, "k")
    Lakehouse.vacuumDeletes(spark, path, "k")
    assert(Lakehouse.readMergeOnRead(spark, path, "k").count() == 6L)
  }

  test("commitVersion: stale expected version is refused; a racer's " +
    "claimed slot loses the rename CAS and leaves no staging behind") {
    import spark.implicits._
    val path = Files.createTempDirectory("occ").toString + "/t"
    val df1 = Seq((1L, "a")).toDF("k", "v")
    assert(Lakehouse.commitVersion(spark, path, 0, df1) == 1)
    // stale view: the ledger moved past v0
    intercept[java.util.ConcurrentModificationException] {
      Lakehouse.commitVersion(spark, path, 0, df1)
    }
    assert(Lakehouse.versions(spark, path) == Seq(1))
    // a racer mid-write holds v=2 without a marker: versions() does
    // not list it, so the pre-check passes — the rename CAS must
    // still refuse the slot and clean the staged copy
    val hp = new org.apache.hadoop.fs.Path(path, "v=2")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hp)
    intercept[java.util.ConcurrentModificationException] {
      Lakehouse.commitVersion(spark, path, 1, df1)
    }
    val leftovers = fs.listStatus(
      new org.apache.hadoop.fs.Path(path)).map(_.getPath.getName)
      .filter(_.startsWith("__stage"))
    assert(leftovers.isEmpty, s"staging left behind: ${leftovers.toSeq}")
    // clear the stale claim: the retry lands
    fs.delete(hp, true)
    assert(Lakehouse.commitVersion(spark, path, 1,
      Seq((2L, "b")).toDF("k", "v")) == 2)
    assert(Lakehouse.versions(spark, path) == Seq(1, 2))
    assert(Lakehouse.readLatest(spark, path)
      .as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("commitVersion: two writers staging CONCURRENTLY for the same " +
    "slot — the winner's snapshot is promoted intact, the loser " +
    "rebases, and neither attempt's staging survives") {
    import spark.implicits._
    val path = Files.createTempDirectory("occ2").toString + "/t"
    assert(Lakehouse.commitVersion(spark, path, 0,
      Seq((0L, "seed")).toDF("k", "v")) == 1)
    // both writers read latest=1 and race for v=2; a shared stage dir
    // would let the loser's Overwrite/cleanup corrupt the winner's
    // staged files — per-attempt staging makes the rename the only
    // shared point (ADVICE r10)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    def writer(tag: String, rows: Seq[(Long, String)]): Thread = {
      val t = new Thread(() => {
        barrier.await()
        try results.put(tag, Lakehouse.commitVersion(
          spark, path, 1, rows.toDF("k", "v")))
        catch { case e: java.util.ConcurrentModificationException =>
          results.put(tag, e) }
      })
      t.start(); t
    }
    val ta = writer("a", Seq((1L, "a"), (2L, "a")))
    val tb = writer("b", Seq((1L, "b"), (2L, "b")))
    ta.join(120000); tb.join(120000)
    val (ra, rb) = (results.get("a"), results.get("b"))
    val wins = Seq(ra, rb).count(_ == 2)
    assert(wins == 1, s"exactly one writer must win: a=$ra b=$rb")
    val winnerTag = if (ra == 2) "a" else "b"
    // the promoted snapshot is EXACTLY the winner's frame — no mixed
    // or partial content from the loser's concurrent stage
    val got = Lakehouse.readVersion(spark, path, 2)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, winnerTag), (2L, winnerTag)), s"got $got")
    // no staging directories survive either attempt
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("__stage"))
    assert(leftovers.isEmpty, s"staging left behind: ${leftovers.toSeq}")
    // the loser rebases on the new latest and lands v=3
    assert(Lakehouse.commitVersion(spark, path, 2,
      Seq((9L, "rebased")).toDF("k", "v")) == 3)
    assert(Lakehouse.versions(spark, path) == Seq(1, 2, 3))
  }

  test("commitVersion: a writer that reaches the rename after a racer " +
    "took the slot loses, though the rename nests its stage dir " +
    "inside the slot and returns true") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.slothide.impl", classOf[SlotHidingFs].getName)
    conf.setBoolean("fs.slothide.impl.disable.cache", true)
    val path = "slothide://" +
      Files.createTempDirectory("occ4").toString + "/t"
    assert(Lakehouse.commitVersion(spark, path, 0,
      Seq((0L, "seed")).toDF("k", "v")) == 1)
    assert(Lakehouse.commitVersion(spark, path, 1,
      Seq((1L, "winner")).toDF("k", "v")) == 2)
    // the loser read the ledger and checked the slot before the
    // winner's rename: both checks miss v=2 until a rename onto it
    SlotHidingFs.hidden = Some("v=2")
    try intercept[java.util.ConcurrentModificationException] {
      Lakehouse.commitVersion(spark, path, 1,
        Seq((1L, "loser")).toDF("k", "v"))
    } finally SlotHidingFs.hidden = None
    assert(Lakehouse.versions(spark, path) == Seq(1, 2))
    assert(Lakehouse.readVersion(spark, path, 2)
      .as[(Long, String)].collect().toSeq == Seq((1L, "winner")))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val stages = Seq(path, s"$path/v=2").flatMap(d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(d)).map(_.getPath.getName))
      .filter(_.startsWith("__stage"))
    assert(stages.isEmpty, s"staging left behind: $stages")
  }
}

/** The local file system under the `slothide` scheme, able to hide one
  * ledger slot (and everything under it) from `exists` until a rename
  * onto it: the view of a writer that checked the ledger just before a
  * racer's commit landed. */
class SlotHidingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("slothide:///")
  override def exists(f: org.apache.hadoop.fs.Path): Boolean =
    !SlotHidingFs.hidden.exists(slot =>
      Iterator.iterate(f)(_.getParent).takeWhile(_ != null)
        .exists(_.getName == slot)) && super.exists(f)
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (SlotHidingFs.hidden.contains(dst.getName)) SlotHidingFs.hidden = None
    super.rename(src, dst)
  }
}

object SlotHidingFs {
  @volatile var hidden: Option[String] = None
}
