package graft.io

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Date-partitioned parquet layout — the lakehouse form of the
  * reference's daily slicing (SURVEY §1.4 option b): the run-date
  * predicate becomes PARTITION PRUNING (directories never listed)
  * instead of a row filter, which is the only version of "incremental
  * extract" that survives 100 TB.
  */
object Lakehouse {

  /** Morton (Z-order) code of two non-negative dimension values: the
    * low `bits` of each interleave into one long (a bit of `a` in the
    * even positions, `b` odd). Range-sorting by this code clusters
    * rows so BOTH dimensions' per-file min/max stay narrow — parquet
    * row-group statistics then skip files for predicates on EITHER
    * column, where a plain sort only serves its leading column. Pure
    * codegen'd bit arithmetic, replicable in any SQL engine. */
  def morton2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "morton2 supports 1..31 bits/dim")
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a, i).bitwiseAND(1L), 2 * i)
      val bbit = shiftleft(shiftright(b, i).bitwiseAND(1L), 2 * i + 1)
      abit.bitwiseOR(bbit)
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** Z-order write: range-sort by the Morton code of two columns so
    * each output file covers a small rectangle of the (c1, c2) space.
    * `repartitionByRange` is the multi-file form (N files, disjoint
    * z-ranges); parquet min/max stats do the rest at read time. */
  def writeZOrdered(
      df: DataFrame,
      c1: String,
      c2: String,
      path: String,
      nFiles: Int = 8,
      bits: Int = 16): Unit =
    df.withColumn("__z", morton2(col(c1), col(c2), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Per-file min/max of long-typed columns harvested from parquet
    * footers — the data-skipping index a lakehouse table format
    * (Delta/Iceberg) persists in its manifest, derived here directly
    * from the files' own row-group statistics. Driver-side footer
    * reads: O(nFiles) metadata fetches, no data pages touched — a
    * control-plane cost (production amortizes it by writing the stats
    * into a manifest at write time; this derives the same numbers on
    * demand). Columns with missing/empty stats in any block yield no
    * entry, so [[readWithFileSkipping]] keeps the file (skipping must
    * be sound, never lossy). */
  def parquetFileStats(
      spark: SparkSession,
      path: String,
      cols: Seq[String]): Seq[(String, Map[String, (Long, Long)])] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(conf)
    fs.listStatus(hPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala
          val perCol = cols.flatMap { c =>
            val colStats = blocks.map(b =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .map(_.getStatistics)
                .filter(s => s != null && s.hasNonNullValue))
            // every block must carry stats for the column, else skip it
            if (colStats.isEmpty || colStats.exists(_.isEmpty)) None
            else {
              val mins = colStats.flatten.map(
                _.genericGetMin.asInstanceOf[Number].longValue)
              val maxs = colStats.flatten.map(
                _.genericGetMax.asInstanceOf[Number].longValue)
              Some(c -> (mins.min, maxs.max))
            }
          }.toMap
          st.getPath.toString -> perCol
        } finally reader.close()
      }
  }

  /** Stats-pruned parquet read: keep only the files whose per-column
    * [min, max] intersects EVERY predicate range in `ranges`
    * (inclusive bounds), and return (frame over kept files, total
    * files, kept files). Soundness: a file is skipped only when its
    * own statistics prove no row can match, so the kept set plus the
    * caller's residual row filter returns exactly the rows a full
    * scan would — pruning changes IO, never results. This is what
    * makes [[writeZOrdered]] pay off: z-clustering keeps BOTH
    * dimensions' per-file ranges narrow, so a 2-D rectangle predicate
    * skips most files where a single-column sort serves only its
    * leading column. */
  def readWithFileSkipping(
      spark: SparkSession,
      path: String,
      ranges: Map[String, (Long, Long)]): (DataFrame, Int, Int) = {
    val stats = parquetFileStats(spark, path, ranges.keys.toSeq)
    val kept = stats.collect {
      case (file, st) if ranges.forall { case (c, (lo, hi)) =>
        st.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      } => file
    }
    val df =
      if (kept.isEmpty)
        spark.read.parquet(path).filter(org.apache.spark.sql.functions.lit(false))
      else spark.read.parquet(kept: _*)
    (df, stats.size, kept.size)
  }

  /** Hive-style partitioned parquet write with small-file discipline:
    * repartitioning ON the partition columns first lands each
    * partition's rows in one task, so the layout is one file per
    * partition instead of tasks×partitions fragments — at 100 TB the
    * difference between a prunable table and a small-file explosion.
    * Readers filtering on the partition columns scan only matching
    * directories (`PartitionFilters` in the plan; no data files of
    * other partitions are even listed). */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partCols: Seq[String]): Unit =
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Upsert a batch into a partitioned parquet table, rewriting ONLY
    * the partitions the batch touches — the lakehouse MERGE for plain
    * parquet (no table format): at 100 TB a daily batch touches a few
    * date partitions and the other ~3,650 must not be read OR
    * rewritten. Mechanics: read the target restricted to the touched
    * partition values (a semi-join that prunes at the file index —
    * untouched partitions are never scanned), keep only rows whose key
    * is absent from the batch (batch wins — last-write), union the
    * batch, and write with DYNAMIC partition-overwrite mode so only
    * touched partition directories are replaced. The merged frame is
    * localCheckpoint-ed first: it both cuts the self-read lineage
    * (Spark refuses to overwrite a path it is reading) and
    * materializes the result before any target file is deleted (at
    * cluster scale point the checkpoint dir at reliable storage).
    * Idempotent: re-merging the same batch is a no-op on content.
    *
    * Key uniqueness is the same contract as every upsert sink: `batch`
    * unique on `keyCols`; the target stays unique if it starts so.
    * A key's PARTITION VALUE must be stable across versions (the
    * date-partitioned-entity norm): an update that moves a key to a
    * new partition would leave the old partition's row in place,
    * since only touched partitions are read — route partition-moving
    * updates through a delete-bearing CDC apply instead. */
  def mergeIntoPartitioned(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty && partCols.nonEmpty,
      "mergeIntoPartitioned needs key and partition columns")
    val touched = batch.select(partCols.map(col): _*).distinct()
    val existing = spark.read.parquet(path)
      .join(broadcast(touched), partCols, "left_semi")
    val merged = existing
      .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(batch.select(existing.columns.toIndexedSeq.map(col): _*))
      .localCheckpoint(true)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(path)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Versioned snapshots with time travel — the dataset-versioning
    * primitive under [[graft.operators.Curation.snapshotDiff]]: every
    * write lands a COMPLETE new `v=<n>` snapshot directory, readers
    * pin any past version, and "latest" is derived, never stored.
    *
    * Commit protocol: completeness IS the `_SUCCESS` marker parquet
    * writes last — a crash mid-write leaves a marker-less directory
    * that [[versions]] ignores and the next [[writeVersion]]
    * overwrites (it picks max COMPLETE version + 1). No separate
    * latest-pointer file exists, so there is no window where the
    * pointer and the data disagree. At 100 TB each snapshot is an
    * ordinary parquet table: retention is directory deletion, and
    * incremental recomputation reads `snapshotDiff(v_n, v_{n+1})`. */
  def writeVersion(
      spark: SparkSession, path: String, df: DataFrame): Int = {
    val next = versions(spark, path).lastOption.getOrElse(0) + 1
    df.write.mode("overwrite").parquet(s"$path/v=$next")
    next
  }

  /** Optimistic-concurrency commit against the [[writeVersion]]
    * snapshot ledger: stage the full snapshot, then claim version
    * `expectedLatest + 1` with ONE atomic directory rename — if the
    * ledger moved past `expectedLatest` (a pre-check), or another
    * writer claims the same slot between check and rename, the commit
    * throws `ConcurrentModificationException` and the caller REBASES:
    * read the new latest, reapply the intent, retry. This is the
    * Delta/Iceberg commit-protocol shape on plain directories — the
    * rename is the compare-and-swap (atomic on HDFS-like stores),
    * the staged copy means a loser leaves no partial state behind.
    *
    * A rename onto an EXISTING directory does not fail on the local
    * file system or HDFS: it moves the source inside the target and
    * returns true. So a racer that claimed the slot between the
    * existence check and the rename shows up as this attempt's stage
    * dir nested at `v=<n>/__stage_<uuid>`; that is a lost race, and
    * the nested copy is deleted before the throw (readers never see
    * it: Spark skips `_`-prefixed paths).
    *
    * Each attempt stages under its OWN uuid-named directory, so the
    * rename is the single shared point: two writers that both pass
    * the pre-check never overwrite each other's staged files, the
    * CAS winner promotes exactly the snapshot it wrote, and the
    * loser's cleanup deletes only its own attempt directory
    * (a shared deterministic stage path would let the loser's
    * Overwrite or cleanup corrupt the winner's staged data in the
    * check→rename window — ADVICE r10).
    * Returns the committed version. */
  def commitVersion(
      spark: SparkSession, path: String, expectedLatest: Int,
      df: DataFrame): Int = {
    val latest = versions(spark, path).lastOption.getOrElse(0)
    if (latest != expectedLatest)
      throw new java.util.ConcurrentModificationException(
        s"commitVersion: ledger at v=$latest, expected v=$expectedLatest" +
          " — rebase and retry")
    val next = expectedLatest + 1
    val attempt = java.util.UUID.randomUUID().toString
    val stagePath = new org.apache.hadoop.fs.Path(s"$path/__stage_$attempt")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Any non-success path — a failed write job, a lost CAS race, an
    // interrupt between write and rename — deletes this attempt's
    // stage dir (ADVICE r11: orphaned attempts used to pile up until
    // a vacuum). A hard driver kill can still orphan one; the
    // [[expireVersions]] sweep collects those.
    var committed = false
    try {
      df.write.mode("overwrite").parquet(stagePath.toString)
      val target = new org.apache.hadoop.fs.Path(path, s"v=$next")
      val nested = new org.apache.hadoop.fs.Path(target, stagePath.getName)
      def lost = new java.util.ConcurrentModificationException(
        s"commitVersion: lost the race for v=$next — rebase and retry")
      if (fs.exists(target) || !fs.rename(stagePath, target)) throw lost
      if (fs.exists(nested)) {
        fs.delete(nested, true)
        throw lost
      }
      committed = true
      next
    } finally {
      if (!committed) {
        try fs.delete(stagePath, true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Complete (marker-bearing) snapshot versions, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(
        new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toInt)
      .sorted
  }

  /** Time-travel read of a pinned snapshot. */
  def readVersion(spark: SparkSession, path: String, v: Int): DataFrame = {
    require(versions(spark, path).contains(v),
      s"no complete version v=$v under $path")
    spark.read.parquet(s"$path/v=$v")
  }

  /** The newest complete snapshot. */
  def readLatest(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no complete versions under $path")
    readVersion(spark, path, vs.last)
  }

  /** How long a `__stage_*` directory must sit idle before
    * [[expireVersions]] sweeps it (one hour). The age guard keeps the
    * sweep from racing an IN-FLIGHT commit — a live attempt's stage dir
    * is seconds old; deleting it mid-rename could promote a partial
    * snapshot. */
  private val StaleStageMs = 3600L * 1000

  /** Snapshot retention: delete every complete version except the
    * last `keepLast` — the lifecycle chore that bounds snapshot
    * storage (each snapshot is a full parquet table, so retention IS
    * directory deletion; nothing references expired versions — the
    * ledger is the directory listing itself, see [[writeVersion]]).
    * Time travel to an expired version fails loudly afterwards.
    *
    * Also sweeps ORPHANED commit attempts: `__stage_*` directories
    * (hard-killed [[commitVersion]] writers) idle longer than
    * [[StaleStageMs]] are deleted. Returns the versions dropped,
    * ascending. */
  def expireVersions(
      spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val vs = versions(spark, path)
    val drop = vs.dropRight(keepLast)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"v=$v"), true)
    }
    if (fs.exists(hp)) {
      val cutoff = System.currentTimeMillis() - StaleStageMs
      fs.listStatus(hp).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("__stage_") &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    }
    drop
  }

  /** Compact a fragmented parquet directory to `nFiles` outputs —
    * small-file management, the perpetual lakehouse chore: a directory
    * with thousands of tiny files wastes scan tasks and footer reads.
    * Round-trips the data unchanged (coalesce, no shuffle). */
  def compact(spark: SparkSession, path: String, nFiles: Int): Unit = {
    val tmp = path + "__compact_tmp"
    spark.read.parquet(path).coalesce(nFiles)
      .write.mode("overwrite").parquet(tmp)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Swap via rename-aside, not delete-then-rename: every crash point
    // leaves a recoverable full copy (old under __compact_old or new
    // under __compact_tmp) instead of a window where `path` is gone
    // (ADVICE r3). Directory renames are atomic on HDFS-like stores.
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    if (fs.exists(old)) fs.delete(old, true) // leftover from a crash
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(s"compact: rename aside failed: $hPath")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hPath)) {
      fs.rename(old, hPath) // restore the canonical location
      throw new java.io.IOException(s"compact: swap-in failed: $tmp")
    }
    fs.delete(old, true)
  }

  // ---- merge-on-read deletion vectors -------------------------------
  //
  // A DELETE against an immutable parquet table should not rewrite
  // terabytes of base files to drop a few keys: the delete lands as a
  // tiny key-list file ("deletion vector", the Delta/Iceberg v2 idea
  // re-expressed as plain parquet), reads subtract it with an anti
  // join (broadcast-sized in practice — vectors are metadata next to
  // the base), and a VACUUM pays for the physical rewrite once,
  // folding all vectors into the base. Layout: `path/base/` holds the
  // data, `path/_deletes/d=N/` the numbered vectors (the writeVersion
  // _SUCCESS-marker discipline makes half-written vectors invisible).

  /** Append a deletion vector: `keys` (one column, the delete keys)
    * lands as `path/_deletes/d=<next>`. Returns the vector id. */
  def appendDeleteVector(
      spark: SparkSession, path: String, keys: DataFrame): Int = {
    val next = deleteVectorIds(spark, path).lastOption.getOrElse(0) + 1
    keys.write.mode("overwrite").parquet(s"$path/_deletes/d=$next")
    next
  }

  /** Complete (marker-bearing) deletion-vector ids, ascending. */
  def deleteVectorIds(spark: SparkSession, path: String): Seq[Int] = {
    val hp = new org.apache.hadoop.fs.Path(path, "_deletes")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d="))
      .filter(st => fs.exists(
        new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("d=").toInt)
      .sorted
  }

  /** Merge-on-read scan: the base table minus every complete
    * deletion vector, applied as ONE broadcast anti join on the
    * distinct delete keys (vectors are small by contract — a delete
    * that removes half the table should be a rewrite, not a
    * vector). */
  def readMergeOnRead(
      spark: SparkSession, path: String, keyCol: String): DataFrame = {
    val base = spark.read.parquet(s"$path/base")
    val ids = deleteVectorIds(spark, path)
    if (ids.isEmpty) base
    else {
      val dels = spark.read
        .parquet(ids.map(i => s"$path/_deletes/d=$i"): _*)
        .select(col(keyCol)).distinct()
      base.join(broadcast(dels), Seq(keyCol), "left_anti")
    }
  }

  /** VACUUM: fold every deletion vector into the base (the
    * merge-on-read → copy-on-write compaction), then clear
    * `_deletes/`. Swap is the [[compact]] rename-aside idiom — every
    * crash point leaves a recoverable full copy. After vacuum,
    * [[readMergeOnRead]] returns the same rows with zero vectors to
    * subtract. */
  def vacuumDeletes(
      spark: SparkSession, path: String, keyCol: String): Unit = {
    if (deleteVectorIds(spark, path).isEmpty) return
    val basePath = s"$path/base"
    val tmp = basePath + "__vacuum_tmp"
    readMergeOnRead(spark, path, keyCol)
      .write.mode("overwrite").parquet(tmp)
    val hBase = new org.apache.hadoop.fs.Path(basePath)
    val fs = hBase.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(basePath + "__vacuum_old")
    if (fs.exists(old)) fs.delete(old, true) // leftover from a crash
    if (!fs.rename(hBase, old))
      throw new java.io.IOException(s"vacuum: rename aside failed: $hBase")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hBase)) {
      fs.rename(old, hBase) // restore the canonical location
      throw new java.io.IOException(s"vacuum: swap-in failed: $tmp")
    }
    fs.delete(old, true)
    // vectors last: a crash before this leaves them applied twice,
    // which the anti join makes idempotent (delete of a deleted key)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_deletes"), true)
  }
}
