package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}

/** Structured Streaming surface of the engine: the daily-batch
  * semantics of the reference re-expressed as streams, plus the
  * training-pipeline stateful operators.
  *
  * Design (brief: "readStream → transforms → writeStream; watermarks +
  * windowed aggs; mapGroupsWithState for custom state"):
  *  - the file source replays a directory of parquet drops — the
  *    streaming twin of the reference's daily extract; with
  *    `Trigger.AvailableNow` a run drains everything pending and stops,
  *    which IS the reference's catchup loop (O1) without the scheduler.
  *    [[runAvailableNow]] is the one drain: it names its own memory
  *    sink and runs every drain on one fixed conf (see its doc);
  *  - watermarked windowed aggregation gives the per-window counts the
  *    reference computes per-day (A1/A2), incrementally;
  *  - `flatMapGroupsWithState` carries per-key state across batches —
  *    the streaming form of the upsert target (latest row per key).
  *    Every state runs `GroupStateTimeout.NoTimeout`: the twins are
  *    bounded AvailableNow drains, so no key is held long enough to
  *    need an eviction policy, and a state's drain counter is the
  *    plain per-key sequence 1, 2, 3, …. Keyed counts, sums and
  *    maxes (moments and HLL registers included) are all
  *    [[cumulativeState]] instances; every order-dependent fold
  *    (sessions, n-grams, funnel, budget, near-dup bands) is a step
  *    of the one [[orderedReplay]]. The top-k, CDC, basket, KMV,
  *    MMD and front-max states keep their own folds. Each operator
  *    takes its session from its input frame.
  *
  * At 100 TB the same topology holds: state is hash-partitioned by key
  * across executors (RocksDB state store in production), and the file
  * source scales by listing partitioned directories.
  */
object Streams {

  /** events.parquet physical schema, current generator layout — `ts`
    * is parquet TIMESTAMP(MICROS), isAdjustedToUTC=false, which Spark
    * surfaces as TIMESTAMP_NTZ. A file stream needs the schema pinned
    * up front, so [[eventsStream]] probes the directory's footers
    * (cheap batch schema read) and picks this or the legacy
    * NANOS-as-long variant — the streaming twin of `Tables.events`'
    * loaded-type dispatch. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Legacy generator layout: parquet TIMESTAMP(NANOS), surfaced as a
    * raw long under `spark.sql.legacy.parquet.nanosAsLong=true`. */
  val eventsSchemaNanos: StructType = StructType(
    eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** Footer-only schema probe of the parquet files under (dir, glob),
    * memoized per (session, dir, glob): 41 stream twins each probed
    * the same immutable footer — listing + schema read per query for a
    * fact that cannot change within a run (the `Tables.load` memo
    * rationale). Per session, not per JVM: the probed schema depends on
    * the probing session's parquet conf (`nanosAsLong` decides between
    * `LongType` and the NANOS error), so one session's probe must not
    * answer for another.
    *
    * ASSUMPTION (documented per VERDICT r16 item 6): the files under
    * (dir, glob) are schema-immutable for the lifetime of a session —
    * the testdata contract. Regenerated inputs need a fresh
    * session. */
  private val probes =
    new graft.core.SessionMemo[StructType](graft.core.Tables.MemoEntries)
  private def probe(spark: SparkSession, dir: String, glob: String,
      required: String*): StructType = {
    // NUL cannot occur in a path, so the key is unambiguous
    val probed = probes.getOrElseUpdate(spark, s"$dir\u0000$glob",
      graft.core.Tables.explainNanos(s"$dir/$glob")(
        spark.read.option("pathGlobFilter", glob).parquet(dir).schema))
    require(required.forall(probed.fieldNames.contains),
      s"$dir/$glob lacks ${required.mkString("/")}: " +
        probed.fieldNames.mkString(","))
    probed
  }

  /** File stream over (dir, glob) pinned to `schema`; `maxFilesPerTrigger`
    * >0 caps files per micro-batch — lets tests drive a multi-batch
    * drain (one file = one batch) through the stateful operators. */
  private def fileStream(spark: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Int, schema: StructType): DataFrame = {
    val r = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r).parquet(dir)
  }

  /** Streaming read of an events directory (the driver testdata file
    * works as a one-file stream); emits the same shape as
    * `Tables.events`: micro-truncated `ts` + exact `ts_ns`. Both
    * physical layouts (MICROS / legacy NANOS-as-long) are handled by
    * probing the footer type before the stream starts. */
  def eventsStream(
      spark: SparkSession,
      dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    // Which physical ts layout does this directory hold? (A stream
    // pinned to the wrong schema would fail or misread at runtime.)
    val nanosLayout = probe(spark, dir, glob, "ts")("ts").dataType == LongType
    val raw = fileStream(spark, dir, glob, maxFilesPerTrigger,
      if (nanosLayout) eventsSchemaNanos else eventsSchema)
    val shaped =
      if (nanosLayout)
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      else
        // NTZ→session-TZ cast is lossless under the pinned UTC zone;
        // micros data makes unix_micros·1000 the exact nano value —
        // the same shape Tables.events emits
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    shaped.select("event_id", "ts_ns", "user_id", "event_type",
      "value", "props", "ts")
  }

  /** How late an event may arrive behind the newest one and still
    * count in [[windowedCounts]] and [[slidingWindowCounts]]. */
  private val WindowWatermark = "10 minutes"

  /** Watermarked 5-minute windowed aggregation per event type — the
    * incremental form of the engine's q_event_windows batch query.
    * Late data beyond [[WindowWatermark]] is dropped deterministically. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WindowWatermark)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("value_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"),
        round(col("value_sum").cast(DoubleType), 4).as("value_sum"))

  private val SlidingWindowSize = "10 minutes"
  private val SlidingWindowSlide = "5 minutes"

  /** SLIDING watermarked windows — [[windowedCounts]]'s overlapping
    * sibling: every event lands in size/slide windows (10 min / 5 min
    * ⇒ two), giving the smoothed rolling view a tumbling bucket
    * staircases. Same deterministic late-drop, same emit shape; the
    * batch oracle replays each event into its ⌈size/slide⌉ covering
    * window starts. */
  def slidingWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WindowWatermark)
      .groupBy(window(col("ts"), SlidingWindowSize, SlidingWindowSlide),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("value_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"),
        round(col("value_sum").cast(DoubleType), 4).as("value_sum"))

  final case class TopKState(updates: Long, top: Seq[(Double, Long)])
  final case class TopKOut(
      g: String, updates: Long, rank: Int, value: Double, event_id: Long)

  /** Streaming per-key top-k by (value DESC, event_id ASC), carried
    * across micro-batches as bounded keyed state (k entries per key —
    * O(k) state regardless of stream length, the mergeable-sketch
    * discipline applied to a leaderboard). Each batch merges its
    * candidates into the carried list and RE-emits the key's current
    * top-k tagged with a monotone `updates` counter; consumers keep
    * the rows with the max counter per key (the sessionCountsState
    * latest-wins drain pattern). The merge is a pure function of the
    * candidate MULTISET — batch order and in-batch order cannot
    * change it — so the drained leaderboard must equal the batch
    * window top-k, whatever the file-to-batch split. */
  def topKPerKeyState(
      events: DataFrame,
      k: Int = 3): Dataset[TopKOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(k >= 1 && k <= 100, s"k out of range: $k")
    events
      .select(col("event_type").as[String],
        struct(col("value"), col("event_id")).as("e"))
      .as[(String, (Double, Long))]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[(String, (Double, Long))],
         state: GroupState[TopKState]) =>
          val prev = state.getOption.getOrElse(TopKState(0L, Seq.empty))
          val merged = (prev.top ++ rows.map(_._2))
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          val next = TopKState(prev.updates + 1L, merged)
          state.update(next)
          merged.iterator.zipWithIndex.map { case ((v, id), i) =>
            TopKOut(g, next.updates, i + 1, v, id)
          }
      }
  }

  /** Streaming per-key running moments (count / Σv / Σv²) — the
    * incremental column profile: after any prefix of the stream, each
    * key's mean and variance are available without rescanning
    * history. A [[cumulativeState]] instance keyed by `g` =
    * `event_type`, so the sums are EXACT integers and the fold is
    * associative and commutative — the file-to-batch split cannot
    * move a bit, and the drained state equals the batch aggregate
    * exactly (a Welford-style double recurrence would be
    * order-dependent and drift across batch boundaries):
    *
    *  - values quantize to 4-dp scaled longs BEFORE the state fold
    *    (`t = floor(v·10⁴ + 0.5)` — the corrMatrix quantization);
    *  - `s` = Σt accumulates as one long (≤ 10¹³ at 2M rows of ≤ 500);
    *  - Σt² accumulates in TWO LONG LIMBS base 10⁹, `hi` = Σ(t² div
    *    10⁹) and `lo` = Σ(t² % 10⁹) (per-row squares reach 2.5·10¹³;
    *    their sum overflows a single long at corpus scale — the
    *    corrMatrix two-limb discipline in state form).
    *
    * Output (g, updates, n, s, hi, lo); consumers keep the latest row
    * per key ([[latest]]) and reassemble mean/variance from the exact
    * integers. A NULL value counts in `n` and adds 0 to the sums —
    * SQL's `count(*)` and `sum`. O(1) state per key. */
  def runningMomentsState(events: DataFrame): DataFrame =
    cumulativeState(
      events.withColumn("__t",
        floor(col("value") * 10000 + lit(0.5)).cast(LongType)),
      Seq(col("event_type").as("g")),
      Seq(lit(1L).as("n"), col("__t").as("s"),
        expr("(__t * __t) div 1000000000").as("hi"),
        expr("(__t * __t) % 1000000000").as("lo")))

  final case class CdcState(
      updates: Long, tsNs: Long, id: Long, op: String, value: Double)
  final case class CdcOut(
      user_id: Long, updates: Long, ts_ns: Long, event_id: Long,
      op: String, value: Double)

  /** Streaming changelog materialization: per-key LAST-WRITER-WINS
    * with tombstones, carried across micro-batches — the reference's
    * core upsert semantics (S7, conditional LWW MERGE) plus the
    * delete verb, as a STREAM. Each key's state is its single winning
    * version: the row with the greatest (ts_ns, event_id); an `op` of
    * `D` marks the key a tombstone (consumers drop it), any other op
    * upserts. The batch twin is `Upsert.applyChangelog`
    * (q_cdc_apply's greatest-seq-wins + D-removes semantics).
    *
    * State is O(1) per key — one version, the mergeable-sketch
    * discipline — and the winner is the MAX of the per-batch winners
    * under the same total order, an associative/commutative fold, so
    * the file-to-batch split cannot change the materialized table
    * (pinned by StreamsSpec's two-file drain, including a LATE delete
    * that must lose to a newer upsert). Every touched key re-emits
    * its current version tagged with a monotone `updates` counter;
    * consumers keep the max-counter row per key (the
    * [[topKPerKeyState]] latest-wins drain pattern).
    *
    * At 100 TB: the stream shuffles once on the key per micro-batch,
    * state is one row per live key, and the drained table IS the
    * target — no staging table, no per-batch MERGE round-trip. */
  def cdcLatestState(changes: DataFrame): Dataset[CdcOut] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .select(col("user_id").as[Long],
        struct(col("ts_ns"), col("event_id"), col("op"), col("value"))
          .as("e"))
      .as[(Long, (Long, Long, String, Double))]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[(Long, (Long, Long, String, Double))],
         state: GroupState[CdcState]) =>
          val prev = state.getOption.getOrElse(
            CdcState(0L, Long.MinValue, Long.MinValue, "", 0.0))
          val best = rows.foldLeft(prev) {
            case (acc, (_, (ts, id, op, v))) =>
              if (ts > acc.tsNs || (ts == acc.tsNs && id >= acc.id))
                acc.copy(tsNs = ts, id = id, op = op, value = v)
              else acc
          }
          val next = best.copy(updates = prev.updates + 1L)
          state.update(next)
          Iterator(CdcOut(k, next.updates, next.tsNs, next.id,
            next.op, next.value))
      }
  }

  /** The one ordered per-key replay behind every state whose fold
    * depends on event ORDER (sessions, n-gram census, funnel, budget
    * admission, near-dup bands): `rows` group by `key`; each touched
    * key's micro-batch rows sort in memory by `sortKey` (a total
    * order), and `step` folds them over the key's carried state
    * (`init` for a key never seen), returning the next state and the
    * rows to emit. Update mode, `NoTimeout`.
    *
    * Replay discipline: batches are assumed `sortKey`-ordered across
    * files (the daily-extract and ingest-sequence shapes), so a fold
    * that links the last row of one micro-batch to the first of the
    * next through the carried state sees the same sequence the batch
    * operator sees, and the drained result equals the batch replay
    * whatever the file-to-batch split. A late row older than the
    * carried state appends after it rather than retroactively
    * splicing into history.
    *
    * 100 TB notes: state is hash-partitioned by key across executors,
    * and the in-memory sort is bounded by one key's rows per
    * micro-batch. `step` must build its emissions eagerly: the state
    * is written before they are read. */
  private def orderedReplay[R, K: Encoder, T: Ordering, S: Encoder,
      O: Encoder](rows: Dataset[R])(key: R => K, sortKey: R => T,
      init: S)(step: (K, S, Seq[R]) => (S, Iterable[O])): Dataset[O] =
    rows.groupByKey(key).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (k: K, it: Iterator[R], state: GroupState[S]) =>
        val (next, out) = step(k, state.getOption.getOrElse(init),
          it.toSeq.sortBy(sortKey))
        state.update(next)
        out.iterator
    }

  /** One event of a per-user replay: (user_id, ts µs, event_id,
    * event_type). The id is optional because sessions never needed
    * one; a NULL type stays NULL. */
  private type UserEvent = (Long, Long, Option[Long], String)

  /** [[orderedReplay]] per user, each batch in the (ts, event_id)
    * total order of the batch operators. */
  private def userReplay[S: Encoder, O: Encoder](events: DataFrame,
      init: S)(step: (Long, S, Seq[UserEvent]) => (S, Iterable[O]))
      : Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._
    // integer division: ts_ns exceeds 2^53, a double round-trip would
    // corrupt the microsecond value
    orderedReplay(events.select(col("user_id"), expr("ts_ns div 1000"),
      col("event_id"), col("event_type")).as[UserEvent])(
      _._1, e => (e._2, e._3), init)(step)
  }

  final case class SessionOut(user_id: Long, session_start_us: Long, n: Long)

  /** The open trailing session carried across micro-batches; `n` = 0
    * before a user's first event. */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  /** The inactivity gap that closes a [[sessionCountsState]] session:
    * 10 minutes, in microseconds. */
  private val SessionGapUs = 10 * 60 * 1000L * 1000L

  /** Gap-based streaming sessionization, a [[userReplay]]. Spark's
    * built-in `session_window` only streams in APPEND mode, which
    * emits a session only after the watermark passes its close: in a
    * bounded drain (AvailableNow) the final sessions can never flush.
    * This operator instead emits every session the micro-batch
    * touched immediately, keyed by `(user_id, session_start_us)` —
    * update-mode semantics: a session extended by a later batch is
    * RE-emitted under the same key with a larger `n`, so consumers
    * take the latest (= max) `n` per key. The carried [[OpenSession]]
    * makes a session spanning two micro-batches ONE session.
    *
    * Break rule matches the batch `session_window` exactly: a gap ≥
    * [[SessionGapUs]] starts a new session, compared at MICROsecond
    * precision (the grain of the batch query's `ts`). */
  def sessionCountsState(events: DataFrame): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    userReplay(events, OpenSession(0L, 0L, 0L)) { (user, open, evs) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      val cur = evs.foldLeft(open) { case (c, (_, t, _, _)) =>
        if (c.n > 0 && t - c.lastUs < SessionGapUs)
          OpenSession(c.startUs, math.max(c.lastUs, t), c.n + 1L)
        else {
          if (c.n > 0) out += SessionOut(user, c.startUs, c.n) // closed
          OpenSession(t, t, 1L)
        }
      }
      out += SessionOut(user, cur.startUs, cur.n) // current extent
      (cur, out)
    }
  }

  /** Per-batch n-gram census increment (see [[ngramCountsState]]):
    * the gram's event types, oldest first, NULLs kept. */
  final case class PathInc(gram: Seq[String], n_inc: Long)

  /** Streaming order-`n` n-gram census of each user's event types, a
    * [[userReplay]] — the incremental form of
    * [[graft.operators.Stats.transitionMatrix]] (n = 2) and
    * [[graft.operators.Stats.pathMining]]'s census (n = 3; the top-k
    * cut and shares happen on the drained sums, where the TOTAL is
    * known). Per user the carried last n−1 types span the batch
    * boundary, so a gram whose events straddle micro-batches counts
    * exactly once. Emits per-batch increments of EVERY length-n
    * window, a NULL type kept as a NULL element; each consumer drops
    * the windows its batch twin drops (the matrix: a NULL first
    * type; paths: any NULL). Downstream sums the increments. */
  def ngramCountsState(events: DataFrame, n: Int): Dataset[PathInc] = {
    require(n >= 2, s"an n-gram needs n >= 2: $n")
    val spark = events.sparkSession
    import spark.implicits._
    userReplay(events, Array.empty[String]) { (_, carried, evs) =>
      val counts = scala.collection.mutable.Map.empty[Seq[String], Long]
      val last = evs.foldLeft(carried.toVector) { case (w0, (_, _, _, tpe)) =>
        val w = w0 :+ tpe
        if (w.size == n) counts(w) = counts.getOrElse(w, 0L) + 1L
        w.takeRight(n - 1)
      }
      (last.toArray, counts.map { case (g, k) => PathInc(g, k) })
    }
  }

  /** Latest per-user funnel chain after each touching batch: stage
    * completion times in epoch micros, −1 = stage not reached;
    * `updates` is the monotone keep-the-max drain counter. */
  final case class FunnelStage(user_id: Long, updates: Long,
      t1: Long, t2: Long, t3: Long)

  /** Streaming anchored-earliest funnel, a [[userReplay]] — conversion
    * tracking AT INGEST: each user carries (t1, t2, t3), the
    * completion times of the three-step chain (first step-1 event;
    * first step-2 event STRICTLY after t1; first step-3 strictly
    * after t2 — exactly the batch q_funnel contract), across
    * micro-batches as three longs. The strictly-later requirement
    * means same-timestamp steps never advance the chain, matching the
    * batch operator's `>` comparisons whatever the within-timestamp
    * processing order. */
  def funnelStageState(
      events: DataFrame,
      steps: Seq[String]): Dataset[FunnelStage] = {
    require(steps.size == 3 && steps.distinct.size == 3,
      s"funnelStageState needs 3 distinct steps, got $steps")
    val spark = events.sparkSession
    import spark.implicits._
    userReplay(events, (0L, -1L, -1L, -1L)) { (u, carried, evs) =>
      var (pu, t1, t2, t3) = carried
      evs.foreach { case (_, ts, _, tpe) =>
        if (tpe == steps(0)) { if (t1 < 0) t1 = ts }
        else if (tpe == steps(1)) {
          if (t1 >= 0 && ts > t1 && t2 < 0) t2 = ts
        } else if (tpe == steps(2)) {
          if (t2 >= 0 && ts > t2 && t3 < 0) t3 = ts
        }
      }
      ((pu + 1L, t1, t2, t3), Seq(FunnelStage(u, pu + 1L, t1, t2, t3)))
    }
  }

  /** Per-batch basket-census increment (see [[assocSetState]]):
    * kind ∈ {user, item, pair}. */
  final case class AssocInc(kind: String, a: String, b: String,
      n_inc: Long)

  /** The distinct items a basket has accumulated so far. */
  final case class ItemSet(items: Seq[String])

  /** Streaming market-basket census — the incremental form of
    * [[graft.operators.Stats.assocRules]]'s counting stage (the ppm
    * metrics happen on the drained sums, where the totals are
    * known). Each user's distinct-item SET carries across
    * micro-batches; a batch's events add only the items the user has
    * never produced, and each NEW item emits its ordered pair
    * increments against the items already held — so after any drain
    * the summed pair counts equal the batch operator's
    * distinct-(user, item) self-join, however the events were split
    * into batches (set semantics: arrival order cannot matter). A
    * first-ever event also emits the basket-count increment the
    * support denominators need.
    *
    * State per user is its distinct item vector — bounded by the
    * item vocabulary (event types, provenance labels), NOT by event
    * volume; hash-partitioned by user across executors. */
  def assocSetState(events: DataFrame): Dataset[AssocInc] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id").as[Long], col("event_type").as[String])
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, String)],
         state: GroupState[ItemSet]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[AssocInc]
          if (!state.exists) out += AssocInc("user", "", "", 1L)
          var cur = state.getOption.map(_.items.toSet)
            .getOrElse(Set.empty[String])
          rows.foreach { case (_, tpe) =>
            if (!cur.contains(tpe)) {
              out += AssocInc("item", tpe, "", 1L)
              cur.foreach { j =>
                out += AssocInc("pair", tpe, j, 1L)
                out += AssocInc("pair", j, tpe, 1L)
              }
              cur = cur + tpe
            }
          }
          state.update(ItemSet(cur.toSeq.sorted))
          out.iterator
      }
  }

  private val DedupWatermark = "1 hour"

  /** Streaming exact deduplication: first arrival per key survives,
    * later duplicates are suppressed, and — the part a plain streaming
    * `dropDuplicates` gets wrong at scale — state for a key is RELEASED
    * once the watermark passes it, so the state store holds only the
    * active horizon instead of growing forever. The streaming form of
    * the exact-dedup operator ([[graft.operators.Dedup.exact]]); at
    * 100 TB the state is hash-partitioned by key across executors.
    * Emits one deterministic row per distinct key per horizon (WHICH
    * duplicate survives is arrival-order-dependent — downstream
    * consumers should aggregate key-functional columns only). The
    * horizon is [[DedupWatermark]]. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .withWatermark("ts", DedupWatermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming read of a documents directory (the driver testdata file
    * works as a one-file stream). Schema is probed from the parquet
    * footers — cheap, and a layout drift fails HERE with the probe's
    * error instead of mid-stream. */
  def docsStream(
      spark: SparkSession,
      dir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame =
    fileStream(spark, dir, glob, maxFilesPerTrigger,
      probe(spark, dir, glob, "doc_id", "text"))

  private val EmbeddingsGlob = "embeddings.parquet"

  /** File stream over the embeddings table (the [[docsStream]]
    * shape): schema probed from a batch read, glob-pinned. */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    fileStream(spark, dir, EmbeddingsGlob, 0,
      probe(spark, dir, EmbeddingsGlob, "vec_id", "embedding", "label"))

  /** Cumulative keyed state — the one operator behind the keyed COUNT,
    * SUM and MAX monitors (histogram, vocab, DSIR, CMS, quantile-sketch,
    * AMS, SPRT, daily-sum, moments and HLL cells): per distinct key,
    * every `sums` column accumulates as a running Long sum and every
    * `maxes` column as a running Long max across micro-batches, and
    * each touched key re-emits its totals (update mode).
    *
    * Output: the key columns (every column the `keys` expressions
    * produce — a generator such as `explode` or `inline` may fan one
    * input row out to several keys), then `updates`, then one Long per
    * sum and then per max, named by its alias. A row count is just the
    * sum `lit(1L).as("n")`. SQL semantics for NULL: a NULL key is its
    * own group, and a NULL input leaves its value unchanged (the row
    * still counts in `n`). A sum starts at 0 and a max at 0 too, so a
    * max column suits non-negative values (HLL ranks).
    *
    * `updates` is the drain counter: the plain per-key sequence
    * 1, 2, 3, …, and the values only grow, so the max-counter row is
    * also the max-value row. Consumers keep the max-counter row per
    * key ([[latest]]) — the current truth on any sink, ordered or not.
    *
    * 100 TB notes: state is 1 + |sums| + |maxes| longs per key,
    * hash-partitioned by key across executors. flatMapGroupsWithState
    * gets no map-side combine, so the stream shuffles one row per
    * (input row, key) — at extreme rates pre-aggregate each
    * micro-batch first. */
  def cumulativeState(
      rows: DataFrame,
      keys: Seq[Column],
      sums: Seq[Column],
      maxes: Seq[Column] = Nil): DataFrame = {
    val named = rows.select(keys ++ sums ++ maxes: _*)
    val names = named.columns.toSeq
    require(!names.contains("updates") && names.distinct == names,
      "cumulativeState needs distinct output names: " + names.mkString(","))
    val (keyNames, valNames) =
      names.splitAt(names.length - sums.size - maxes.size)
    val in = named.select(keyNames.map(col) ++
      valNames.map(n => col(n).cast(LongType).as(n)): _*)
    val (nk, nv, ns) = (keyNames.length, valNames.length, sums.size)
    val keySchema = StructType(in.schema.take(nk))
    val outSchema = StructType(keySchema ++ ("updates" +: valNames)
      .map(StructField(_, LongType, nullable = false)))
    in.groupBy(keyNames.map(col): _*)
      .as(Encoders.row(keySchema), Encoders.row(in.schema))
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        // state: (updates, sum 1, …, sum ns, max 1, …)
        (key: Row, it: Iterator[Row], state: GroupState[Array[Long]]) =>
          val acc = state.getOption.getOrElse(new Array[Long](1 + nv))
          while (it.hasNext) {
            val r = it.next()
            var i = 0
            while (i < nv) {
              if (!r.isNullAt(nk + i)) {
                val v = r.getLong(nk + i)
                acc(1 + i) = if (i < ns) acc(1 + i) + v
                  else math.max(acc(1 + i), v)
              }
              i += 1
            }
          }
          acc(0) += 1L
          state.update(acc)
          Iterator(Row.fromSeq(key.toSeq ++ acc))
      }(rows.sparkSession.implicits.newLongArrayEncoder,
        Encoders.row(outSchema))
  }

  /** The max-counter drain: per key, the row with the greatest
    * `updates` — the current truth of every state that tags its
    * emissions with the drain counter ([[cumulativeState]] with its
    * instances, moments and HLL included, the funnel replay, and the
    * top-k, CDC, KMV, front-max and MMD states). One row per key: the
    * keys, then `updates`, then the remaining drained columns in their
    * order. */
  def latest(drained: DataFrame, keys: String*): DataFrame = {
    val rest = drained.columns.toSeq
      .filterNot(c => c == "updates" || keys.contains(c))
    drained.groupBy(keys.map(col): _*)
      .agg(max(struct(("updates" +: rest).map(col): _*)).as("__x"))
      .select(keys.map(col) :+ col("__x.*"): _*)
  }

  /** Streaming cumulative histogram — the state backbone of the drift
    * monitor: as documents arrive, each (group, bin) cell's count
    * accumulates across micro-batches and the refreshed total is
    * re-emitted. Binning is [[graft.operators.Stats.binExpr]], the
    * SAME expression the batch PSI uses (rows without a bin drop), so
    * a drained stream's latest counts equal the batch
    * [[graft.operators.Stats.binCounts]] exactly and the shared PSI
    * tail ([[graft.operators.Stats.psiFromBinCounts]]) yields the
    * identical drift verdict — that equality is the q_stream_drift
    * gate. Output (g, bin, updates, n); state is one cell per
    * (group, bin) — |groups|·nBins cells TOTAL regardless of corpus
    * size. */
  def histogramCountsState(
      rows: DataFrame,
      valueCol: String,
      groupCol: String,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    val bin = graft.operators.Stats.binExpr(valueCol, lo, hi, nBins)
    cumulativeState(rows.filter(bin.isNotNull),
      Seq(col(groupCol).cast(StringType).as("g"), bin.as("bin")),
      Seq(lit(1L).as("n")))
  }

  /** Streaming cumulative per-(half, token) counts — the state
    * backbone of the TRENDING-TOKEN monitor (VERDICT r9 item 5): each
    * token occurrence bumps its (late, w) cell across micro-batches.
    * Tokenization is [[graft.operators.TextAnalysis.tokens]] over the
    * lowercased text, the SAME expression the batch
    * [[graft.operators.TextAnalysis.trendingTokens]] uses, so a
    * drained stream's latest counts pivot into exactly the batch
    * (w, c_early, c_late) frame and the shared scoring tail
    * ([[graft.operators.TextAnalysis.trendingFromCounts]]) yields the
    * identical rising/falling table — the q_stream_trending gate.
    * Output (late, w, updates, n); state is one cell per distinct
    * (half, token), growing with the crawl's vocabulary. */
  def tokenCountsState(
      docs: DataFrame,
      lateFlag: Column,
      text: Column): DataFrame =
    cumulativeState(docs,
      Seq(lateFlag.cast(BooleanType).as("late"),
        explode(graft.operators.TextAnalysis.tokens(lower(text)))
          .as("w")),
      Seq(lit(1L).as("n")))

  /** Streaming DSIR bucket counts — the importance model UPDATING AT
    * INGEST: each arriving document's hashed-bigram bag bumps its
    * buckets' (raw, target) counters across micro-batches, so the
    * log-ratio table a selection pass needs is live while the crawl
    * drop lands. Hashing is [[graft.operators.TextAnalysis.dsirGrams]]
    * — ONE definition with the batch scorer — and both counters are
    * associative integer folds, so the drained latest counts equal
    * the batch bucket frame bit for bit whatever the file-to-batch
    * split: feeding them to [[graft.operators.TextAnalysis.dsirScore]]
    * reproduces the batch selection exactly (the q_stream_dsir gate).
    * A NULL target flag counts as non-target, exactly the batch
    * `when(__t, 1).otherwise(0)`. Output (b, updates, cr, ct); state
    * is ≤ `buckets` cells TOTAL regardless of corpus size. */
  def dsirBucketCountsState(
      docs: DataFrame,
      isTarget: Column,
      text: Column,
      buckets: Int = graft.operators.TextAnalysis.DsirBuckets): DataFrame =
    // the doc id rides along only because dsirGrams carries one
    cumulativeState(
      graft.operators.TextAnalysis.dsirGrams(docs, "doc_id", text,
        isTarget, buckets),
      Seq(col("__b").as("b")),
      Seq(lit(1L).as("cr"), col("__t").cast(LongType).as("ct")))

  /** Streaming count-min sketch — cumulative cell counts in keyed
    * state: each arriving key occurrence bumps its `depth` cells
    * across micro-batches. Cells use the SAME hashing as the batch
    * [[graft.operators.Stats.countMinSketch]] (polyHash key, affine
    * row j, mod width), and counts are count-distributive, so a
    * drained stream's latest cells equal the batch sketch exactly and
    * the shared [[graft.operators.Stats.cmsEstimate]] + heavy-hitter
    * cut yield the identical table — the q_stream_heavy_hitters gate.
    * Output (depth, bucket, updates, n); state is depth · width
    * longs TOTAL — the smallest footprint of any monitor here
    * (4 · 2^20 at production width). */
  def cmsCellsState(
      rows: DataFrame,
      key: Column,
      depth: Int = 4,
      width: Int = 1 << 20): DataFrame = {
    import graft.operators.Dedup
    require(depth > 0 && width > 0)
    cumulativeState(rows.withColumn("__h", Dedup.polyHash(key)),
      Seq(inline(array((0 until depth).map(j =>
        struct(lit(j).as("depth"),
          (pmod(col("__h") * Dedup.affineA(j) + Dedup.affineB(j),
            lit(Dedup.PortableMod)) % width).as("bucket"))): _*))),
      Seq(lit(1L).as("n")))
  }

  /** Streaming AMS F₂ state — the self-join-size monitor AT INGEST:
    * each depth row carries ONE signed sum S_j = Σ σ_j(key) across
    * micro-batches (the [[graft.operators.Stats.amsSigma]] ±1 draws —
    * one definition with the batch sketch), so the live F₂ estimate
    * (median of S_j²) is available while the drop lands. Signed sums
    * are associative/commutative integers: the file-to-batch split
    * CANNOT change the drained state, which therefore equals the
    * batch [[graft.operators.Stats.amsF2]] sums bit for bit — the
    * q_stream_f2 gate. A NULL key is no key (the batch sketch's
    * filter). Output (j, updates, n, s); state is `depth` cells
    * TOTAL. */
  def amsSumsState(
      rows: DataFrame,
      key: Column,
      depth: Int = 9): DataFrame = {
    require(depth >= 1 && depth <= 64, s"depth out of range: $depth")
    cumulativeState(
      rows.filter(key.isNotNull)
        .select(inline(array((0 until depth).map(j =>
          struct(lit(j).as("j"),
            graft.operators.Stats.amsSigma(key, j).as("sg"))): _*))),
      Seq(col("j")), Seq(lit(1L).as("n"), col("sg").as("s")))
  }

  /** Per-period EXACT value accumulation across micro-batches — the
    * streaming feeder for any batch series tail (EWMA, CUSUM, trend
    * tests, isotonic cells). Values fix at 4 dp as scaled integers
    * (`floor(v·10⁴ + 0.5)`, the [[runningMomentsState]] contract) so
    * the cross-batch sum is exact and independent of the
    * file-to-batch split. Output (d, updates, n, s4); a NULL value
    * adds 0 to `s4` and still counts in `n`. */
  def dailySumState(
      rows: DataFrame,
      dayCol: Column,
      valueCol: Column): DataFrame =
    cumulativeState(rows, Seq(dayCol.cast(StringType).as("d")),
      Seq(lit(1L).as("n"),
        floor(valueCol * 10000 + lit(0.5)).cast(LongType).as("s4")))

  /** Latest per-key KMV summary after each touching batch: n =
    * min(distinct, k) and the k-th minimum (MaxValue while under
    * k), with the monotone keep-the-max drain counter. */
  final case class KmvCell(src: String, updates: Long, n: Long,
      kth: Long)

  /** Streaming KMV distinct-count state — approximate
    * COUNT(DISTINCT) AT INGEST: each key carries its ≤k smallest
    * portable hashes across micro-batches (O(k) longs per key, the
    * mergeable-sketch discipline), so a per-source distinct estimate
    * is live while the crawl drop lands instead of waiting for the
    * nightly batch. The insert-fold is associative and commutative,
    * so the file-to-batch split CANNOT change the sketch: the
    * drained (n, kth) summary equals the batch
    * [[graft.functions.KmvSketch.kmvAgg]] bit for bit, which is the
    * correctness gate (the batch oracle replays the same k-minima).
    * Consumers keep the max-counter row per key and apply the
    * standard (k−1)·M/kth estimate. */
  def kmvCellsState(
      rows: DataFrame,
      keyCol: Column,
      hashCol: Column,
      k: Int): Dataset[KmvCell] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val agg = new graft.functions.KmvSketch.KmvAggregator(k)
    rows
      .select(keyCol.cast(StringType).as("__k"),
        hashCol.cast(LongType).as("__h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, Long)],
         state: GroupState[(Long, Array[Long])]) =>
          val (pu, pbuf) = state.getOption
            .getOrElse((0L, Array.emptyLongArray))
          var buf = pbuf
          while (it.hasNext) buf = agg.reduce(buf, it.next()._2)
          state.update((pu + 1L, buf))
          val fin = agg.finish(buf)
          Iterator(KmvCell(key, pu + 1L, fin.n, fin.kth))
      }
  }

  /** Streaming HyperLogLog — per-(group, register) MAX rank in keyed
    * state, the [[cumulativeState]] instance with keys (g, j) and the
    * max-fold `m`: each arriving key's (j, ρ) bumps its register to
    * max(M_j, ρ) across micro-batches and the refreshed register
    * re-emits (update mode — consumers keep the latest row per cell;
    * the register value is monotone BY DEFINITION, max-merge is HLL's
    * native combine). The max fold's identity 0 is the empty
    * register: registers start at 0 and every rank is ρ ≥ 1. Output
    * (g, j, updates, m). Registers derive from the SAME
    * [[graft.functions.HllSketch.bucket]]/[[graft.functions.HllSketch.rho]]
    * expressions as the batch sketch, and max-folds are associative
    * and idempotent, so the drained latest registers equal the batch
    * register frame bit for bit whatever the file-to-batch split —
    * feeding them to the shared
    * [[graft.functions.HllSketch.estimate]] tail reproduces
    * q_sketch_hll row for row (both gate on one oracle def, the
    * f2Oracle pattern).
    *
    * 100 TB notes: state is one long per (group, register) —
    * |groups|·256 cells TOTAL regardless of stream length, the
    * smallest monitor state in the module beside the DSIR buckets;
    * idempotent max even survives REPLAYED batches, which no counting
    * monitor here can claim. The stream side shuffles one (g, j, ρ)
    * row per key occurrence (the [[cumulativeState]] shuffle note). */
  def hllRegistersState(
      rows: DataFrame,
      groupCol: Column,
      hashCol: Column): DataFrame = {
    import graft.functions.HllSketch
    cumulativeState(rows,
      Seq(groupCol.cast(StringType).as("g"), HllSketch.bucket(hashCol).as("j")),
      sums = Nil, maxes = Seq(HllSketch.rho(hashCol).as("m")))
  }

  /** Per-key ARRAY-packed split-long cell sums: one state row per
    * label carrying all upper-triangle MMD cells (VERDICT r14 item 1
    * — a row-per-cell keying paid labels × 2080
    * state-store commits AND shuffled n·2080 exploded tuples through
    * the non-codegen groupByKey; this shape shuffles only the n raw
    * embedding rows and commits one row per label). */
  final case class SplitSumVec(
      g: String, updates: Long, n: Long, sh: Array[Long],
      sl: Array[Long])

  /** Streaming poly-2 MMD cell accumulation — the keyed-state twin of
    * [[graft.Queries]]' q_embedding_mmd fold, with the 2080
    * upper-triangle products computed INSIDE the state function so the
    * stream shuffles embedding rows, not exploded cells. Arithmetic
    * replicates the batch expressions bit for bit: per cell (i ≤ j),
    * p = eᵢ·eⱼ (double), x = p·10¹² (double), p12 = the shortest-
    * decimal HALF_UP round (`BigDecimal.valueOf(x).setScale(0,
    * HALF_UP)` — exactly Spark's `round(double, 0)`), split into the
    * truncating hi = p12 div 10⁶ / lo = p12 % 10⁶ halves summed as
    * plain longs (|hi|, |lo| ≤ 10⁶ keeps both sums exact to ~9·10¹²
    * rows per cell; 10⁶·Σhi + Σlo reconstructs the exact Σp12 at
    * drain time). Associative integer folds: the file-to-batch split
    * cannot change the drained state. Embedding elements must be
    * non-null (the batch twin's double lattice is null-free on the
    * gated corpus; a null element here fails loudly instead of
    * silently skewing a cell). Cell k orders i-major, j ∈ [i, dim) —
    * the mmdTri lattice. State: (updates, n, hi[2080], lo[2080]) per
    * label — ~50 KB for dim 64, committed once per (label, batch). */
  def mmdCellState(
      rows: DataFrame,
      key: Column,
      emb: Column,
      dim: Int): Dataset[SplitSumVec] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val cells = dim * (dim + 1) / 2
    rows
      .select(key.cast(StringType).as("__g"),
        emb.cast(ArrayType(DoubleType)).as("__e"))
      .as[(String, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, it: Iterator[(String, Seq[Double])],
         state: GroupState[(Long, Long, Array[Long], Array[Long])]) =>
          val (pu, pn, h, l) = state.getOption.getOrElse(
            (0L, 0L, new Array[Long](cells), new Array[Long](cells)))
          var n = 0L
          while (it.hasNext) {
            // shared exact fold with the batch aggregate
            // (graft.functions.MmdFold — one arithmetic, two shapes)
            graft.functions.MmdFold.addRow(it.next()._2.toArray, dim,
              h, l)
            n += 1
          }
          val tot = (pu + 1L, pn + n, h, l)
          state.update(tot)
          // emit clones: the state store serializes `tot` after this
          // iterator drains, so emitted rows must not alias arrays a
          // later batch mutates
          Iterator(SplitSumVec(g, tot._1, tot._2, h.clone(), l.clone()))
      }
  }

  /** Per-key ARGMAX-with-stats: the current maximum `b` seen for the
    * key plus the occupancy and min-id witness of that maximum. */
  final case class FrontMax(
      a: Long, updates: Long, b: Double, n: Long, min_id: Long)

  /** Streaming per-key argmax state — the incremental form of the
    * batch "per-a max-b cell with count and min-id witness" aggregate
    * (q_pareto_front's pts/ga join): a strictly larger `b` replaces
    * the cell (count restarts at 1), an equal `b` accumulates count
    * and min-id. (max, count-of-argmax, min-witness) is a semigroup,
    * so the drained state is independent of the file-to-batch split;
    * `b` must be a deterministic per-row value (the 6-dp rounded
    * ratio here — equal doubles compare exactly). Keyed by `a`
    * (distributed; no global-front bottleneck): the front sweep
    * itself runs batch-side on the drained bounded per-a frame. */
  def frontMaxState(
      rows: DataFrame,
      aCol: Column,
      bCol: Column,
      idCol: Column): Dataset[FrontMax] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(aCol.cast(LongType).as("__a"),
        bCol.cast(DoubleType).as("__b"),
        idCol.cast(LongType).as("__i"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (a: Long, it: Iterator[(Long, Double, Long)],
         state: GroupState[(Long, Double, Long, Long)]) =>
          var (pu, b, n, mi) = state.getOption.getOrElse(
            (0L, Double.NegativeInfinity, 0L, Long.MaxValue))
          while (it.hasNext) {
            val (_, vb, vi) = it.next()
            if (vb > b) { b = vb; n = 1L; mi = vi }
            else if (vb == b) { n += 1L; mi = math.min(mi, vi) }
          }
          state.update((pu + 1L, b, n, mi))
          Iterator(FrontMax(a, pu + 1L, b, n, mi))
      }
  }

  /** One band-local near-dup verdict: did `doc_id` collide (within the
    * Hamming budget) with an EARLIER doc in this band bucket? */
  final case class BandFlag(doc_id: Long, dup: Boolean)

  /** Streaming SimHash near-duplicate detection — the incremental form
    * of [[graft.operators.Dedup.simhashNearDupPairs]]: as documents
    * arrive, each is flagged against everything seen BEFORE it, without
    * ever re-reading history. The LLM-ingest topology: a crawl drop
    * lands, and its docs are admitted or routed to quarantine in one
    * pass.
    *
    * Shape: the per-row (shuffle-free) SimHash splits into the four
    * 16-bit quadrants; state lives per (quadrant, qval) bucket — the
    * SAME pigeonhole blocking as the batch operator (any pair within
    * Hamming ≤ 3 < 16 shares at least one exact quadrant), so checking
    * arrivals only against their own buckets loses nothing. Each
    * bucket's state is the DISTINCT SimHashes seen; an arrival is a
    * near-dup iff some bucket-mate within `maxHamming` preceded it.
    * Emits one [[BandFlag]] per (doc, quadrant) — consumers take
    * `max(dup)` per doc after the drain (a doc is a near-dup iff ANY
    * band flagged it), matching the batch pair set restricted to
    * `earlier.doc_id < doc_id` exactly (the correctness gate's oracle
    * replays that definition in DuckDB).
    *
    * An [[orderedReplay]] per bucket in doc_id order: batches are
    * doc_id-ordered across files (the ingest-sequence shape), so
    * "earlier" = lower doc_id, deterministically. 100 TB notes: state
    * is hash-partitioned by (quadrant, qval) — 2^18 buckets spread
    * evenly by construction (SimHash bits are balanced); per-bucket
    * state is the distinct-hash list the batch LSH bucket guard bounds
    * the same way. */
  def nearDupFlags(
      docs: DataFrame,
      maxHamming: Int = 3): Dataset[BandFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxHamming < 16, "quadrant blocking needs maxHamming < 16")
    val sh = graft.operators.Dedup.simhash(docs, "doc_id", col("text"))
    val bands = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(q =>
          shiftrightunsigned(col("simhash"), q * 16)
            .bitwiseAND(0xFFFFL)): _*)).as(Seq("quadrant", "qval")))
      .select(col("quadrant"), col("qval"), col("doc_id"), col("simhash"))
      .as[(Int, Long, Long, Long)]
    // state: the bucket's distinct SimHashes seen so far
    orderedReplay(bands)(r => (r._1, r._2), _._3, Array.emptyLongArray) {
      (_, carried, batch) =>
        var seen = carried.toList
        val out = batch.map { case (_, _, id, sim) =>
          val dup = seen.exists(s =>
            java.lang.Long.bitCount(s ^ sim) <= maxHamming)
          if (!seen.contains(sim)) seen = sim :: seen
          BandFlag(id, dup)
        }
        (seen.toArray, out)
    }
  }

  /** One admission verdict: the doc's cost, its group's cumulative
    * cost INCLUDING it, and whether the budget still covered it. */
  final case class AdmitFlag(
      doc_id: Long, g: String, cost: Long, cum: Long, admitted: Boolean)

  /** Streaming token-budget admission — quota enforcement at INGEST:
    * each group (source/domain) carries its cumulative token cost in
    * keyed state, and a document is admitted iff the running total
    * including it still fits the budget — the streaming twin of
    * [[graft.operators.Sampling.takeBudget]]'s `cum ≤ budget`
    * contract (rejected docs still advance the total, so the
    * admitted set is a PREFIX of the group's ingest order — the
    * deterministic quota shape, not a bin-packing heuristic).
    *
    * A crawl drop lands, each source spends against its quota as
    * files arrive, and overflow routes to quarantine in one pass —
    * instead of landing everything and budget-sampling nightly.
    *
    * An [[orderedReplay]] per group in doc_id order: batches arrive
    * doc_id-ordered across files, so the admitted prefix is
    * deterministic and equals the batch replay (a per-group window
    * cumsum over doc_id order) row for row — the q_stream_budget gate.
    *
    * 100 TB notes: state is ONE long per group, hash-partitioned;
    * the stream shuffles (id, group, cost) triples only. NoTimeout
    * keeps the bounded-drain gate deterministic; a production
    * deployment would reset quotas per window instead. */
  def tokenBudgetAdmission(
      docs: DataFrame,
      costCol: Column,
      groupCol: String,
      budget: Long): Dataset[AdmitFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(budget >= 0, s"budget must be non-negative: $budget")
    val costs = docs
      .select(col("doc_id").cast(LongType),
        col(groupCol).cast(StringType).as("__g"),
        costCol.cast(LongType).as("__cost"))
      .as[(Long, String, Long)]
    // state: the group's cumulative cost
    orderedReplay(costs)(_._2, _._1, 0L) { (g, carried, batch) =>
      var cum = carried
      val out = batch.map { case (id, _, cost) =>
        cum += cost
        AdmitFlag(id, g, cost, cum, cum <= budget)
      }
      (cum, out)
    }
  }

  private val ClickPurchaseWithinMinutes = 30
  private val ClickPurchaseWatermark = "1 hour"

  /** Watermarked stream-stream self-join: every click joined to the
    * same user's purchases within [[ClickPurchaseWithinMinutes]] AFTER
    * it — the attribution join, streaming against streaming (neither
    * side is a static table). The time-range predicate between the two
    * event times is what lets Spark BOUND the join state: each side
    * keeps only [[ClickPurchaseWatermark]] + within of history per key,
    * evicting as the watermark advances — without it, stream-stream
    * join state grows forever. Inner joins emit on match (append
    * mode); at 100 TB the state is hash-partitioned on user_id across
    * executors. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", ClickPurchaseWatermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("__pu"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", ClickPurchaseWatermark)
    clicks.join(purchases,
      col("user_id") === col("__pu") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <=
          col("click_ts") +
            expr(s"INTERVAL $ClickPurchaseWithinMinutes MINUTES"))
      .drop("__pu")
  }

  /** Stream-static dimension enrichment: every micro-batch LEFT-joins
    * the static side — the standard "attach the user/product dimension
    * to a click stream" topology. The static side should be small
    * enough to broadcast (it is re-evaluated per micro-batch, so a
    * view over a slowly-refreshed table picks up dimension updates
    * between batches); the stream side never shuffles and no state
    * store is involved — unlike stream-stream joins this is
    * watermark-free and unbounded-lag safe. */
  def enrichWithDimension(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Per-JVM drain counter: memory-sink names are `<label>_<n>`, so
    * two drains never share a sink (a session forbids two active
    * queries with one name, and a finished drain's table must not be
    * overwritten by the next). */
  private val drains = new java.util.concurrent.atomic.AtomicLong

  /** The conf every drain runs on, set for the drain and restored
    * after it (also when the stream throws):
    *  - 8 shuffle partitions. A streaming query's STATE STORE count is
    *    pinned to the shuffle partition number at first checkpoint,
    *    and every micro-batch pays a commit per instance regardless of
    *    data volume; a drain starts a fresh checkpoint each run, so the
    *    count is sized to the drained volume, not the session's batch
    *    default. A production stream sizes it to its key volume.
    *  - no checkpoint file checksums: the checkpoint is a throwaway
    *    temp dir that is never restored from, so the checksum
    *    companion writes (Spark 4.x) are pure fixed overhead.
    *  - no trailing no-data micro-batch: that batch only fires
    *    watermark-driven work (Append-mode aggregate flushes, state
    *    timeouts); here it would re-plan the whole incremental plan to
    *    emit nothing. */
  private val drainConf = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** The one AvailableNow drain — the streaming equivalent of one
    * catch-up run (O1): every pending file is processed, then the
    * query stops, and the drained rows are returned as the in-memory
    * sink's table, named `<label>_<n>` by a counter kept here.
    *
    * The drain runs on [[drainConf]] whatever the caller's session
    * says, and puts the session's values back afterwards. Because no
    * trailing no-data batch runs, a plan that needs a watermark-driven
    * flush cannot be drained here: an Append-mode windowed aggregate
    * would lose its last windows, and an event-time timeout would
    * never fire. Update-mode plans emit on every data batch, and an
    * inner stream-stream join (the one Append caller) emits on match,
    * so both drain completely. Stream-stream joins support only
    * Append — pass `mode` accordingly. */
  def runAvailableNow(
      df: DataFrame,
      label: String,
      mode: OutputMode = OutputMode.Update()): DataFrame = {
    val spark = df.sparkSession
    val name = s"${label}_${drains.incrementAndGet()}"
    val prev = drainConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    drainConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try
      df.writeStream.format("memory").queryName(name).outputMode(mode)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.table(name)
  }

  /** Stream-static AS-OF enrichment, drained with AvailableNow: every
    * stream row gets the static side's latest row at-or-before its
    * timestamp (per key) — point-in-time feature attachment at ingest
    * ("the model/tier/quote that was current when this event
    * happened"), the streaming twin of the batch `Joins.asofJoin`
    * family (VERDICT r8 stretch 7).
    *
    * Topology: `foreachBatch` hands each micro-batch to the BATCH
    * as-of operator against the static dimension, writing enriched
    * rows to a batchId-derived subpath of `outDir` in OVERWRITE mode
    * — foreachBatch is at-least-once (a driver restart between the
    * sink write and the checkpoint commit replays the batch), so the
    * sink must be idempotent: a replayed batch carries the same
    * batchId and overwrites its own subpath instead of appending a
    * duplicate (ADVICE r9). End-to-end the pair is exactly-once with
    * ZERO state store and no watermark: an as-of match is a pure
    * function of (key, leftTs, static right side) — independent of
    * every other stream row — so per-batch joins compose to precisely
    * the batch join of the union, whatever the file-to-batch
    * partitioning (pinned by StreamsSpec's two-file drain). Contrast
    * the stream-stream join in [[clickPurchaseJoin]], where the
    * watermark is what bounds state; here the only state is the
    * checkpoint's file log. At 100 TB the per-batch as-of is one
    * shuffle of |batch|+|dim| rows on the keys — the same scale shape
    * as the batch operator, paid per micro-batch.
    *
    * Blocks until the drain finishes; returns the enriched rows read
    * back from `outDir`. The query is named `<label>_<n>`, the
    * [[runAvailableNow]] counter. */
  def asofEnrichAvailableNow(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      toleranceUs: Option[Long],
      outDir: String,
      checkpoint: String,
      label: String): DataFrame = {
    val spark = stream.sparkSession
    val q = stream.writeStream
      .queryName(s"${label}_${drains.incrementAndGet()}")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent sink: replay of batch N overwrites batch_N
        // instead of appending duplicates (at-least-once foreachBatch
        // → exactly-once pair)
        graft.operators.Joins
          .asofJoin(batch, dim, keys, leftTs, rightTs, toleranceUs)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/batch_$batchId")
      }
      .start()
    q.awaitTermination()
    // recursiveFileLookup: read the batch subdirs without partition
    // inference (batch_N is a sink shard, not a data column)
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)
  }
}
