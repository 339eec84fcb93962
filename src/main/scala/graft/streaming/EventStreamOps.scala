package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Running per-user session state for stateful streaming aggregation. */
final case class UserSession(userId: Long, nEvents: Long, totalValue: Double, lastTsSec: Long)
final case class SessionUpdate(userId: Long, nEvents: Long, totalValue: Double, closed: Boolean)

/** One (possibly still-open) session interval in [[EventStreamOps.customSessions]]'
  * state: [startUs, endUs] event-time bounds, event count, and the value sum
  * held EXACTLY as micro-units (value pre-quantized to decimal(18,6) by the
  * Spark cast, so a Long sum is order-independent and bit-reproducible). */
final case class SessSpan(startUs: Long, endUs: Long, n: Long, sumMicros: Long)
final case class SessionizerState(sessions: Seq[SessSpan])
final case class SessionRow(user_id: Long, session_start_us: Long, n_events: Long,
  session_value: Double)

/** [[EventStreamOps.streamScd2]]'s per-user state: the not-yet-stable event
  * buffer (everything at/after the watermark — bounded by the watermark
  * lag), plus the open run the stable prefix has established so far. */
final case class Scd2State(buffer: Seq[(Long, Long, String)],
  curType: String, curFrom: Long, version: Long, started: Boolean)
final case class Scd2Row(user_id: Long, state: String, valid_from: Long,
  valid_to: Long, version: Long)

/**
 * Structured Streaming surface over the events table. The reference has no
 * event-stream engine at all (SURVEY §2 "no counterpart" list) — this is the
 * greenfield scale path: the same windowed aggregations t1/t2 compute in
 * batch, expressed as an incremental streaming query with watermarked state.
 *
 * All transforms take a streaming OR batch DataFrame (Spark's unified API),
 * so specs drive them with the file source and the replay FILE sink
 * (tmpfs parquet + read-back; only the Complete-mode test helper still
 * uses the memory sink, which Append queries avoid because it holds the
 * whole output driver-resident).
 */
object EventStreamOps {

  /** Schema of the events stream as stored. `ts` has shipped as different
    * physical encodings across testdata generations (TIMESTAMP(NANOS) read
    * as BIGINT nanos under the legacy conf; TIMESTAMP_NTZ micros), so the
    * declared stream schema carries whichever type the source footer
    * actually has — probed ONCE per path via [[sourceTsType]] — and
    * [[graft.operators.Tables.normalizeEventTs]] converts to the native
    * session-tz TIMESTAMP right after the source. */
  def eventSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Physical type of `ts` in a source path's footer, memoized per path
    * (same corpus-dir-immutable-within-a-session contract as the flush
    * caches below). The nanos conf must be set BEFORE the probe so a
    * nanos-generation file probes as LongType. */
  private val tsTypeCache = new java.util.concurrent.ConcurrentHashMap[String, DataType]()
  private def sourceTsType(spark: SparkSession, path: String): DataType =
    tsTypeCache.computeIfAbsent(path, _ => {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(path).schema("ts").dataType
    })

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Finite replay of a DOCUMENT stream: the `slice` of the corpus is
    * staged as `nFiles` range-partitioned files and replayed one file per
    * micro-batch (`maxFilesPerTrigger(1)`), so a stateless admit pipeline
    * demonstrably processes the increment INCREMENTALLY — each batch's
    * verdicts land in the sink before the next file is read, the exact
    * shape of a production drop-folder ingest. No watermark/flush
    * machinery: document streams carry no event time, and the stateless
    * transforms this entry point is for (per-row scoring + stream-static
    * joins) emit rows the micro-batch they arrive. */
  def runDocAppend(rootSpark: SparkSession, dir: String, name: String,
      slice: DataFrame => DataFrame, transform: DataFrame => DataFrame,
      nFiles: Int = 4): DataFrame = {
    val spark = replaySession(rootSpark)
    val d = graft.core.FsUtil.scratchDir("graft-docstream")
    try {
      slice(graft.operators.Tables.t(spark, dir, "documents"))
        .repartitionByRange(nFiles, col("doc_id"))
        .write.mode("overwrite").parquet(s"$d/src")
      val stream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$d/src")
      val result = transform(stream)
      val sink = replaySinkDir(name)
      val q = result
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", replayCheckpointDir(name))
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.schema(result.schema).parquet(sink.toString)
    } finally deleteStagingDir(d)
  }

  /** Open the events parquet path as a stream. The file source requires a
    * directory; a single-file path (the test corpus shape) is staged into a
    * cached scratch dir once ([[graft.core.FsUtil.streamableDir]]).
    * `maxFilesPerTrigger` bounds per-batch work at scale. */
  def readEventStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.operators.Tables.normalizeEventTs(
      spark.readStream
        .schema(eventSchema(sourceTsType(spark, path)))
        .option("maxFilesPerTrigger", "4")
        .parquet(graft.core.FsUtil.streamableDir(path, "graft-stream")))
  }

  /** Tumbling 1-hour windowed counts/sums per event type with a 30-minute
    * watermark — late events beyond it are dropped, state is bounded. */
  def hourlyByType(events: DataFrame): DataFrame =
    hourlyAgg(events.withWatermark("ts", "30 minutes"))

  /** The hourly rollup WITHOUT its own watermark — for composing after an
    * upstream stateful operator that already defined one (redefining the
    * watermark mid-pipeline is disallowed); see st3's dedupe -> agg chain. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // decimal accumulate, surface as double: bit-identical regardless of
      // per-partition addition order, so the stream's answer is the batch
      // (and DuckDB-oracle) answer down to the hash
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Native session windows: per-user sessions split on a 30-minute idle
    * gap (the streaming face of batch t2, via `session_window` — dynamic
    * merging windowed state, watermark-bounded; the mapGroupsWithState
    * variant below is the hand-rolled comparison). On a finite replay the
    * flush row forms its own far-future session for user -1; consumers
    * drop `user_id < 0` after materialization. */
  def sessionizeByUser(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      // decimal accumulate (see hourlyByType): order-independent exactness
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** ONE copy of the 1h/15min sliding-window scaffold (watermark + window
    * spec + per-type groupBy), parameterized by the aggregate list —
    * [[slidingByType]] and [[slidingValue]] differ only in aggregates, and
    * a single scaffold keeps the window/watermark spec from drifting
    * between them. */
  private def slidingGrid(events: DataFrame,
      first: org.apache.spark.sql.Column,
      rest: org.apache.spark.sql.Column*): DataFrame = {
    val agged = events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(first, rest: _*)
    val metrics = agged.columns.filterNot(c => c == "window" || c == "event_type")
    agged.select(col("window.start").as("win_start") +: col("event_type") +:
      metrics.map(col).toIndexedSeq: _*)
  }

  /** [[slidingValue]]'s oracle-able form: 1-hour windows sliding every 15
    * minutes with decimal-exact count/sum (avg(double) is
    * partition-order-dependent; n + an exact sum carry the same
    * information and hash-match batch SQL). Every event lands in exactly
    * 4 windows — state is 4x the tumbling rollup's, still
    * watermark-bounded. */
  def slidingByType(events: DataFrame): DataFrame =
    slidingGrid(events,
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))

  /** Sliding window: 1-hour windows every 15 minutes, per event type. */
  def slidingValue(events: DataFrame): DataFrame =
    slidingGrid(events, avg("value").as("avg_value"))

  /** Stream-stream interval join: every click joined to the same user's
    * views from the preceding 30 minutes. Both sides carry watermarks so
    * the join state is bounded (a view older than click_ts - 30 min can
    * never match and is evicted); inner matches emit as soon as both rows
    * arrive. The streaming face of the j1 as-of/attribution shape. */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("c_user").as("user_id"),
        col("click_ts"), col("view_id"), col("view_ts"))
  }

  /** Left-outer watermarked stream-stream join: every view, attributed to a
    * click by the same user within the NEXT 30 minutes — or emitted with a
    * NULL click once the watermark passes the view's match window and no
    * click arrived (unattributed-impression reporting). The outer side's
    * emission is watermark-driven: state for a view is held exactly until
    * click-watermark > view_ts + 30 min, then released — bounded, like the
    * inner join. */
  def viewClickOuterJoin(events: DataFrame): DataFrame = {
    // Outer-side NULL release is watermark-driven, and each side's
    // watermark advances only on rows that survive that side's event-type
    // filter. So both filters ADMIT heartbeat/punctuation rows — the
    // standard mechanism for advancing event time on a type-skewed or
    // drained stream (here the end-of-replay flush rows). A heartbeat row
    // self-matches (same timestamp on both sides) and surfaces with
    // NEGATIVE ids; consumers drop those AFTER materialization
    // (`view_id >= 0`). The admission must stay untouched inside the
    // streaming query: an id/type guard in the join condition or an extra
    // carried column each empirically suppress Spark's outer NULL
    // emission, and an output filter would be pushed below the watermark
    // node and stall it.
    val views = events
      .filter(col("event_type") === "view" || col("event_type") === FlushEventType)
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val clicks = events
      .filter(col("event_type") === "click" || col("event_type") === FlushEventType)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    views.join(clicks,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("view_id"), col("v_user").as("user_id"),
        col("view_ts"), col("click_id"), col("click_ts"))
  }

  /** STREAM-STATIC join: enrich the purchase stream with the customer
    * dimension — the canonical streaming-ETL enrichment shape, and a
    * distinct operator class from the stream-stream joins (st4/st5):
    * STATELESS. The static side is a plain batch DataFrame re-planned
    * every micro-batch (so dim updates between batches are picked up, and
    * at this dim size it broadcasts); no watermark, no state store — each
    * row emits in the micro-batch it arrives, which is why the finite
    * replay needs no flush tail. */
  def purchaseEnrich(events: DataFrame, customers: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .join(customers.select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("c_name"), col("c_mktsegment"))

  /** Streaming exact dedupe: drop replayed/duplicate event_ids, keeping
    * state only within the watermark horizon — the streaming face of the
    * engine's exact-dedupe story (bounded state, unlike a global distinct). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom state machine via mapGroupsWithState: per-user running session
    * (event count + value sum) — the KeyValueGroupedDataset stateful path
    * the reference's DedupeStream has no analog for. NoTimeout: state
    * advances only on data batches, so the query quiesces once the source
    * drains (a ProcessingTimeTimeout would keep scheduling timeout batches
    * and `processAllAvailable` would never return). A session is reported
    * closed once it has been idle past `idleGapSec` of event time. */
  def userSessions(spark: SparkSession, events: DataFrame,
      idleGapSec: Long = 3600L): Dataset[SessionUpdate] = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[UserSession]) => {
          val batch = rows.toSeq
          val prev = state.getOption.getOrElse(UserSession(userId, 0L, 0.0, 0L))
          val maxTs = batch.map(_._2.getTime / 1000).foldLeft(prev.lastTsSec)(math.max)
          val closed = prev.lastTsSec > 0 &&
            batch.nonEmpty && batch.map(_._2.getTime / 1000).min - prev.lastTsSec > idleGapSec
          // a closed session RESETS the counters: the update reports the new
          // session's totals, not a cross-session mixture (closed=true tells
          // the consumer the previous session ended at prev.lastTsSec)
          val next =
            if (closed) UserSession(userId, batch.size.toLong, batch.map(_._3).sum, maxTs)
            else UserSession(userId,
              prev.nEvents + batch.size,
              prev.totalValue + batch.map(_._3).sum,
              maxTs)
          state.update(next)
          SessionUpdate(userId, next.nEvents, next.totalValue, closed)
        })
  }

  /** Session idle gap shared by [[sessionizeByUser]] (native session_window)
    * and [[customSessions]] (hand-rolled state machine): 30 minutes in µs. */
  private val SessionGapUs = 1800L * 1000000L

  /** Interval-merge spans under the session_window rule: a span whose start
    * is STRICTLY less than gap past the previous span's end merges with it
    * (a gap of exactly 30 min starts a new session — the native operator's
    * overlap semantics on [ts, ts+gap) event windows). Input order free;
    * output ascending by start. */
  private[streaming] def mergeSpans(spans: Seq[SessSpan]): List[SessSpan] =
    spans.sortBy(s => (s.startUs, s.endUs)).foldLeft(List.empty[SessSpan]) {
      case (h :: t, s) if s.startUs < h.endUs + SessionGapUs =>
        SessSpan(h.startUs, math.max(h.endUs, s.endUs), h.n + s.n,
          h.sumMicros + s.sumMicros) :: t
      case (acc, s) => s :: acc
    }.reverse

  /** The canonical custom-state streaming operator: per-user 30-minute-gap
    * sessions via flatMapGroupsWithState + EventTimeTimeout + Append —
    * THE pattern for session semantics Spark's built-ins can't express
    * (here they can, which is the point: the output is provably identical
    * to [[sessionizeByUser]]'s native session_window, so the hand-rolled
    * state machine is hash-verifiable against the same batch oracle).
    *
    * Unlike [[userSessions]] (Update-style running totals, output depends
    * on micro-batch boundaries), this emits ONLY watermark-finalized
    * sessions: a session leaves state exactly when the watermark passes its
    * end + gap, so the emitted set is a pure function of the DATA — any
    * micro-batch carving of the same events yields byte-identical output.
    * State per key is the open-session spans only (watermark-bounded);
    * timeouts finalize idle keys without new data for that key. Late rows
    * older than the watermark are dropped, mirroring the native operator.
    * Values ride as exact decimal(18,6) micro-units (Long), so sums are
    * addition-order-independent — the same trick that makes st1/st2
    * oracle-able. */
  def customSessions(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "30 minutes")
      // `ts` rides along untouched: the event-time/watermark tag lives on
      // that attribute, and EventTimeTimeout requires it to reach the
      // stateful operator (the function itself reads only the µs longs)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        (col("value").cast("decimal(18,6)") * lit(1000000L)).cast("long").as("v_us"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionizerState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long)],
         state: GroupState[SessionizerState]) => {
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          if (userId < 0) {
            // the finite-replay flush rows (user -1): consume, keep nothing
            if (state.exists) state.remove()
            Iterator.empty
          } else {
            val fresh = rows.filter(_._3 >= wmUs)
              .map { case (_, _, ts, v) => SessSpan(ts, ts, 1L, v) }.toList
            val all = mergeSpans(state.getOption.map(_.sessions).getOrElse(Nil) ++ fresh)
            val (done, open) = all.partition(s => s.endUs + SessionGapUs <= wmUs)
            if (open.isEmpty) { if (state.exists) state.remove() }
            else {
              state.update(SessionizerState(open))
              // earliest possible finalization, ms-ceiled so it's strictly
              // past the current watermark (setTimeoutTimestamp requires it)
              state.setTimeoutTimestamp(
                open.map(s => (s.endUs + SessionGapUs) / 1000L).min + 1L)
            }
            done.iterator.map(s => SessionRow(userId, s.startUs, s.n,
              java.math.BigDecimal.valueOf(s.sumMicros, 6).doubleValue()))
          }
        }
      }
      .toDF()
  }

  /** st12: SCD2 history maintained ON THE STREAM — r6's warehouse
    * temporal-modeling verb as an incremental query: each user's
    * consecutive same-type run becomes one versioned [valid_from,
    * valid_to) row, EMITTED THE MOMENT THE RUN PROVABLY CLOSES (a
    * different-type event is behind the watermark, so no earlier event
    * can reorder the boundary). This is how a streaming pipeline keeps a
    * type-2 dimension current without nightly rebuilds. Output is CLOSED
    * runs only — the open run is precisely what an unbounded stream can
    * never finalize, so it lives in state (the "current" dimension row)
    * and the oracle is the batch SCD2 restricted to `valid_to IS NOT
    * NULL`; versions match the batch row_number because runs close in
    * order.
    *
    * Mechanics ([[customSessions]]' finalization discipline): fresh
    * events below the watermark are dropped (the native operators'
    * late-data contract); the rest buffer in state until the watermark
    * passes them, then the stable prefix walks through the run machine in
    * (ts, event_id) order — so FOR EVENTS WITHIN THE 30-MINUTE watermark
    * lag the emitted set is a pure function of the DATA, independent of
    * micro-batch carving. An event later than the lag is dropped at
    * whatever batch it arrives in, so with genuinely late data the output
    * depends on carving exactly the way the native stateful operators'
    * late-data contract allows (the finite-replay harness sees none: its
    * first batch runs at watermark 0). State per key = the open
    * run (O(1)) + the buffer (bounded by the 30-min watermark lag). An
    * event-time timeout is armed ONLY while the buffer is non-empty (a
    * quiet key with an open run costs no timer); the finite-replay flush
    * rows advance the watermark past everything, draining every buffer. */
  def streamScd2(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long, String)],
         state: GroupState[Scd2State]) => {
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          if (userId < 0) {
            // finite-replay flush sentinels: consume, keep nothing
            if (state.exists) state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(Scd2State(Nil, null, 0L, 0L, false))
            val fresh = rows.map(r => (r._3, r._4, r._5)).filter(_._1 >= wmUs).toSeq
            val (stable, pending) =
              (prev.buffer ++ fresh).sortBy(t => (t._1, t._2)).partition(_._1 < wmUs)
            var curType = prev.curType; var curFrom = prev.curFrom
            var version = prev.version; var started = prev.started
            val out = Seq.newBuilder[Scd2Row]
            for ((ts, _, ty) <- stable) {
              if (!started) { started = true; curType = ty; curFrom = ts }
              else if (ty != curType) {
                version += 1
                out += Scd2Row(userId, curType, curFrom, ts, version)
                curType = ty; curFrom = ts
              }
            }
            if (!started && pending.isEmpty) { if (state.exists) state.remove() }
            else {
              state.update(Scd2State(pending, curType, curFrom, version, started))
              if (pending.nonEmpty) // drain timer, ms-ceiled past the watermark
                state.setTimeoutTimestamp(wmUs / 1000L + 1L)
            }
            out.result().iterator
          }
        }
      }
      .toDF()
  }

  /** st11: CMS sketch maintenance ON THE STREAM — the one aggregation
    * class where Complete output mode is the PRODUCTION answer rather
    * than a finite-replay convenience: the whole aggregation state is a
    * single fixed depth×width counter matrix (the
    * [[graft.functions.CmsSketchAgg]] buffer), so "re-emit the full
    * state" means 4 KB per micro-batch and state never grows — a
    * streaming frequency monitor with O(1) memory on an unbounded
    * stream, no watermark needed because nothing is ever evicted. Each
    * micro-batch folds its rows in through the same mergeable Aggregator
    * the batch path uses, which is why the streamed sketch is
    * CELL-IDENTICAL to the batch-built one (spec + st11's shared-oracle
    * hash both pin this). */
  def streamUserCms(rootSpark: SparkSession, path: String, name: String): Seq[Long] = {
    val out = runToMemory(rootSpark, path, name,
      df => {
        // bind the typed Dataset first: with an expected DataFrame return
        // type, an inline chain resolves to the UNTYPED select overload,
        // which rejects TypedColumns at runtime
        val keys = df.select(col("user_id"))
          .as(org.apache.spark.sql.Encoders.scalaLong)
        keys.select(new graft.functions.CmsSketchAgg(4, 256).toColumn.name("cms"))
          .toDF()
      },
      OutputMode.Complete())
    out.head().getSeq[Long](0)
  }

  /** Run a streaming query over the batch events dir into a memory sink and
    * return the materialized result (synchronous — for specs and smoke).
    *
    * FINITE-REPLAY / TEST ONLY when passed `OutputMode.Complete()`: Complete
    * re-emits the entire accumulated state every micro-batch and never GCs
    * it — O(total windows) per batch, unbounded on a real stream. The
    * production path for watermarked aggregations is [[runToMemoryAppend]],
    * which keeps Append's incremental-emit/bounded-state contract and
    * flushes the drained-source tail explicitly. */
  def runToMemory(rootSpark: SparkSession, dir: String, name: String,
      transform: DataFrame => DataFrame,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    // child session: replay-sized state partitions (see replaySession)
    val spark = replaySession(rootSpark)
    // finite replays go through the SAME staged one-batch source as
    // runToMemoryAppend: a small per-trigger cap over a multi-file snapshot
    // would advance the watermark on the first batch and silently drop
    // later files' events from any watermarked transform (the cap belongs
    // only on genuinely unbounded readEventStream sources)
    val (staged, n) = stageReplay(dir)
    try {
      val q = transform(replayStream(spark, dir, staged, n))
        .writeStream.outputMode(mode).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      // memory sink holds the materialized rows — the staged parquet copies
      // are dead weight once the query stops; leaving them to deleteOnExit
      // would leak a full snapshot copy per run for the JVM's lifetime
      spark.table(name)
    } finally deleteStagingDir(staged)
  }

  /** Stage a finite replay (one parquet file or a directory tree of part
    * files) into a private temp dir — flush rows and repeated runs can never
    * leak across sources; returns the dir and its parquet file count.
    * The walk is RECURSIVE (nested part files are flattened with their
    * relative path encoded in the name, so same-named files in different
    * subdirs can't collide), and an empty staging is a loud error — a
    * silently empty stream would read as "no events", not as the layout
    * mistake it is. */
  private def stageReplay(path: String): (java.nio.file.Path, Long) = {
    val d = graft.core.FsUtil.scratchDir("graft-stream-replay")
    try stageReplayInto(path, d)
    catch { case e: Throwable => deleteStagingDir(d); throw e }
  }

  /** Recursively remove a staging dir — File.delete on a non-empty dir is a
    * silent no-op, so a flat delete (or deleteOnExit on the dir alone) would
    * leak every staged copy under java.io.tmpdir forever. */
  private def deleteStagingDir(d: java.nio.file.Path): Unit =
    graft.core.FsUtil.deleteRecursively(d)

  private def stageReplayInto(path: String, d: java.nio.file.Path,
      tag: String = ""): (java.nio.file.Path, Long) = {
    val src = java.nio.file.Paths.get(path)
    var staged = 0L
    if (java.nio.file.Files.isRegularFile(src)) {
      if (!src.toString.endsWith(".parquet"))
        throw new IllegalArgumentException(
          s"'$path' is not a .parquet file — nothing to replay")
      java.nio.file.Files.copy(src, d.resolve(tag + src.getFileName))
      staged = 1L
    } else {
      val walk = java.nio.file.Files.walk(src)
      try walk.filter { f =>
          // mirror Spark's own reader: skip _temporary/_spark_metadata/
          // hidden paths, or the replay would include uncommitted files
          // the batch side never sees
          val rel = src.relativize(f)
          java.nio.file.Files.isRegularFile(f) && f.toString.endsWith(".parquet") &&
            (0 until rel.getNameCount).forall { i =>
              val seg = rel.getName(i).toString
              !seg.startsWith("_") && !seg.startsWith(".")
            }
        }
        .forEach { f =>
          // counter prefix: nested part files flatten without any chance of
          // colliding with a sibling whose name already matches the flat form
          val flat = s"${tag}p${staged}_${src.relativize(f).toString.replace('/', '_')}"
          java.nio.file.Files.copy(f, d.resolve(flat))
          staged += 1
        }
      finally walk.close()
    }
    if (staged == 0)
      throw new IllegalArgumentException(
        s"no .parquet files found under '$path' — nothing to replay")
    (d, staged)
  }

  /** Open a staged finite replay so the WHOLE snapshot lands in one
    * micro-batch: every part file of a multi-file snapshot typically spans
    * the full time range, so any smaller per-trigger cap lets the first
    * batch advance the watermark past later files' events — stream != batch. */
  private def replayStream(spark: SparkSession, sourcePath: String,
      stagedDir: java.nio.file.Path, fileCount: Long): DataFrame =
    graft.operators.Tables.normalizeEventTs(
      spark.readStream
        .schema(eventSchema(sourceTsType(spark, sourcePath)))
        .option("maxFilesPerTrigger", math.max(fileCount, 1L).toString)
        .parquet(stagedDir.toString))

  /** Event type of the synthetic end-of-replay flush row (never emitted by
    * a windowed agg: its window is beyond every real watermark). */
  val FlushEventType = "__flush__"

  /** max(ts) per source path, computed once per JVM: every finite-replay
    * run against the same snapshot needs the same flush horizon, and the
    * agg(max) scan was a full batch job PER QUERY (6 streaming driver
    * queries = 6 redundant scans). Same corpus-dir-immutable-within-a-
    * session contract as DedupQueries' memo. */
  private val maxUsCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The two flush part-files per source path, written once per JVM and
    * then Files.copy'd into each run's private staging dir: the flush rows
    * are a pure function of max(ts), and a Spark parquet write job per
    * flush batch per query was the dominant harness overhead of the
    * streaming bench sweep. */
  private val flushFileCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[java.nio.file.Path]]()

  private def sourceMaxUs(spark: SparkSession, sourcePath: String): Long =
    maxUsCache.computeIfAbsent(sourcePath, _ => {
      val src = graft.operators.Tables.normalizeEventTs(
        spark.read.schema(eventSchema(sourceTsType(spark, sourcePath))).parquet(sourcePath))
      val row = src.agg(max(unix_micros(col("ts")))).head()
      if (row.isNullAt(0))
        throw new IllegalArgumentException(
          s"runToMemoryAppend: no rows in events source '$sourcePath'; nothing to flush")
      Long.box(row.getLong(0))
    })

  /** The i-th (1-based) flush file for a source: one far-future row, one
    * year per step past the snapshot's max(ts) — beyond any watermark
    * delay + window width a transform here uses. Written with the SAME
    * physical `ts` encoding as the source files so the staged dir stays
    * schema-homogeneous under the declared stream schema. */
  private def flushFile(spark: SparkSession, sourcePath: String, i: Int): java.nio.file.Path =
    flushFileCache.computeIfAbsent(sourcePath, _ => {
      val maxUs = sourceMaxUs(spark, sourcePath)
      val tsT = sourceTsType(spark, sourcePath)
      import spark.implicits._
      Array.tabulate(2) { k =>
        val d = graft.core.FsUtil.scratchDir(s"graft-flush${k + 1}")
        graft.core.FsUtil.deleteOnExitRecursively(d)
        val flushUs = maxUs + (k + 1) * 365L * 24 * 3600 * 1000000L
        val tsCol = tsT match {
          case LongType => lit(flushUs * 1000L) // legacy nanos-as-long files
          case t        => timestamp_micros(lit(flushUs)).cast(t)
        }
        Seq((-(k + 1).toLong, -1L, FlushEventType, 0.0, "{}"))
          .toDF("event_id", "user_id", "event_type", "value", "props")
          .withColumn("ts", tsCol)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(d.toString)
        val walk = java.nio.file.Files.walk(d)
        try walk.filter(f => java.nio.file.Files.isRegularFile(f) &&
            f.toString.endsWith(".parquet")).findFirst().orElseThrow(() =>
            new IllegalStateException(s"flush write produced no parquet under $d"))
        finally walk.close()
      }
    })(i - 1)

  /** Production streaming entry point: Append output mode — incremental
    * emit, watermark-bounded state, the only mode that scales on an
    * unbounded stream. On an unbounded source new data advances the
    * watermark continuously and nothing more is needed; on a FINITE replay
    * the last `watermark + window` of windows would never finalize once the
    * source drains, so after `processAllAvailable` one synthetic far-future
    * event (`event_type = "__flush__"`) is appended to push the watermark
    * past every real window. The flush row's own window never finalizes and
    * is never emitted; for non-windowed transforms that would pass it
    * through, the returned frame filters it back out. The source is staged
    * into a private temp dir so the flush file cannot leak into other runs.
    * (The name is historical: since r8 the output lands in the replay FILE
    * sink — parquet + `_spark_metadata` commit log, read back lazily — not
    * a driver-resident memory-sink table; see [[replaySinkDir]].) */
  def runToMemoryAppend(rootSpark: SparkSession, path: String, name: String,
      transform: DataFrame => DataFrame, flushTail: Boolean = true): DataFrame = {
    // Finite replay runs in a CHILD session with state partitions right-sized
    // to the staged corpus: stateful operators pin their state-store count to
    // spark.sql.shuffle.partitions at query start, and 32 HDFS-backed stores
    // churning checkpoint files per micro-batch is pure overhead for a
    // memory-sink replay. The production entry point (readEventStream on an
    // unbounded source) inherits the session conf untouched — at cluster
    // scale you size state partitions UP, not down.
    val spark = replaySession(rootSpark)
    val (d, staged) = stageReplay(path)
    try runAppendStaged(spark, path, d, staged, name, transform, flushTail)
    finally deleteStagingDir(d)
  }

  /** Child session for a finite replay, with state partitions right-sized
    * to the staged corpus (see [[runToMemoryAppend]]'s scaladoc): 2 local
    * state stores instead of the session's 32 — per-micro-batch state-store
    * checkpoint churn is pure harness overhead at replay scale, and every
    * aggregate here is partition-count-invariant (decimal accumulate). */
  private[streaming] def replaySession(rootSpark: SparkSession): SparkSession = {
    val spark = rootSpark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // No-data micro-batches exist to evict state when a watermark advances
    // with no new input — on a finite replay that eviction is exactly what
    // the two explicit flush DATA batches do, so the automatic ones are
    // pure extra micro-batch cycles (one after every watermark advance)
    // that processAllAvailable then waits on. Production sources keep the
    // default: there, no-data batches are what finalizes windows when the
    // input pauses.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark
  }

  /** Checkpoint root for finite replays, a [[graft.core.FsUtil.scratchDir]]
    * — offset, commit and state-store files are fsync'd once per
    * micro-batch, and on an overlay filesystem that metadata churn
    * dominates a small replay's wall time. The dir registers for exit
    * cleanup; a real deployment sets a durable checkpointLocation instead
    * (this path is for the test/bench replay harness only, where the
    * checkpoint has no restart value). */
  private[streaming] def replayCheckpointDir(name: String): String = {
    val d = graft.core.FsUtil.scratchDir(s"graft-ckpt-$name-")
    graft.core.FsUtil.deleteOnExitRecursively(d)
    d.toString
  }

  /** [[runToMemoryAppend]] with the source staged `copies` times — a
    * finite stand-in for an AT-LEAST-ONCE source that delivers every event
    * `copies` times. Pair with [[dedupedEvents]] to demonstrate the
    * exactly-once restoration: the duplicated stream's windowed answer
    * collapses to the single-copy batch answer. */
  def runToMemoryAppendReplayed(rootSpark: SparkSession, path: String, name: String,
      transform: DataFrame => DataFrame, copies: Int = 2): DataFrame = {
    require(copies >= 1, "copies must be >= 1")
    val spark = replaySession(rootSpark)
    val d = graft.core.FsUtil.scratchDir("graft-stream-replay")
    try {
      var staged = 0L
      for (i <- 0 until copies) // per-copy tag: same part file names can't collide
        staged += stageReplayInto(path, d, s"c${i}_")._2
      runAppendStaged(spark, path, d, staged, name, transform, flushTail = true)
    } finally deleteStagingDir(d)
  }

  /** Sink root for finite replays — a scratch dir like the checkpoints,
    * for the same churn reason. A FILE sink, not memory: the memory sink holds
    * the query's entire output driver-resident (st2's session table is
    * ~95k rows at sf0.1 and 10× that at sf1 — corpus-proportional), while
    * the parquet sink streams each micro-batch's rows to files and the
    * harness reads the committed result back through `_spark_metadata`,
    * exactly the shape a production Append query ships with. The dir
    * registers for exit cleanup; the returned frame reads lazily from it. */
  private[streaming] def replaySinkDir(name: String): java.nio.file.Path = {
    val dir = graft.core.FsUtil.scratchDir(s"graft-sink-$name-")
    graft.core.FsUtil.deleteOnExitRecursively(dir)
    dir
  }

  private def runAppendStaged(spark: SparkSession, sourcePath: String,
      d: java.nio.file.Path, staged: Long, name: String,
      transform: DataFrame => DataFrame, flushTail: Boolean): DataFrame = {
    val result = transform(replayStream(spark, sourcePath, d, staged))
    val sink = replaySinkDir(name)
    val q = result
      .writeStream.outputMode(OutputMode.Append()).format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", replayCheckpointDir(name))
      .queryName(name).start()
    try {
      q.processAllAvailable()
      if (flushTail) {
        // TWO flush batches: watermarks advance at the END of a
        // micro-batch, and state eviction (outer-join NULLs, final
        // windows) runs in the NEXT batch using the advanced watermark —
        // the second flush row guarantees that next batch exists and is
        // waited on by processAllAvailable (a no-data batch can race
        // q.stop()). The flush part-files are JVM-cached per source and
        // Files.copy'd in: the previous per-query agg(max) scan + two
        // Spark write jobs were the bulk of the streaming sweep's harness
        // overhead (6 queries x 3 redundant jobs).
        for (i <- 1 to 2) {
          val f = flushFile(spark, sourcePath, i)
          java.nio.file.Files.copy(f, d.resolve(s"zz_flush$i.parquet"))
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    // read back through the sink's commit log (declared schema: a
    // zero-output query leaves only _spark_metadata, which can't infer one)
    val out = spark.read.schema(result.schema).parquet(sink.toString)
    if (out.columns.contains("event_type"))
      out.filter(col("event_type") =!= FlushEventType)
    else out
  }
}
