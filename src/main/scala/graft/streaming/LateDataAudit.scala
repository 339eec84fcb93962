package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/**
 * st15: WATERMARK LATE-DATA ACCOUNTING — the observability half of the
 * streaming story. st1–st14 prove the watermark-correct OUTPUT; this
 * query measures what the watermark DROPPED, which is the dashboard every
 * production stream runs next to its output tables (a silent drop rate
 * creeping up is how event-time pipelines rot).
 *
 * Harness: a four-batch finite replay with a deterministically INJECTED
 * late slice —
 *   batch 0: the full events snapshot (advances the watermark to
 *            max(ts) − 30 min);
 *   batch 1: the corpus' last 6 hours re-arrive 1 hour older (the
 *            crawler-retry / mobile-offline-flush shape) — rows whose
 *            hour-window already closed under the batch-0 watermark are
 *            dropped BY SPARK'S OWN STATE OPERATOR, the rest are admitted
 *            into still-open windows (the slice straddles the cutoff, so
 *            both outcomes occur at every SF);
 *   batches 2–3: the flush pair (EventStreamOps' finite-replay idiom —
 *            one data batch advances the watermark past every real
 *            window, the next evicts/emits them; no-data micro-batches
 *            are off in the replay session).
 *
 * Output: per-hour admitted counts + exact decimal value sums (the same
 * rollup shape as st1, windows only), plus one `__dropped__` row carrying
 * the engine's OWN drop counter — summed `numRowsDroppedByWatermark` from
 * the state operator's progress metrics, not a re-derivation. METER
 * SEMANTICS (measured, LateDataAuditSpec pins it): the counter sits
 * BEHIND the partial aggregation, so it counts rejected state-input rows
 * = distinct EXPIRED WINDOWS the late batch touched (the late files here
 * are single-partition, so partial aggregation fully combines per
 * window), not raw input rows. The DuckDB oracle recomputes both sides
 * from the watermark arithmetic Spark documents and this spec pins:
 * wm_us = (max_us div 1000 − 1 800 000) · 1000 (event-time stats collect
 * in FLOORED MILLISECONDS), a late row is dropped iff its window END ≤
 * wm, and `__dropped__` = count(DISTINCT hour) over the dropped rows. A
 * hash-match therefore certifies Spark's actual drop behavior — metric
 * and all — against the closed-form predicate.
 *
 * Scale: the audit costs the same one stateful agg the output already
 * pays (the metric is free); the staged replay is harness-only — a
 * production source is just the real stream, and the `__dropped__` row
 * is the per-trigger metric a monitor scrapes. State stays
 * watermark-bounded; the injected slice scales with the corpus slice,
 * never accumulates.
 */
object LateDataAudit {

  /** Injected late slice: the corpus' LAST [[LateWindowHours]] hours
    * re-arrive [[LateShiftHours]] hours old (the offline-client
    * flush-replay shape). The shift/window pair is chosen so the slice
    * STRADDLES the watermark: rows whose original ts sits in the final
    * ~1.5 h land in still-open windows (ADMITTED), earlier ones in closed
    * windows (DROPPED) — both branches of the predicate execute at every
    * SF, which is what makes the oracle's ≤-boundary check meaningful.
    * (The shift must be under delay + 1 window for ANY admission to be
    * possible: a 2 h shift against a 30 min delay pushes every window end
    * at least 1 h behind the watermark.) */
  private val LateWindowHours = 6
  private val LateShiftHours = 1

  private[graft] val memo = new graft.BenchMemos.CountedMemo("LateDataAudit")

  /** Prepare the three slice part-files (main, late, flush) ONCE per
    * (session, corpus). They are NOT placed in the watched dir here —
    * each run lands them phased (see [[st15LateAudit]]). */
  private def stagedSlices(spark: SparkSession, dir: String): Seq[java.nio.file.Path] =
    memo.withScratch(spark, dir, "graft-st15") { d =>
      import spark.implicits._
      // nanos-generation corpora (the sf1 ScaleUp snapshot) store ts as
      // INT64 nanos — probe-read them as long, normalize below
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = graft.operators.Tables.normalizeEventTs(
          spark.read.parquet(s"$dir/events.parquet"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val maxTs = ev.agg(max(col("ts"))).as[java.sql.Timestamp].collect()(0)
      val late = ev
        .filter(col("ts") > lit(maxTs) - expr(s"INTERVAL $LateWindowHours HOURS"))
        .withColumn("ts", col("ts") - expr(s"INTERVAL $LateShiftHours HOURS"))
        .withColumn("event_id", col("event_id") + 1000000000L)
      val flush = Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 1000L * 3600 * 1000),
          -1L, EventStreamOps.FlushEventType, 0.0d, null.asInstanceOf[String]))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      Seq("0_main" -> ev, "1_late" -> late, "2_flush" -> flush).map {
        case (name, df) =>
          val tmp = d.resolve(s"w_$name")
          df.coalesce(1).write.parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).filter(p =>
            p.getFileName.toString.endsWith(".parquet")).findFirst().get()
          val dst = d.resolve(s"$name.parquet")
          java.nio.file.Files.copy(part, dst)
          dst
      }
    }

  /** The streamed audit table: per-hour admitted rows + the engine's own
    * `__dropped__` counter row.
    *
    * The slices LAND PHASED — the main snapshot before the query starts,
    * the late slice only after the main batch fully commits, the flush
    * after that — with `processAllAvailable()` between landings, and the
    * session keeps no-data micro-batches ON (the default, NOT the replay
    * session's off): measured on this Spark, the watermark advance from
    * batch N is COMMITTED for batch N+1's late-row filter by the no-data
    * batch that follows N — with back-to-back file batches (or no-data
    * batches disabled) the late slice is filtered against the PREVIOUS
    * watermark and nothing drops (WmProbe/WmProbe2 pinned both regimes;
    * retired to git history — LateDataAuditSpec holds the live proof).
    * That is faithful to production: a late burst arrives in a later
    * trigger than the data that advanced the watermark, not fused into
    * the same one. */
  def st15LateAudit(rootSpark: SparkSession, dir: String): DataFrame = {
    val slices = stagedSlices(rootSpark, dir)
    val spark = rootSpark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // PIN the one-split-per-file invariant the __dropped__ oracle rests
    // on: the meter counts post-partial-agg rows, which equal distinct
    // expired windows only while each replay file is ONE input split —
    // coalesce(1) makes one FILE, but the file source would still split
    // it at maxPartitionBytes (default 128 MB), and a window straddling
    // two splits would double-count in the meter at exactly the scales
    // where the slice outgrows the default. Session-local; the audit
    // semantics must not depend on a tuning default.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024g")
    import spark.implicits._
    val name = s"st15_${System.nanoTime()}"
    // fresh watched dir per run: a reused one would replay every file in
    // one burst of back-to-back batches — the no-drop regime above
    val watch = graft.core.FsUtil.scratchDir("graft-st15-watch")
    graft.core.FsUtil.deleteOnExitRecursively(watch)
    def land(i: Int): Unit = {
      val dst = watch.resolve(slices(i).getFileName)
      java.nio.file.Files.copy(slices(i), dst)
      // ascending mtimes: deterministic order on any re-listing
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    land(0)
    val src = spark.readStream
      .schema(EventStreamOps.eventSchema(TimestampType))
      .option("maxFilesPerTrigger", "1")
      .parquet(watch.toString)
    val agged = src.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      // decimal accumulate (the st-family rule): order-independent, so
      // stream output hash-matches the batch/DuckDB recomputation
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("bucket"),
        col("n"), col("sum_value"))
    val q = agged.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    val dropped = try {
      q.processAllAvailable()          // main batch + wm-committing no-data batch
      land(1); q.processAllAvailable() // late slice filters against main's wm
      land(2); q.processAllAvailable() // flush advances wm past every real window
      q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
    } finally q.stop()
    spark.table(name).unionByName(
      Seq(("__dropped__", dropped)).toDF("bucket", "n")
        .withColumn("sum_value", lit(null).cast("double")))
      .orderBy("bucket")
  }
}
