package graft.streaming

import graft.engine.DedupeEngine
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, countDistinct, sha2}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Continuous deduplicating ingest: pipe a STREAM of (objectKey STRING,
 * data BINARY) rows into a [[DedupeEngine]]. The reference is strictly
 * batch/request-driven (DedupeLibrary.cs write paths); this is the
 * Spark-native greenfield face — documents arriving on a stream are
 * chunked, deduplicated against everything already stored, and committed
 * incrementally.
 *
 * Semantics:
 *   - `foreachBatch` runs micro-batches SEQUENTIALLY, so the engine's
 *     single-writer commit contract holds with no extra coordination.
 *   - The sink is IDEMPOTENT: each batch left-anti-joins the engine's
 *     current objects snapshot on objectKey, so a replayed batch (restart
 *     from checkpoint, at-least-once source) re-ingests nothing and never
 *     trips the duplicate-key guard — at-least-once delivery + idempotent
 *     sink = effectively-once storage. Duplicates WITHIN one batch (an
 *     at-least-once source repeating a key before any commit) are
 *     collapsed to one exemplar too — otherwise both copies survive the
 *     snapshot anti-join, the ingest guard throws, and the identical
 *     replayed batch poisons the checkpoint permanently. Collapse applies
 *     ONLY to byte-identical repeats (what at-least-once delivery
 *     produces): one key carrying DIFFERENT payloads in a batch is a
 *     producer bug and fails as loudly as the batch ingest path — pick-one
 *     would be silent data loss, and which copy survived would be
 *     nondeterministic.
 *   - Work per batch is O(new data): chunking is a narrow flatMap inside
 *     `ingest`, and the dedupe joins are against key columns only.
 */
object DedupeStreamIngest {

  /** Start the ingest sink; caller owns the query lifecycle
    * (`processAllAvailable`/`stop` for finite replays, `awaitTermination`
    * in production). */
  def start(engine: DedupeEngine, objects: DataFrame, checkpointDir: String): StreamingQuery =
    objects.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val sp = batch.sparkSession
        import sp.implicits._
        val rows = batch.select(col("objectKey").cast("string"), col("data"))
        // same key + different bytes is NOT a replay — refuse it loudly
        // (the engine's duplicate-key contract), instead of silently
        // storing an arbitrary one of the payloads
        val conflicting = rows.groupBy(col("objectKey"))
          .agg(countDistinct(sha2(col("data"), 256)).as("variants"))
          .filter(col("variants") > 1)
          .select(col("objectKey")).as[String].take(5)
        if (conflicting.nonEmpty)
          throw new IllegalArgumentException(
            s"batch carries conflicting payloads for object key(s): ${conflicting.mkString(", ")}")
        val fresh = rows
          .dropDuplicates("objectKey")
          .join(engine.objects.select(col("objectKey")), Seq("objectKey"), "left_anti")
          .as[(String, Array[Byte])]
        // a fully-replayed batch dedupes to nothing: skip the commit rather
        // than advancing the table versions with empty segments
        if (!fresh.isEmpty) engine.ingest(fresh)
      }
      .start()
}
