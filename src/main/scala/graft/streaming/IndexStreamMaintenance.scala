package graft.streaming

import graft.operators.{AnnIndexStore, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * st21: index DELETIONS arriving ON A STREAM — the production shape of
 * v23's verb: retraction requests (opt-outs, takedown queues) don't
 * arrive as one batch, they trickle in, and each micro-batch must land
 * as a durable tombstone commit the very next serve respects. Each
 * batch runs [[AnnIndexStore.deleteIds]] — an O(batch) VersionedTable
 * append through the same atomic write-then-publish commit protocol
 * every other index mutation uses — so the tombstone table accumulates
 * one immutable segment per non-empty micro-batch and the serve's
 * anti-join reads them all through the manifest.
 *
 * Carving-independence is SET UNION: the final tombstone set is the
 * union of the batches however the queue is sliced, and the serve is a
 * pure function of (index, tombstone set) — so the streamed lifecycle
 * shares v23's oracle verbatim (the st14/st18/st20 pattern), and a
 * micro-batch append that dropped, duplicated-with-effect, or mangled
 * one id would surface as a hash break.
 *
 * Scale: per-batch cost is one |batch|-row segment write + manifest
 * CAS; the serve cost is v23's (the mask broadcasts the accumulated id
 * set — compaction folds it into the body when the mask outgrows its
 * amortization, exactly as v23 documents).
 */
object IndexStreamMaintenance {

  private[streaming] val idSchema: StructType = StructType(Seq(
    StructField("neighbor_id", LongType)))

  /** The maintained index root and the staged retraction queue, tagged
    * `stage`. */
  private[graft] val memo =
    new graft.BenchMemos.CountedMemo("IndexStreamMaintenance")

  /** Stage the retraction queue (v23's delete slice) as 4 range files —
    * several real micro-batches with pinned contents. */
  private[streaming] def stagedDeletes(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-st21", tag = "stage") { d =>
      val out = d.resolve("deletes").toString
      Tables.t(spark, dir, "embeddings")
        .filter(expr(AnnIndexStore.V23DeleteSql))
        .select(col("vec_id").as("neighbor_id"))
        .repartitionByRange(4, col("neighbor_id"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Persist the full index once, then drain the retraction stream into
    * it (idempotent per session); returns the index root. */
  private[graft] def maintainedRoot(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-annidx-st21") { d =>
      AnnIndexStore.persist(spark, dir, d.toString)
      val stream = spark.readStream
        .schema(idSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedDeletes(spark, dir))
      val q = stream.writeStream
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          if (!batch.isEmpty) AnnIndexStore.deleteIds(spark, d.toString, batch.toDF())
        }
        .option("checkpointLocation", EventStreamOps.replayCheckpointDir("st21"))
        .queryName("st21").start()
      try q.processAllAvailable() finally q.stop()
      d.toString
    }

  /** The driver row: serve AFTER the retraction stream drained — v23's
    * oracle verbatim (same index, same final tombstone set). */
  def st21StreamIndexDelete(spark: SparkSession, dir: String): DataFrame =
    AnnIndexStore.serveTopK(spark, dir, maintainedRoot(spark, dir))
}
