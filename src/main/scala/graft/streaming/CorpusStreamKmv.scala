package graft.streaming

import graft.operators.{DedupQueries, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * st18: the KMV sketch MAINTAINED ON THE INGEST STREAM — p6's bottom-k
 * overlap summary built incrementally as side A's documents arrive in
 * real micro-batches, then assembled into the identical estimator row.
 * This is the third streaming-state shape in the suite, and a different
 * one from the other two: st14/st17 are STATELESS verdicts per batch,
 * st16 is a Complete-mode COUNT aggregation — st18 carries a RUNNING
 * MERGEABLE SUMMARY across batches (merge = union + re-take bottom-k),
 * the production shape of a continuous corpus-overlap / dedup-rate
 * monitor that never stores more than k hashes.
 *
 * Why the oracle is exact: bottom-k is a MERGEABLE sketch —
 * bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)) — so the running
 * sketch after any micro-batch carving equals the batch-computed
 * bottom-k of the whole side, element for element. The final row
 * assembles through [[DedupQueries.kmvAssemble]] (shared code, not
 * reimplementation) and shares p6's DuckDB oracle verbatim; any drift
 * in any sketch element would shift kth/matches/union_est and break
 * the hash compare.
 *
 * Scale: per-batch work is one shingle/hash pass over the BATCH plus a
 * merge that never exceeds k + |batch distinct| rows before the
 * re-take; the carried state is k (doc-independent) 8-byte hashes —
 * driver-held here, a keyed state store entry in a production
 * continuous job. Payload text never crosses a batch boundary.
 */
object CorpusStreamKmv {

  private[streaming] val newDocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private[graft] val memo = new graft.BenchMemos.CountedMemo("CorpusStreamKmv")

  /** Stage side A (p6's source split) as 4 range-partitioned part files
    * so maxFilesPerTrigger=1 yields several REAL micro-batches. */
  private[streaming] def stagedSideA(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-st18") { d =>
      val out = d.resolve("new").toString
      Tables.t(spark, dir, "documents").filter(expr(DedupQueries.KmvSideASql))
        .select("doc_id", "text")
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** The estimator row assembled from the STREAM-built side-A sketch. */
  def st18StreamKmv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the running sketch: k 8-byte hashes, re-taken per batch — the
    // driver-held equivalent of one state-store entry
    var sketch: DataFrame = Seq.empty[Long].toDF("h")
    val stream = spark.readStream
      .schema(newDocsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedSideA(spark, dir))
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val batchHashes = batch
          .select(explode(expr(DedupQueries.ShingleHashSparkSql)).as("h"))
          .distinct()
        // mergeable-summary step: union with the carried sketch, re-take
        // the k smallest; localCheckpoint releases the batch's lineage
        // (an unbounded lineage chain across batches is the streaming
        // equivalent of the r8 heap lesson)
        sketch = sketch.union(batchHashes)
          .distinct().orderBy("h").limit(DedupQueries.KmvK)
          .localCheckpoint()
      }
      .option("checkpointLocation", EventStreamOps.replayCheckpointDir("st18"))
      .queryName("st18").start()
    try q.processAllAvailable() finally q.stop()
    DedupQueries.kmvAssemble(spark, dir, sketch)
  }
}
