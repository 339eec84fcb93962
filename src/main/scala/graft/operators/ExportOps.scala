package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * z8: the curation pipeline's EXPORT step — the artifact a training run
 * actually consumes. Composes two already-proven stages end to end and
 * then LANDS the result: x10's near-dup drop (only canonical cluster
 * keepers survive) feeds z3's concat-and-chop packing (exact global token
 * offsets via [[ExactOffsets]] — no unpartitioned window), sequences
 * group into fixed-token SHARDS, and the shard composition is written as
 * partitioned parquet (one directory per shard — the layout a data loader
 * opens shard-at-a-time) with the manifest read back FROM THE WRITTEN
 * FILES: the driver row reports what is actually on disk, not what was
 * about to be written.
 *
 * The manifest is per (shard, source): documents contributing and their
 * token fill — the per-source mix table a training-data audit signs off
 * on (every shard but the last fills to exactly [[ShardTokens]]; the
 * per-source split shows sampling skew shard by shard).
 *
 * Scale: the drop list joins without a broadcast hint (AQE size-gates —
 * near-dup-heavy corpora make it corpus-sized); offsets are the
 * O(nParts) two-pass scaffold; the shard explode fans each doc to the
 * 1 + toks/[[ShardTokens]] shards it touches (bounded); and the export
 * writes (ids + 4 longs) per row, never text — the text joins back
 * shard-locally at load time by doc_id, which is why the manifest stays
 * KB-scale while the corpus is 100 TB. partitionBy(shard_id) makes the
 * write one shuffle-free pass (rows are already shard-clustered by the
 * range partitioning, so each task writes a handful of shard dirs).
 */
object ExportOps {
  /** Tokens per training sequence (z3's capacity) and sequences per
    * shard: 64 × 2048 = 131072 tokens per shard file. */
  private val SeqsPerShard = 64L
  private[operators] val ShardTokens: Long = TextQueries.PackCapacity * SeqsPerShard

  /** The shard composition rows `(shard_id, doc_id, source, strt, fin,
    * take)` — `take` = tokens of doc inside this shard's token range. */
  private[operators] def shardRows(spark: SparkSession, dir: String): DataFrame = {
    val dropped = DedupQueries.x7DupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val toks = Tables.t(spark, dir, "documents")
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        TextQueries.tokenCount(col("text")).as("toks"))
      .filter(col("toks") > 0)
    val (withOffsets, _) = ExactOffsets.withPartitionOffsets(
      spark, toks, Seq(col("doc_id")), col("toks"), "tok_offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("doc_id")
    withOffsets
      .withColumn("fin", sum(col("toks")).over(w) + col("tok_offset"))
      .withColumn("strt", col("fin") - col("toks"))
      .withColumn("shard_id",
        explode(sequence(expr(s"strt DIV $ShardTokens"),
          expr(s"(fin - 1) DIV $ShardTokens"))))
      .withColumn("take",
        least(col("fin"), (col("shard_id") + 1) * ShardTokens) -
          greatest(col("strt"), col("shard_id") * ShardTokens))
      .select("shard_id", "doc_id", "source", "strt", "fin", "take")
  }

  /** Export root memo — one write per (session, corpus); the manifest
    * query and the round-trip spec both read the same landed files. A
    * clear deletes the superseded export (bench warm→timed re-exports; a
    * second full shard tree until JVM exit is pure disk-footprint tax). */
  private[graft] val memo = new graft.BenchMemos.CountedMemo("ExportOps")

  /** Write the sharded export (idempotent per session) and return its
    * root: `<root>/shard_id=<n>/part-*.parquet`. */
  private[operators] def exportRoot(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-z8-export") { d =>
      val out = d.resolve("shards").toString
      shardRows(spark, dir)
        .write.partitionBy("shard_id").mode("overwrite").parquet(out)
      out
    }

  /** z8: the export manifest, read back from the WRITTEN shards — per
    * (shard, source) document count and token fill. A hash-match against
    * the composed x10+z3 SQL proves drop→pack→shard→land loses nothing. */
  def z8ShardExport(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(exportRoot(spark, dir))
      .groupBy("shard_id", "source")
      .agg(count(lit(1)).as("n_docs"), sum("take").as("fill_tokens"))
      .orderBy("shard_id", "source")
}
