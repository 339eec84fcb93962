package graft.streaming

import graft.operators.{DedupQueries, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * st14: STREAMING ingest-time near-dup rejection — x11's incremental
 * dedupe verdict (new doc vs the existing corpus' MinHash-LSH index)
 * computed AT INGEST, micro-batch by micro-batch: the crawl-landing shape
 * where new documents arrive continuously and each is admitted or dropped
 * against the standing index before it ever lands in the corpus.
 *
 * Operator class: stream + STATIC index sides via `foreachBatch`
 * (DedupeStreamIngest's pattern — the per-batch pipeline is ordinary
 * batch DataFrame algebra, so the band join, exact-Jaccard verification
 * and best-match window all run with their batch plans and AQE). The
 * computation is STATELESS ACROSS BATCHES by construction: a new doc's
 * verdict depends only on its own text and the static old-corpus index —
 * never on other streamed docs — so micro-batch boundaries provably
 * cannot change any verdict, and the finite replay needs no watermark,
 * no state store, and no flush tail. That independence is what makes the
 * DuckDB oracle possible: the streamed output must hash-match x11's
 * BATCH oracle verbatim (same banding, same verification, same
 * tie-break), which is exactly the driver's compare.
 *
 * Per-row arithmetic is bit-identical to the batch side by sharing code,
 * not by reimplementation: [[DedupQueries.shingleStats]] computes the
 * shingle set + signatures, [[DedupQueries.bandRowsOf]] the band keys,
 * and the static sides are projections of the same session memo the
 * batch sweep uses (one tokenize pass per session, ever).
 *
 * Scale: the static index is corpus-sized but co-partitions/AQE-plans
 * per batch like any batch join — never driver-resident, never
 * broadcast wholesale; per-batch work scales with the BATCH (bands per
 * new doc × collision fan-in), the x11 contract. Output lands in the
 * replay file sink (nothing driver-resident) and reads back as the
 * (doc_id, keep, dup_of, jaccard) admission table.
 */
object CorpusStreamDedup {

  private[streaming] val newDocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private[graft] val memo = new graft.BenchMemos.CountedMemo("CorpusStreamDedup")

  /** Stage the NEW slice (doc_id % 7 = 0 — x11's increment) as 4 parquet
    * part files so maxFilesPerTrigger=1 yields several REAL micro-batches;
    * memoized per (session, corpus). */
  private[streaming] def stagedNewDocs(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-st14") { d =>
      val out = d.resolve("new").toString
      // Range-partition (EventStreamOps' staging discipline), not
      // round-robin: per-doc verdict independence makes st14 immune to
      // batch composition TODAY, but a round-robin stage would let any
      // future stateful extension become silently batch-order-dependent
      // across sessions. Range by doc_id pins each micro-batch's contents.
      Tables.t(spark, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select("doc_id", "text")
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** The streamed admission table: one row per new doc with its
    * keep/drop verdict, the best old-corpus match, and its Jaccard. */
  def st14StreamIngestDedup(spark: SparkSession, dir: String): DataFrame = {
    // static sides: built (or fetched) from the session memo BEFORE the
    // stream starts; every micro-batch joins the same materialized index
    val oldBands = DedupQueries.oldBandIndex(spark, dir)
    val oldSets = DedupQueries.oldShingleSets(spark, dir)
    val sink = EventStreamOps.replaySinkDir("st14")
    val stream = spark.readStream
      .schema(newDocsSchema)
      .option("maxFilesPerTrigger", "1") // several real micro-batches
      .parquet(stagedNewDocs(spark, dir))
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        import batch.sparkSession.implicits._
        // one narrow pass per batch row — the SAME per-doc arithmetic as
        // the batch memo; persisted DISK_ONLY because two consumers reuse
        // it (band rows, verification arrays) and RELEASED when the batch
        // lands: a suite-length run must not accumulate per-batch blocks
        // on the heap (the r8 sf1 OOM lesson — an earlier localCheckpoint
        // here tipped the 8 GiB full-suite margin at sf1)
        val stats = batch.as[(Long, String)].map { case (id, text) =>
          val (hs, sigs) = DedupQueries.shingleStats(text)
          (id, hs, hs.length, sigs)
        }.toDF("doc_id", "hs", "n", "sigs")
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        try {
          stats.count()
          val cands = DedupQueries.bandRowsOf(stats.select("doc_id", "sigs")).as("a")
            .join(oldBands.as("b"),
              col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
            .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
            .dropDuplicates("doc_a", "doc_b")
          val matches = cands
            .join(stats.select(col("doc_id").as("doc_a"),
              col("hs").as("ha"), col("n").as("na")), "doc_a")
            .join(oldSets.select(col("doc_id").as("doc_b"),
              col("hs").as("hb"), col("n").as("nb")), "doc_b")
            .withColumn("inter",
              graft.functions.SortedIntersectSize.sortedIntersectSize(col("ha"), col("hb")))
            .withColumn("jaccard",
              round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
            .filter(col("jaccard") >= 0.5)
          val w = Window.partitionBy("doc_a").orderBy(col("jaccard").desc, col("doc_b"))
          val best = matches.withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1)
            .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"), col("jaccard"))
          batch.select("doc_id").join(best, Seq("doc_id"), "left")
            .select(col("doc_id"),
              col("dup_of").isNull.cast("long").as("keep"),
              col("dup_of"), col("jaccard"))
            .write.mode("append").parquet(sink.toString)
        } finally stats.unpersist(blocking = false)
      }
      .option("checkpointLocation", EventStreamOps.replayCheckpointDir("st14"))
      .queryName("st14").start()
    try q.processAllAvailable() finally q.stop()
    // Explicit schema: with an empty increment (no doc_id % 7 rows)
    // foreachBatch never appends a file and schema inference would throw
    // on the bare sink dir — the batch path (x11) returns an empty frame
    // for the same input, so the stream path must too.
    val admissionSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("keep", LongType),
      StructField("dup_of", LongType), StructField("jaccard", DoubleType)))
    spark.read.schema(admissionSchema).parquet(sink.toString).orderBy("doc_id")
  }
}
