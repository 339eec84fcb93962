package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * st13: STREAMING JSONL corpus ingest with quarantine — the batch source
 * contract ([[graft.sources.TextCorpusSource]]: explicit schema, never
 * inference; PERMISSIVE + quarantine, never fail-fast or silent drop)
 * proven to hold micro-batch by micro-batch, which is how a crawl
 * pipeline actually lands: files arrive continuously, some torn, and the
 * ingest job must neither die (FAILFAST at hour N) nor silently lose the
 * torn lines (DROPMALFORMED). The stream is a pure STATELESS
 * classification (no watermark, no state store): every line becomes a
 * `(source)` row, with unparseable or null-key lines rerouted to the
 * `__corrupt__` bucket, landed in a parquet file sink (the r8 replay-sink
 * discipline — nothing driver-resident), and the per-source admission
 * counts read back batch-side. good + corrupt reconcile to input lines by
 * construction.
 *
 * The replay stages the documents corpus as JSONL plus DETERMINISTIC torn
 * evidence — for every doc with `doc_id % 97 == 0`, the first 20 bytes of
 * its JSON line (never valid JSON at that length) — so the DuckDB oracle
 * states the expected outcome in one line per bucket: every real doc
 * admitted under its source, exactly the % 97 docs quarantined. The
 * staged dir and the finished counts are session-memoized (bench warmup +
 * timed pass pay the stage once; corpus dirs are immutable in-session).
 */
object CorpusStreamIngest {
  import graft.sources.TextCorpusSource.{documentsSchema, writeDocumentsJsonl}

  val CorruptBucket = "__corrupt__"

  private[graft] val memo = new graft.BenchMemos.CountedMemo("CorpusStreamIngest")

  /** Stage `documents` as JSONL part files + one torn-lines file. */
  private def stagedJsonl(spark: SparkSession, dir: String): java.nio.file.Path =
    memo.withScratch(spark, dir, "graft-st13") { d =>
      val docs = graft.operators.Tables.t(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      writeDocumentsJsonl(docs, d.resolve("good").toString)
      // flatten the writer's part files into the watch dir (the stream
      // source lists one flat dir; Spark's own _SUCCESS/_temporary stay
      // behind because only *.txt moves)
      val good = d.resolve("good")
      val walk = java.nio.file.Files.walk(good)
      try {
        val it = walk.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".txt")).iterator()
        var i = 0
        while (it.hasNext) {
          java.nio.file.Files.move(it.next(), d.resolve(s"good_$i.jsonl"))
          i += 1
        }
      } finally walk.close()
      // deterministic torn evidence: 20-byte prefixes are never valid JSON
      val torn = docs.filter(col("doc_id") % 97 === 0)
        .orderBy("doc_id")
        .select(substring(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))), 1, 20).as("line"))
        .collect().map(_.getString(0)) // bounded: 1/97 of a replay corpus
      java.nio.file.Files.write(d.resolve("torn.jsonl"),
        torn.mkString("\n").getBytes("UTF-8"))
      d
    }

  /** Per-source admission counts of the streamed ingest (one row per real
    * source + the `__corrupt__` bucket). */
  def st13StreamJsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedJsonl(spark, dir)
    val sink = graft.core.FsUtil.scratchDir("graft-st13-sink")
    graft.core.FsUtil.deleteOnExitRecursively(sink)
    val stream = spark.readStream
      .schema(documentsSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", "1") // several real micro-batches
      .json(staged.toString)
    val classified = stream.select(
      when(col("_corrupt_record").isNotNull ||
        col("doc_id").isNull || col("text").isNull, lit(CorruptBucket))
        .otherwise(col("source")).as("source"))
    val q = classified.writeStream
      .format("parquet")
      .option("path", sink.resolve("out").toString)
      .option("checkpointLocation", sink.resolve("chk").toString)
      .outputMode("append")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    spark.read.parquet(sink.resolve("out").toString)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .orderBy("source")
  }
}
