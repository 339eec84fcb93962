package graft.streaming

import graft.operators.{MultimodalOps, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * st17: STREAMING ingest-time near-dup rejection for IMAGES — m8's
 * perceptual fingerprint verdict (incoming image vs the standing
 * corpus' dHash band index) computed AT INGEST, micro-batch by
 * micro-batch: st14's crawl-landing shape on the vision side, where a
 * media ingest admits or drops each arriving image before it lands in
 * the content store.
 *
 * Operator class: stream + STATIC index via `foreachBatch` (the st14
 * scaffold exactly) — per-batch work is ordinary batch algebra, so the
 * band join and Hamming verify run with their batch plans and AQE. The
 * verdict is STATELESS ACROSS BATCHES by construction (a new image is
 * compared only against the static old index, never other streamed
 * images), so micro-batch carving provably cannot change any verdict
 * and the DuckDB oracle is the BATCH arithmetic restricted to new×old
 * pairs — m8's luma/hash/banding SQL plus a best-match window.
 *
 * The slice makes both verdicts REAL: new docs are (a) whole twin PAIRS
 * of pair-class 0 — their only near-dup arrives in the same stream, so
 * they are KEPT — and (b) the odd member of each pair-class-1 pair,
 * whose even twin stands in the old index, so it is DROPPED with the
 * twin as evidence. Per-row arithmetic is shared code, not
 * reimplementation: [[MultimodalOps.m8SyntheticPng]] → ImageIO decode →
 * [[MultimodalOps.dHash56]] on the stream side, and the static index is
 * one decode pass memoized per session.
 *
 * Scale: the static index is (doc_id, hash) rows — 8-byte fingerprints,
 * not media — and the per-batch candidate volume is band-bucket-bounded
 * by the BATCH (bands per new image × collision fan-in), the x11/st14
 * contract; payload bytes never shuffle on either side.
 */
object MediaStreamDedup {

  private[streaming] val newDocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType)))

  /** The incoming slice: whole class-0 pairs (keeps) + class-1 odd
    * members (drops). One rendering for Spark and the oracle. */
  private[streaming] val NewSliceSql =
    "(doc_id div 2) % 3 = 0 OR (doc_id % 2 = 1 AND (doc_id div 2) % 3 = 1)"

  /** The same predicate in DuckDB's integer-division spelling. */
  private[streaming] val NewSliceDuck =
    "(doc_id // 2) % 3 = 0 OR (doc_id % 2 = 1 AND (doc_id // 2) % 3 = 1)"

  /** The standing fingerprint index and the staged incoming slice,
    * tagged `stage`. */
  private[graft] val memo = new graft.BenchMemos.CountedMemo("MediaStreamDedup")

  /** Fingerprints of a doc-id frame: generate payload, decode, dHash —
    * the m8 pass, shared verbatim by the static index and each batch. */
  private def hashesOf(ids: DataFrame): DataFrame = {
    import ids.sparkSession.implicits._
    ids.select("doc_id").as[Long].mapPartitions { it =>
      it.map { id =>
        (id, MultimodalOps.dHash56(MultimodalOps.ImageIoCodec.read(
          id, MultimodalOps.m8SyntheticPng(id))))
      }
    }.toDF("doc_id", "hash")
  }

  private def bandsOf(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), col("hash"),
        explode(array((0 until 4).map(b => lit(b)): _*)).as("band"))
      .withColumn("bkey", expr("shiftright(hash, 14 * band) & 16383"))

  /** The standing corpus' fingerprint index: ONE decode pass per session
    * (localCheckpoint — KBs of (doc_id, hash) rows), like the dedupe
    * family's session memos. */
  private[streaming] def oldHashes(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir) {
      // fan out the STANDING-index decode (corpus-scale, one scan
      // partition at bench SFs — r17, Tables.fanOutSmallScan); per-batch
      // decodes stay as-arrived, batch-scale work by contract
      hashesOf(graft.operators.Tables.fanOutSmallScan(
        Tables.t(spark, dir, "documents")
          .filter(not(expr(NewSliceSql))), "doc_id")).localCheckpoint()
    }

  /** Stage the incoming slice as 4 range-partitioned part files so
    * maxFilesPerTrigger=1 yields several REAL micro-batches (st14's
    * staging discipline — range, not round-robin, so batch contents are
    * pinned across sessions). */
  private[streaming] def stagedNewDocs(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-st17", tag = "stage") { d =>
      val out = d.resolve("new").toString
      Tables.t(spark, dir, "documents").filter(expr(NewSliceSql))
        .select("doc_id")
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** The streamed admission table: one row per incoming image with its
    * keep/drop verdict, the best standing match, and its Hamming
    * distance. */
  def st17StreamPhashAdmit(spark: SparkSession, dir: String): DataFrame = {
    val oldBands = bandsOf(oldHashes(spark, dir))
    val sink = EventStreamOps.replaySinkDir("st17")
    val stream = spark.readStream
      .schema(newDocsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedNewDocs(spark, dir))
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // one decode pass per batch, checkpointed because the band lane
        // and the verify lane both read it (m8's fingerprint-table move);
        // a batch is <=1/4 of the slice — KBs of hash rows
        val hashes = hashesOf(batch.toDF()).localCheckpoint()
        val cands = bandsOf(hashes).as("a")
          .join(oldBands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
          .select(col("a.doc_id").as("doc_a"), col("a.hash").as("ha"),
            col("b.doc_id").as("doc_b"), col("b.hash").as("hb"))
          .dropDuplicates("doc_a", "doc_b")
          .withColumn("hamming",
            bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
          .filter(col("hamming") <= 6)
        val w = Window.partitionBy("doc_a").orderBy(col("hamming"), col("doc_b"))
        val best = cands.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"),
            col("hamming"))
        batch.select("doc_id").join(best, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("dup_of").isNull.cast("long").as("keep"),
            col("dup_of"), col("hamming"))
          .write.mode("append").parquet(sink.toString)
      }
      .option("checkpointLocation", EventStreamOps.replayCheckpointDir("st17"))
      .queryName("st17").start()
    try q.processAllAvailable() finally q.stop()
    val admissionSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("keep", LongType),
      StructField("dup_of", LongType), StructField("hamming", LongType)))
    spark.read.schema(admissionSchema).parquet(sink.toString).orderBy("doc_id")
  }

  /** The st17 oracle: m8's luma/hash/banding SQL (shared text) restricted
    * to new×old pairs, then the best-match window and the keep left-join. */
  def st17OracleSql: String = {
    val perturb = "(c = 2 AND r = 0) OR (c = 5 AND r = 1)"
    s"""WITH d AS (SELECT doc_id, doc_id - (doc_id % 2) AS b, doc_id % 2 AS odd
       |  FROM documents),
       |g AS (SELECT doc_id, b, odd, cc.c, rr.r
       |  FROM d CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS c) cc
       |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS r) rr),
       |lum AS (SELECT doc_id, c, r,
       |    (299 * (((('0x' || substr(md5(b || ':' || c || ':' || r), 1, 2))::INT)
       |        + CASE WHEN odd = 1 AND ($perturb) THEN 128 ELSE 0 END) % 256)
       |     + 587 * (('0x' || substr(md5(b || ':' || c || ':' || r), 3, 2))::INT)
       |     + 114 * (('0x' || substr(md5(b || ':' || c || ':' || r), 5, 2))::INT)) // 1000 AS luma
       |  FROM g),
       |h AS (SELECT a.doc_id,
       |    CAST(sum(CASE WHEN n.luma > a.luma
       |      THEN (1::BIGINT << (a.r * 8 + a.c)) ELSE 0 END) AS BIGINT) AS hash
       |  FROM lum a JOIN lum n ON n.doc_id = a.doc_id AND n.r = a.r AND n.c = a.c + 1
       |  WHERE a.c < 8 GROUP BY 1),
       |nw AS (SELECT doc_id, hash FROM h WHERE $NewSliceDuck),
       |od AS (SELECT doc_id, hash FROM h WHERE NOT ($NewSliceDuck)),
       |nb AS (SELECT doc_id, hash, p.band, (hash >> (14 * p.band)) & 16383 AS bkey
       |  FROM nw CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) p),
       |ob AS (SELECT doc_id, hash, p.band, (hash >> (14 * p.band)) & 16383 AS bkey
       |  FROM od CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) p),
       |m AS (SELECT DISTINCT a.doc_id AS doc_a, bb.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.hash, bb.hash)) AS BIGINT) AS hamming
       |  FROM nb a JOIN ob bb ON a.band = bb.band AND a.bkey = bb.bkey),
       |best AS (SELECT doc_a, doc_b, hamming,
       |    row_number() OVER (PARTITION BY doc_a ORDER BY hamming, doc_b) AS rk
       |  FROM m WHERE hamming <= 6)
       |SELECT nw.doc_id,
       |  CAST(CASE WHEN bst.doc_b IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
       |  bst.doc_b AS dup_of, bst.hamming
       |FROM nw LEFT JOIN (SELECT * FROM best WHERE rk = 1) bst
       |  ON bst.doc_a = nw.doc_id
       |ORDER BY doc_id""".stripMargin
  }
}
