package graft.streaming

import graft.operators.{MultimodalOps, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * st19: STREAMING ingest-time admission for AUDIO — the missing twin of
 * st17's image lane (r11's streamed-media symmetry gap): each arriving
 * clip is decoded through the REAL RIFF/WAV chunk-walking parser
 * (m9's [[MultimodalOps.decodeWav]], shared code) and judged at ingest:
 *   1. a CLIPPING gate — peak |sample| above [[ClipPeak]] is distorted
 *      capture, dropped;
 *   2. a LOUDNESS floor — mean |sample| below [[QuietMilli]]/1000 is
 *      near-silence, dropped (the cross-multiplied long compare, never a
 *      double division);
 *   3. a DEDUPE probe — the survivor's content fingerprint (md5 of the
 *      canonical s16le sample bytes) against the STANDING corpus' curated
 *      fingerprint table; an exact match is a repeated capture, dropped
 *      with the earliest standing twin as evidence.
 *
 * Operator class: stream + static table via `foreachBatch` (the
 * st14/st17 scaffold). The verdict is STATELESS ACROSS BATCHES by
 * construction — thresholds are constants and the fingerprint index is
 * the static standing corpus — so micro-batch carving provably cannot
 * change any verdict and the batch oracle carries over verbatim.
 *
 * The oracle leans on m9's design: every decoded statistic is integer
 * arithmetic on doc_id (square-wave params), so DuckDB re-derives
 * loudness/peak from a ≤64-row half-period series per doc (NOT the
 * per-sample unnest — the m9-at-sf3 oracle-cost lesson), and the
 * fingerprint equivalence collapses to the doc-id class `doc_id % 140`
 * (the parameter period: lcm(5,4,7) — ids in one class render
 * byte-identical clips). A decode slip — byte order, sign, chunk walk,
 * or fingerprint canonicalization — breaks the dup lane's hash match.
 *
 * Scale: per-batch work is one in-partition decode pass over the batch
 * plus a fingerprint join against (doc_id, 32-char fp) rows — audio
 * bytes never shuffle; the standing index is KBs per million clips. The
 * admission verdicts a 100 TB crawl needs at the door, priced per batch.
 */
object CorpusStreamAudio {

  private[streaming] val newDocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType)))

  /** Clipping gate: drop when peak |sample| exceeds this. With m9's
    * amplitude law (500 + 31·(id%7) + 113·(k%5), peak = 952 + 31·(id%7))
    * this gates exactly the id%7 ∈ {5,6} classes — measured 68 of the
    * 233 incoming docs at the 500-doc gate corpora. */
  private[streaming] val ClipPeak = 1100L

  /** Loudness floor in mean-milli-units: drop when
    * sum_abs · 1000 < n · QuietMilli (exact long cross-multiply). Gates
    * the id%7 = 0 class (mean ≈ 726 < 740) — 34 docs at the gate SFs. */
  private[streaming] val QuietMilli = 740000L

  /** The incoming slice: whole fingerprint classes (doc_id%140 % 5 = 0 —
    * every twin arrives in the stream, so survivors are KEPT) plus the
    * doc_id % 3 = 0 cross-section (standing twins exist → DUP). One
    * rendering serves both engines: `%` is the integer modulo in Spark
    * SQL and DuckDB alike. */
  private[streaming] val NewSliceSql =
    "(doc_id % 140) % 5 = 0 OR doc_id % 3 = 0"

  /** The standing fingerprint store and the staged incoming slice,
    * tagged `stage`. */
  private[graft] val memo = new graft.BenchMemos.CountedMemo("CorpusStreamAudio")

  /** Decode a doc-id frame through the real WAV parser and reduce each
    * clip to (n_samples, sum_abs, peak, fingerprint) — the one pass both
    * the standing index and every micro-batch run. The fingerprint is
    * md5 over the CANONICAL little-endian s16 rendering of the decoded
    * samples: content identity, independent of container framing. */
  private def featuresOf(ids: DataFrame): DataFrame = {
    import ids.sparkSession.implicits._
    ids.select("doc_id").as[Long].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val samples = MultimodalOps.decodeWav(MultimodalOps.m9SyntheticWav(id)).samples
        var sumAbs = 0L; var peak = 0L
        val bytes = java.nio.ByteBuffer.allocate(samples.length * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        samples.foreach { s =>
          val v = math.abs(s.toLong)
          sumAbs += v
          if (v > peak) peak = v
          bytes.putShort(s)
        }
        md.reset()
        val fp = md.digest(bytes.array()).map("%02x".format(_)).mkString
        (id, samples.length.toLong, sumAbs, peak, fp)
      }
    }.toDF("doc_id", "n_samples", "sum_abs", "peak", "fp")
  }

  private def gatePass = col("peak") <= ClipPeak &&
    col("sum_abs") * 1000L >= col("n_samples") * QuietMilli

  /** The standing corpus' CURATED fingerprint table — only clips that
    * themselves pass the admission gate live in the store (the store
    * contains what admission admitted). One decode pass per session,
    * localCheckpointed: (doc_id, fp) rows, KB-scale. */
  private[streaming] def standingFps(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir) {
      // fan out the STANDING-index decode (the st17 rationale — one scan
      // partition serialized the WAV decode at bench SFs); per-batch
      // decodes stay as-arrived
      featuresOf(Tables.fanOutSmallScan(
          Tables.t(spark, dir, "documents")
            .filter(not(expr(NewSliceSql))), "doc_id"))
        .filter(gatePass)
        .select("doc_id", "fp")
        .localCheckpoint()
    }

  /** Stage the incoming slice as 4 range-partitioned part files (st17's
    * staging discipline: pinned batch contents, several real batches). */
  private[streaming] def stagedNewDocs(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-st19", tag = "stage") { d =>
      val out = d.resolve("new").toString
      Tables.t(spark, dir, "documents").filter(expr(NewSliceSql))
        .select("doc_id")
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** The admission verdicts for one frame of arriving doc ids against
    * the standing fingerprint table — the per-micro-batch plan, and
    * (run over the whole slice at once) the batch twin the spec pins
    * stream output against: stateless per batch, so the two are equal
    * by construction. */
  private def admitAgainst(batch: DataFrame, standing: DataFrame): DataFrame = {
    val feats = featuresOf(batch)
    // earliest standing twin per fingerprint (deterministic evidence)
    val dups = standing.groupBy("fp").agg(min("doc_id").as("dup_of"))
    feats.join(dups, Seq("fp"), "left")
      .select(col("doc_id"), col("n_samples"), col("sum_abs"), col("peak"),
        when(col("peak") > ClipPeak, "clipped")
          .when(col("sum_abs") * 1000L < col("n_samples") * QuietMilli, "quiet")
          .when(col("dup_of").isNotNull, "dup")
          .otherwise("keep").as("verdict"),
        // evidence only travels on dup verdicts (a clipped clip may
        // coincidentally have a standing twin; admission never reads it)
        when(gatePass, col("dup_of")).as("dup_of"))
  }

  /** The whole incoming slice through [[admitAgainst]] in ONE batch — the
    * carving-independence witness. */
  private[graft] def batchAudioAdmit(spark: SparkSession, dir: String): DataFrame =
    admitAgainst(
      Tables.t(spark, dir, "documents").filter(expr(NewSliceSql)).select("doc_id"),
      standingFps(spark, dir))
      .orderBy("doc_id")

  /** The streamed admission table: one row per incoming clip with its
    * decoded loudness stats, the verdict (clipped | quiet | dup | keep),
    * and the standing twin a dup was dropped for. */
  def st19StreamAudioAdmit(spark: SparkSession, dir: String): DataFrame = {
    val standing = standingFps(spark, dir)
    val sink = EventStreamOps.replaySinkDir("st19")
    val stream = spark.readStream
      .schema(newDocsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedNewDocs(spark, dir))
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        admitAgainst(batch.toDF(), standing)
          .write.mode("append").parquet(sink.toString)
      }
      .option("checkpointLocation", EventStreamOps.replayCheckpointDir("st19"))
      .queryName("st19").start()
    try q.processAllAvailable() finally q.stop()
    val admissionSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_samples", LongType),
      StructField("sum_abs", LongType), StructField("peak", LongType),
      StructField("verdict", StringType), StructField("dup_of", LongType)))
    spark.read.schema(admissionSchema).parquet(sink.toString).orderBy("doc_id")
  }

  /** The st19 oracle: loudness/peak from the half-period series (k ≤ 63
    * rows per doc, NOT per-sample — exact closed-form integer sums), the
    * gate CASE with the same constants, and the dup lane as the doc-id
    * class join (`doc_id % 140` — byte-identical clips by the parameter
    * period) against the gate-passing standing slice. */
  def st19OracleSql: String =
    s"""WITH nd AS (SELECT doc_id, 1024 + 256 * (doc_id % 5) AS n,
       |    32 + 8 * (doc_id % 4) AS half, doc_id % 7 AS m7 FROM documents),
       |ks AS (SELECT doc_id, n, half, m7, g.k
       |  FROM nd CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) g
       |  WHERE g.k * half < n),
       |f AS (SELECT doc_id, CAST(min(n) AS BIGINT) AS n_samples,
       |    CAST(sum((500 + 31 * m7 + 113 * (k % 5))
       |      * (least((k + 1) * half, n) - k * half)) AS BIGINT) AS sum_abs,
       |    CAST(max(500 + 31 * m7 + 113 * (k % 5)) AS BIGINT) AS peak
       |  FROM ks GROUP BY 1),
       |g2 AS (SELECT doc_id, n_samples, sum_abs, peak,
       |    (peak <= $ClipPeak AND sum_abs * 1000 >= n_samples * $QuietMilli) AS pass
       |  FROM f),
       |std AS (SELECT doc_id, doc_id % 140 AS cls FROM g2
       |  WHERE NOT ($NewSliceSql) AND pass),
       |nw AS (SELECT * FROM g2 WHERE $NewSliceSql),
       |dup AS (SELECT n.doc_id, min(s.doc_id) AS dup_of
       |  FROM nw n JOIN std s ON s.cls = n.doc_id % 140
       |  WHERE n.pass GROUP BY 1)
       |SELECT n.doc_id, n.n_samples, n.sum_abs, n.peak,
       |  CASE WHEN n.peak > $ClipPeak THEN 'clipped'
       |       WHEN n.sum_abs * 1000 < n.n_samples * $QuietMilli THEN 'quiet'
       |       WHEN d.dup_of IS NOT NULL THEN 'dup'
       |       ELSE 'keep' END AS verdict,
       |  d.dup_of
       |FROM nw n LEFT JOIN dup d ON d.doc_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin
}
