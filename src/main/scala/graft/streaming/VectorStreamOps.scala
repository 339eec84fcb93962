package graft.streaming

import graft.operators.{SimilarityQueries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Streaming face of the vector-index maintenance increment (v8): new
 * embeddings arrive as a STREAM and are assigned to the k-means quantizer
 * trained on the existing corpus — the nightly index-update run expressed
 * as the continuous pipeline a production vector store actually operates
 * (the batch v8 is the same computation run on a schedule).
 *
 * Operator class: stream-static with a driver-computed static side (st7's
 * class, but the static side is a MODEL — the centroid table — not a dim
 * table). STATELESS: each vector's cell assignment depends only on its own
 * row and the broadcast centroids, so there is no watermark, no state
 * store, and every row emits in the micro-batch it arrives — which is why
 * the finite replay needs no flush tail and Append mode finalizes
 * everything.
 *
 * Scale design: the quantizer is k×dim doubles (driver-trivial at any
 * corpus size); it broadcasts once and the stream never shuffles — the
 * per-batch plan is scan → filter → project, embarrassingly parallel at
 * any executor count. The argmax loop visits cells in ascending id with a
 * strict `>` improve test, which IS the batch side's
 * (score DESC, cell ASC) row_number ordering; the fold accumulates in
 * double left-to-right exactly like DotProductF, so the streamed scores
 * hash-match v8's batch oracle bitwise.
 */
object VectorStreamOps {

  /** Embeddings parquet schema, as stored (float32 vectors). */
  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Sequential double left-fold — DotProductF's exact arithmetic. */
  private def dotFD(a: Array[Float], c: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * c(i); i += 1 }
    acc
  }

  /** New-batch vectors (the vec_id % 7 slice) streamed through the
    * quantizer trained batch-side on the old slice. Output lands in the
    * replay file sink (EventStreamOps.replaySinkDir — the new-batch table
    * is corpus-slice-proportional, so it must not sit driver-resident)
    * and reads back as (vec_id, cell, s). */
  def streamIvfAssign(spark: SparkSession, dir: String, name: String): DataFrame = {
    import spark.implicits._
    // static side: train on the EXISTING remainder only (v8's contract)
    val old = Tables.t(spark, dir, "embeddings").filter(col("vec_id") % 7 =!= 0)
    val cents: Array[(Int, Array[Double], Double)] =
      SimilarityQueries.kmeansCentroids(spark, old, 10, 3)
        .as[(Int, Seq[Double])].collect().sortBy(_._1)
        .map { case (cell, c) =>
          val arr = c.toArray
          var cn2 = 0.0; var i = 0
          while (i < arr.length) { cn2 += arr(i) * arr(i); i += 1 }
          (cell, arr, 0.5 * cn2)
        }
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = spark.readStream
      .schema(embeddingSchema)
      .option("maxFilesPerTrigger", "4")
      .parquet(graft.core.FsUtil.streamableDir(s"$dir/embeddings.parquet", "graft-vec-stream"))
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) =>
        // ascending cell ids + strict improve = (score DESC, cell ASC)
        var bestCell = -1; var bestS = Double.NegativeInfinity
        val cs = bc.value; var j = 0
        while (j < cs.length) {
          val (cell, c, half) = cs(j)
          val s = dotFD(emb, c) - half
          if (s > bestS) { bestS = s; bestCell = cell }
          j += 1
        }
        (id, bestCell, bestS)
      }
      .toDF("vec_id", "cell", "s")
    val sink = EventStreamOps.replaySinkDir(name)
    val q = assigned.writeStream.outputMode("append").format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", EventStreamOps.replayCheckpointDir(name))
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.read.schema(assigned.schema).parquet(sink.toString)
  }
}
