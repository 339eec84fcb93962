package graft.streaming

import graft.SparkSpec
import graft.operators.MultimodalOps
import org.apache.spark.sql.functions._

/** st17: the streamed image-admission table must equal a client-side
  * brute-force recompute over the same real decodes (hashes → band
  * candidates → Hamming verify → best match), and the slice design must
  * deliver BOTH verdicts — keeps (twins streaming together, never
  * compared within the stream) and drops (twins standing in the old
  * index, surfaced as evidence). */
class MediaStreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def isNew(id: Long): Boolean =
    (id / 2) % 3 == 0 || (id % 2 == 1 && (id / 2) % 3 == 1)

  test("st17: streamed admissions equal the brute-force new-vs-old truth; both verdicts real") {
    graft.BenchMemos.clearAll()
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").as[Long].collect().sorted
    val hash = ids.map(id => id -> MultimodalOps.dHash56(
      MultimodalOps.ImageIoCodec.read(id, MultimodalOps.m8SyntheticPng(id)))).toMap
    val (nw, od) = ids.partition(isNew)
    def bandKeys(h: Long): Seq[(Int, Long)] =
      (0 until 4).map(b => b -> ((h >> (14 * b)) & 16383L))
    val oldByBand: Map[(Int, Long), Seq[Long]] =
      od.flatMap(o => bandKeys(hash(o)).map(bk => bk -> o))
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    val empty: Seq[Long] = Nil
    val expected = nw.map { a =>
      val cands = bandKeys(hash(a)).flatMap(oldByBand.getOrElse(_, empty)).distinct
      val verified = cands.map(b => (java.lang.Long.bitCount(hash(a) ^ hash(b)).toLong, b))
        .filter(_._1 <= 6)
      if (verified.isEmpty) (a, 1L, None, None)
      else {
        val (ham, b) = verified.minBy { case (h, b) => (h, b) }
        (a, 0L, Some(b), Some(ham))
      }
    }.toSeq
    val got = graft.SparkEntry.queries("st17_stream_phash_admit")(spark, sfDir)
      .select(col("doc_id"), col("keep"), col("dup_of"), col("hamming"))
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
      .map(r => (r._1, r._2, r._3, r._4))
    assert(got.map(_._1) == nw.toSeq, "one row per incoming image, in order")
    assert(got == expected)
    // the slice delivers: class-0 pairs KEPT (their twin streams too,
    // and stream docs are never compared to each other), class-1 odd
    // members DROPPED with the standing twin as evidence
    val drops = got.filter(_._2 == 0L)
    val keeps = got.filter(_._2 == 1L)
    assert(drops.nonEmpty && keeps.nonEmpty, "both verdicts must occur")
    drops.foreach { case (id, _, dupOf, ham) =>
      assert(dupOf.contains(id - 1) || ham.exists(_ <= 6),
        s"drop $id must name a verified standing match, got $dupOf")
    }
    // every class-1 odd member's standing twin is a verified <=6 match,
    // so each must be dropped
    nw.filter(id => id % 2 == 1 && (id / 2) % 3 == 1).foreach { id =>
      assert(got.find(_._1 == id).exists(_._2 == 0L), s"$id must be dropped")
    }
  }
}
