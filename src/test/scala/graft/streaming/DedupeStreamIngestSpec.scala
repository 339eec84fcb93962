package graft.streaming

import graft.SparkSpec
import graft.core.DedupeSettings
import graft.engine.DedupeEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** The streaming face of ingest: documents arriving on a stream are
  * chunked + deduplicated into the engine, equal to batch ingest of the
  * same corpus, and replays are idempotent (effectively-once storage). */
class DedupeStreamIngestSpec extends SparkSpec {

  private val objSchema = StructType(Seq(
    StructField("objectKey", StringType), StructField("data", BinaryType)))

  test("streamed ingest == batch ingest; full replay and late arrivals are handled") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-singest")
    val streamDir = root.resolve("incoming").toString
    val docs = graft.operators.Tables.t(spark, sfDir, "documents").limit(60)
      .select(concat(lit("doc-"), col("doc_id")).as("objectKey"),
        col("text").cast("binary").as("data"))
    docs.write.parquet(streamDir)

    val streamed = new DedupeEngine(spark, root.resolve("stream-idx").toString,
      DedupeSettings(256, 2048, 8, 1))
    val q = DedupeStreamIngest.start(streamed,
      spark.readStream.schema(objSchema).parquet(streamDir),
      root.resolve("ckpt1").toString)
    q.processAllAvailable(); q.stop()

    val batch = new DedupeEngine(spark, root.resolve("batch-idx").toString,
      DedupeSettings(256, 2048, 8, 1))
    batch.ingest(docs.as[(String, Array[Byte])])
    val afterFirst = streamed.indexStats()
    assert(afterFirst === batch.indexStats(),
      "streamed ingest must produce the exact batch index state")
    // byte-identical reconstruction through the streamed path
    val sample = docs.limit(3).as[(String, Array[Byte])].collect()
    for ((k, d) <- sample)
      assert(java.util.Arrays.equals(streamed.get(k).get, d), s"round-trip of $k")

    // FULL replay (fresh checkpoint, same files): the idempotent sink must
    // re-ingest nothing — no duplicate-key crash, no state change
    val q2 = DedupeStreamIngest.start(streamed,
      spark.readStream.schema(objSchema).parquet(streamDir),
      root.resolve("ckpt2").toString)
    q2.processAllAvailable(); q2.stop()
    assert(streamed.indexStats() === afterFirst, "replay must be a no-op")

    // late arrivals: new files land in the source dir, the running query
    // picks up ONLY them (same checkpoint continues the file log)
    val more = graft.operators.Tables.t(spark, sfDir, "documents")
      .orderBy(col("doc_id").desc).limit(10)
      .select(concat(lit("late-"), col("doc_id")).as("objectKey"),
        col("text").cast("binary").as("data"))
    val q3 = DedupeStreamIngest.start(streamed,
      spark.readStream.schema(objSchema).parquet(streamDir),
      root.resolve("ckpt1").toString) // resume first checkpoint
    more.write.mode("append").parquet(streamDir)
    q3.processAllAvailable(); q3.stop()
    assert(streamed.indexStats().objectCount === afterFirst.objectCount + 10,
      "resumed query must ingest exactly the late files' new keys")
    val lateKey = more.select("objectKey").as[String].head()
    assert(streamed.exists(lateKey))
  }

  test("duplicate keys WITHIN one micro-batch collapse to one exemplar (no poison-pill)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-singest-dup")
    val streamDir = root.resolve("incoming").toString
    val docs = graft.operators.Tables.t(spark, sfDir, "documents").limit(10)
      .select(concat(lit("d-"), col("doc_id")).as("objectKey"),
        col("text").cast("binary").as("data"))
    // an at-least-once source repeating keys inside ONE batch: without the
    // in-batch dropDuplicates both copies pass the snapshot anti-join, the
    // engine's duplicate-key guard throws, and the identical replay poisons
    // the checkpoint forever
    docs.union(docs).write.parquet(streamDir)
    val engine = new DedupeEngine(spark, root.resolve("idx").toString,
      DedupeSettings(256, 2048, 8, 1))
    val q = DedupeStreamIngest.start(engine,
      spark.readStream.schema(objSchema).parquet(streamDir),
      root.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    assert(engine.indexStats().objectCount === 10,
      "each repeated key must be stored exactly once")
    val (k, d) = docs.as[(String, Array[Byte])].head()
    assert(java.util.Arrays.equals(engine.get(k).get, d))
  }

  test("same key with DIFFERENT payloads in one batch fails loudly (no silent pick-one)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-singest-conflict")
    val streamDir = root.resolve("incoming").toString
    val a = graft.operators.Tables.t(spark, sfDir, "documents").limit(5)
      .select(concat(lit("c-"), col("doc_id")).as("objectKey"),
        col("text").cast("binary").as("data"))
    val b = graft.operators.Tables.t(spark, sfDir, "documents").limit(5)
      .select(concat(lit("c-"), col("doc_id")).as("objectKey"),
        upper(col("text")).cast("binary").as("data")) // same keys, different bytes
    a.union(b).write.parquet(streamDir)
    val engine = new DedupeEngine(spark, root.resolve("idx").toString,
      DedupeSettings(256, 2048, 8, 1))
    val q = DedupeStreamIngest.start(engine,
      spark.readStream.schema(objSchema).parquet(streamDir),
      root.resolve("ckpt").toString)
    val failed = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${msgs(t.getCause)}"
    assert(msgs(failed).contains("conflicting payloads"),
      s"unexpected failure: ${msgs(failed)}")
    assert(engine.indexStats().objectCount === 0,
      "a refused batch must store nothing — not an arbitrary survivor")
  }

  test("a mid-batch crash recovers via checkpoint replay (effectively-once through failure)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-singest-crash")
    val streamDir = root.resolve("incoming").toString
    val docs = graft.operators.Tables.t(spark, sfDir, "documents").limit(20)
      .select(concat(lit("c-"), col("doc_id")).as("objectKey"),
        col("text").cast("binary").as("data"))
    docs.write.parquet(streamDir)
    // engine whose index dies on its next append — the crash lands after
    // the payloads are durable and before the one index commit
    final class FailingOnce(inner: graft.sources.TableStore) extends graft.sources.TableStore {
      @volatile var armed = false
      override def read() = inner.read()
      override private[graft] def readWhere(c: String, v: String) = inner.readWhere(c, v)
      override def append(df: org.apache.spark.sql.DataFrame): Unit = {
        if (armed) { armed = false; throw new RuntimeException("simulated crash in stream batch") }
        inner.append(df)
      }
      override def publish(df: org.apache.spark.sql.DataFrame): Unit = inner.publish(df)
      override def deleteKeys(keyCol: String, keys: Seq[String]): Unit =
        inner.deleteKeys(keyCol, keys)
    }
    var index: FailingOnce = null
    val engine = new DedupeEngine(spark, root.resolve("idx").toString,
      DedupeSettings(256, 2048, 8, 1), None,
      Some((p, s) => {
        index = new FailingOnce(new graft.sources.VersionedTable(spark, p, s,
          statsCol = Some("objectKey"), splitCol = Some("kind")))
        index
      }))
    val ckpt = root.resolve("ckpt").toString
    val objSrc = () => spark.readStream.schema(objSchema).parquet(streamDir)
    index.armed = true
    val q = DedupeStreamIngest.start(engine, objSrc(), ckpt)
    val failed = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    assert(failed.getMessage != null)
    assert(engine.objects.count() === 0, "crash window: no objects row committed")
    assert(engine.objmap.count() === 0, "crash window: no map row committed")
    assert(engine.payloads.count() > 0, "the payloads landed before the crash")
    // restart from the SAME checkpoint: the failed batch replays (its
    // offsets never committed); the left-anti sees no objects rows, so the
    // ingest re-runs, and its payload left-anti reuses the orphaned payloads
    val q2 = DedupeStreamIngest.start(engine, objSrc(), ckpt)
    q2.processAllAvailable(); q2.stop()
    val reference = new DedupeEngine(spark, root.resolve("ref-idx").toString,
      DedupeSettings(256, 2048, 8, 1))
    reference.ingest(docs.as[(String, Array[Byte])])
    assert(engine.indexStats() === reference.indexStats(),
      "replayed ingest must converge to the exact clean-run state")
    val (k, d) = docs.as[(String, Array[Byte])].head()
    assert(java.util.Arrays.equals(engine.get(k).get, d))
  }
}
