package graft.sources

import graft.SparkSpec
import graft.core.DedupeSettings
import graft.engine.DedupeEngine
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The external-database index seam (reference: src/Test.External swaps
  * SQLite for MySQL through DbProvider): the same TableStore contract the
  * parquet VersionedTable and InMemoryTable satisfy, over embedded Derby —
  * store-level contract first, then the full engine lifecycle. */
class JdbcTableStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("objectKey", StringType),
    StructField("n", LongType),
    StructField("m", IntegerType),
    StructField("ts", TimestampType)))

  private def newStore(): (JdbcTableStore, String, String) = {
    val db = Files.createTempDirectory("graft-jdbc").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    (new JdbcTableStore(spark, url, "t", schema), url, db)
  }

  private def df(rows: Row*) =
    spark.createDataFrame(rows.asJava, schema)

  test("empty read carries the declared schema; append/read round-trips all column types") {
    val (store, _, _) = newStore()
    val empty = store.read()
    assert(empty.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
      "pre-commit read must expose the engine's case-exact column names")
    assert(empty.count() == 0)
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")
    store.append(df(Row("a", 1L, 10, ts), Row(null, 2L, null, null)))
    val back = store.read().collect().sortBy(r => Option(r.getString(0)).getOrElse(""))
    assert(back.length == 2)
    assert(back(1) == Row("a", 1L, 10, ts), "values incl. microsecond timestamp must survive")
    assert(back(0) == Row(null, 2L, null, null), "nulls must round-trip")
  }

  test("publish atomically replaces the snapshot; a second store on the same URL sees it (durability)") {
    val (store, url, _) = newStore()
    store.append(df(Row("old", 1L, 1, null)))
    store.publish(df(Row("new1", 2L, 2, null), Row("new2", 3L, 3, null)))
    assert(store.read().collect().map(_.getString(0)).sorted.toSeq == Seq("new1", "new2"))
    // durability: a fresh store handle (same embedded DB) reads the snapshot
    val again = new JdbcTableStore(spark, url, "t", schema)
    assert(again.read().count() == 2, "rows live in the database, not the store instance")
  }

  test("deleteKeys is targeted: victims gone, survivors and null-key rows intact") {
    val (store, _, _) = newStore()
    store.append(df(Row("k1", 1L, 1, null), Row("k2", 2L, 2, null),
      Row("k3", 3L, 3, null), Row(null, 4L, 4, null)))
    store.deleteKeys("objectKey", Seq("k1", "k3", "missing"))
    val left = store.read().collect().map(r => Option(r.getString(0))).toSet
    assert(left == Set(Some("k2"), None),
      "only the named keys may vanish — null-key rows must survive the IN's three-valued logic")
  }

  test("compactSorted is a no-op on the JDBC backend: zero Spark jobs, rows untouched") {
    val (store, _, _) = newStore()
    store.append(df(Row("b", 2L, 2, null), Row("a", 1L, 1, null)))
    // count Spark jobs during the call: the DEFAULT compactSorted would run
    // a read+sort+collect (several jobs); the JDBC override must run NONE —
    // that is the "never materialize a corpus-proportional objmap through
    // the driver-side publish" contract, observable
    val jobs = jobsDuring(store.compactSorted(Seq("objectKey")))
    assert(jobs == 0,
      "JDBC compact must not execute any Spark job (no driver-side table materialization)")
    assert(store.read().collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"),
      "rows must be untouched by the no-op compact")
    // and the engine-level maintenance op stays green over this backend
    val dir = Files.createTempDirectory("graft-jdbc-compact").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1),
      None, Some(JdbcTableStore.factory(spark, s"$dir/derby-idx")))
    val data = new Array[Byte](9000)
    new scala.util.Random(47).nextBytes(data)
    e.write("k", data)
    e.compactIndex()
    assert(java.util.Arrays.equals(e.get("k").get, data),
      "compactIndex over the JDBC index must leave reads intact")
  }

  test("create --jdbc persists the backend choice; plain open() wires the JDBC index") {
    val dir = Files.createTempDirectory("graft-jdbc-cli").toString + "/idx"
    graft.apps.DedupeCli.run(spark, dir, "create", Array("256", "2048", "8", "1", "--jdbc"))
    val cfg = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "config.properties")), "UTF-8")
    assert(cfg.contains("jdbc_index=true"))
    val e = DedupeEngine.open(spark, dir) // no factory passed: config decides
    val data = new Array[Byte](6000)
    new scala.util.Random(43).nextBytes(data)
    e.write("via-jdbc", data)
    assert(java.util.Arrays.equals(e.get("via-jdbc").get, data))
    assert(Files.exists(java.nio.file.Paths.get(dir, "derby-index")),
      "index rows must land in the embedded DB under the index dir")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "index")),
      "no parquet index table may exist when the JDBC backend is persisted")
    // a second open (fresh engine) reads the same DB
    val e2 = DedupeEngine.open(spark, dir)
    assert(e2.exists("via-jdbc") && e2.indexStats().objectCount == 1)
    // bucketing is a parquet-layout option — the combination is rejected
    assertThrows[IllegalArgumentException](
      DedupeEngine.create(spark, dir + "-b", DedupeSettings(256, 2048, 8, 1),
        bucketedIndex = true, jdbcIndex = true))
  }

  test("full engine lifecycle over the JDBC index: ingest/get/metadata/list/delete/GC/repair/replace") {
    val dir = Files.createTempDirectory("graft-jdbc-engine").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1),
      None, Some(JdbcTableStore.factory(spark, s"$dir/derby-idx")))
    val r = new scala.util.Random(41)
    val shared = new Array[Byte](12000); r.nextBytes(shared)
    val unique = new Array[Byte](9000); r.nextBytes(unique)
    e.ingest(Seq("aa1" -> shared, "aa2" -> shared, "bb1" -> unique))

    // reads
    assert(java.util.Arrays.equals(e.get("aa1").get, shared))
    assert(java.util.Arrays.equals(e.get("bb1").get, unique))
    val st = e.indexStats()
    assert(st.objectCount == 3 && st.physicalBytes < st.logicalBytes,
      "dedupe must happen across the shared pair")
    // metadata + ordered map + position lookup
    val md = e.getMetadata("aa1").get
    assert(md.obj.chunkCount == md.map.size)
    assert(md.map.map(_.chunkAddress) == md.map.map(_.chunkAddress).sorted)
    val mid = e.mapForPosition("aa1", shared.length / 2).get
    assert(mid.chunkAddress <= shared.length / 2 &&
      shared.length / 2 < mid.chunkAddress + mid.chunkLength)
    // listing with prefix + pagination
    val page = e.listObjects(Some("aa"), None, 1)
    assert(page.objects.map(_.objectKey) == Seq("aa1") &&
      page.nextStartAfterKey.contains("aa1"))
    assert(e.listObjects(Some("aa"), Some("aa1"), 10).objects.map(_.objectKey) == Seq("aa2"))
    // seekable stream mid-slice
    val stream = e.openStream("aa1").get
    stream.seek(5000)
    val buf = new Array[Byte](2000)
    var got = 0
    while (got < buf.length) got += stream.read(buf, got, buf.length - got)
    assert(java.util.Arrays.equals(buf, java.util.Arrays.copyOfRange(shared, 5000, 7000)))

    // delete semantics: shared chunks survive the first delete, GC on last
    assert(e.delete("aa1").isEmpty, "chunks still referenced by aa2")
    val gcd = e.delete("aa2")
    assert(gcd.nonEmpty, "last sharer must GC its chunks")
    assert(!e.exists("aa1") && !e.exists("aa2") && e.exists("bb1"))
    assert(java.util.Arrays.equals(e.get("bb1").get, unique), "survivor intact after GC")

    // writeOrReplace over the JDBC tables
    val v2 = new Array[Byte](7000); r.nextBytes(v2)
    e.writeOrReplace("bb1", v2)
    assert(java.util.Arrays.equals(e.get("bb1").get, v2))

    // atomicity: one ingest is one database transaction, so a batch with a
    // key too long for the VARCHAR(4096) column fails WHOLE — its valid
    // keys keep no object or map row — and leaves only the payloads that
    // landed first, which repairIndex reclaims
    val valid = new Array[Byte](9000); r.nextBytes(valid)
    val tooLong = new Array[Byte](5000); r.nextBytes(tooLong)
    intercept[Exception](e.ingest(Seq("ok-1" -> valid, ("x" * 4097) -> tooLong)))
    assert(e.objects.filter(_.objectKey == "ok-1").count() === 0, "no object row for a valid key")
    assert(e.objmap.filter(_.objectKey == "ok-1").count() === 0, "no map row for a valid key")
    assert(!e.exists("ok-1") && e.get("ok-1").isEmpty)
    val rep = e.repairIndex()
    assert(rep.orphanChunks.nonEmpty, "the failed ingest's payloads must be reclaimed")
    assert(e.repairIndex().orphanChunks.isEmpty, "repair is idempotent")
    assert(java.util.Arrays.equals(e.get("bb1").get, v2), "repair must not touch live objects")

    // a reopened engine sees the same index (rows live in Derby, not the JVM)
    val e2 = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1),
      None, Some(JdbcTableStore.factory(spark, s"$dir/derby-idx")))
    assert(e2.indexStats() == e.indexStats())
    assert(java.util.Arrays.equals(e2.get("bb1").get, v2))
  }
}
