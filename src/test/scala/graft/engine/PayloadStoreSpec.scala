package graft.engine

import graft.SparkSpec
import graft.core.DedupeSettings
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The storage-strategy seam (reference: DedupeCallbacks.cs:15-58): the
  * engine must behave identically over the parquet snapshot store and the
  * flat-file-per-chunk store (the reference sample apps' layout), and the
  * point-read path must never run one Spark job per chunk. */
class PayloadStoreSpec extends SparkSpec {

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val a = new Array[Byte](n); r.nextBytes(a); a
  }

  private def engines(): Seq[(String, DedupeEngine)] = {
    val parquetDir = Files.createTempDirectory("graft-ps-parquet").toString
    val flatDir = Files.createTempDirectory("graft-ps-flat").toString
    val memDir = Files.createTempDirectory("graft-ps-mem").toString
    val jdbcDir = Files.createTempDirectory("graft-ps-jdbc").toString
    Seq(
      "parquet" -> new DedupeEngine(spark, parquetDir, DedupeSettings(256, 2048, 8, 1)),
      // full alternate stack: flat-file payloads + in-memory index tables —
      // both storage seams swapped at once (the reference's
      // external-DbProvider + file-callback sample shape)
      "flat-file+memindex" -> new DedupeEngine(spark, flatDir, DedupeSettings(256, 2048, 8, 1),
        Some(new FlatFilePayloadStore(spark, s"$flatDir/payloads-ff")),
        Some((_, schema) => new graft.sources.InMemoryTable(spark, schema))),
      "mem-index" -> new DedupeEngine(spark, memDir, DedupeSettings(256, 2048, 8, 1),
        None, Some((_, schema) => new graft.sources.InMemoryTable(spark, schema))),
      // index tables in an external relational DB (the reference's
      // Test.External MySQL swap, here embedded Derby over JDBC)
      "jdbc-index" -> new DedupeEngine(spark, jdbcDir, DedupeSettings(256, 2048, 8, 1),
        None, Some(graft.sources.JdbcTableStore.factory(spark, s"$jdbcDir/derby-idx"))))
  }

  test("write/get/delete round-trip identically over BOTH payload stores") {
    for ((label, e) <- engines()) {
      val shared = randomBytes(10000, 21)
      val unique = randomBytes(9000, 22)
      e.ingest(Seq("a" -> shared, "b" -> shared, "c" -> unique))
      assert(java.util.Arrays.equals(e.get("a").get, shared), s"[$label] get a")
      assert(java.util.Arrays.equals(e.get("c").get, unique), s"[$label] get c")
      val st = e.indexStats()
      assert(st.objectCount == 3, s"[$label] objects")
      // two sharers + one unique: physical ~= one shared copy + one unique copy
      assert(st.physicalBytes < st.logicalBytes, s"[$label] dedupe happened")
      assert(e.delete("a").isEmpty, s"[$label] shared chunks survive first delete")
      val gcd = e.delete("b")
      assert(gcd.nonEmpty, s"[$label] last sharer GCs")
      val left = e.payloads.collect().map(_.chunkKey).toSet
      assert(gcd.forall(k => !left.contains(k)), s"[$label] GC removed payloads")
      assert(java.util.Arrays.equals(e.get("c").get, unique), s"[$label] c intact")
      // streams work over both stores
      val rebuilt = e.getStream("c").get.reduce(_ ++ _)
      assert(java.util.Arrays.equals(rebuilt, unique), s"[$label] stream c")
      // the existing-key rejection reads the index through this backend,
      // and must fire before any commit
      val before = e.indexStats()
      val ex = intercept[IllegalArgumentException](e.write("c", randomBytes(700, 25)))
      assert(ex.getMessage == "object key already exists: c", s"[$label] ${ex.getMessage}")
      assert(e.indexStats() === before, s"[$label] a rejected write commits nothing")
    }
  }

  test("openStream + full sequential read executes at most 2 Spark jobs") {
    // get is held to the same budget — one lookup plus one batched payload
    // fetch — over both payload stores, each behind the parquet index
    val flatDir = Files.createTempDirectory("graft-ps-budget-flat").toString
    val stores = Seq(
      "parquet" -> engines().head._2,
      "flat-file" -> new DedupeEngine(spark, flatDir, DedupeSettings(256, 2048, 8, 1),
        Some(new FlatFilePayloadStore(spark, s"$flatDir/payloads-ff"))))
    for ((label, e) <- stores) {
      val data = randomBytes(30000, 23) // many 256..2048-byte chunks
      e.write("big", data)
      val streamJobs = jobsDuring {
        val st = e.openStream("big").get
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](512)
        var n = st.read(buf, 0, buf.length)
        while (n > 0) { out.write(buf, 0, n); n = st.read(buf, 0, buf.length) }
        assert(java.util.Arrays.equals(out.toByteArray, data), s"[$label] stream bytes")
      }
      val getJobs = jobsDuring(
        assert(java.util.Arrays.equals(e.get("big").get, data), s"[$label] get bytes"))
      for ((op, count) <- Seq("openStream" -> streamJobs, "get" -> getJobs)) {
        assert(count >= 1, s"[$label] listener must have observed $op")
        assert(count <= 2,
          s"[$label] $op ran $count Spark jobs — the payload prefetch must be ONE batched job, not one per chunk")
      }
    }
  }

  test("get and openStream stay at 2 Spark jobs over a payload table of more than 32 entries") {
    // past 32 scan paths Spark lists them with a job of its own; a table
    // that lists its files from its manifest starts none, and the fetch
    // opens only the bucket entries its chunk keys can hit
    val dir = Files.createTempDirectory("graft-ps-entries").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val data = randomBytes(60000, 38)
    e.write("big", data)
    (1 to 3).foreach(i => e.write(s"more$i", randomBytes(60000, 38L + i)))
    val manifests = Files.list(java.nio.file.Paths.get(dir, "payloads")).iterator()
      .asScala.map(_.getFileName.toString).collect {
        case n if n.startsWith("manifest-") =>
          n.stripPrefix("manifest-").stripSuffix(".txt").toLong
      }.toSeq
    val entries = Files.readAllLines(
      java.nio.file.Paths.get(dir, "payloads", s"manifest-${manifests.max}.txt")).asScala
      .count(_.trim.nonEmpty)
    assert(entries > 32, s"the payload manifest must hold more than 32 entries, has $entries")
    val getJobs = jobsDuring(
      assert(java.util.Arrays.equals(e.get("big").get, data), "get bytes"))
    val streamJobs = jobsDuring {
      val st = e.openStream("big").get
      assert(java.util.Arrays.equals(st.readAllBytes(), data), "stream bytes")
    }
    for ((op, count) <- Seq("get" -> getJobs, "openStream" -> streamJobs))
      assert(count <= 2, s"$op ran $count Spark jobs over $entries payload entries (budget 2)")
  }

  test("write of a fresh key stays within its Spark job budget") {
    // chunk checkpoint, ONE collect of the batch's key columns, the keyed
    // admission and payload probes (no job when no entry can hold a key),
    // then the payload and index commits
    val e = engines().head._2
    e.write("seed", randomBytes(20000, 34))
    val count = jobsDuring(e.write("fresh", randomBytes(30000, 35)))
    assert(count >= 1, "listener must have observed the write")
    assert(count <= 10, s"write ran $count Spark jobs (budget 10)")
  }

  test("mapForPosition stays within its Spark job budget") {
    // the one keyed lookup of the object's rows; the interval find runs on
    // the driver
    val e = engines().head._2
    val data = randomBytes(30000, 39)
    e.write("pos", data)
    e.write("other", randomBytes(20000, 40))
    val count = jobsDuring {
      val hit = e.mapForPosition("pos", 12345).get
      assert(hit.chunkAddress <= 12345 && 12345 < hit.chunkAddress + hit.chunkLength)
    }
    assert(count >= 1, "listener must have observed the lookup")
    assert(count <= 1, s"mapForPosition ran $count Spark jobs (budget 1)")
  }

  test("a fresh write, exists and mapForPosition read O(their keys): nothing grows with the store") {
    // single-chunk objects (under the 256-byte minimum chunk) keep one key
    // per commit, so every entry's stats cover exactly its key; doubling
    // the entries (well under the 32-commit fold, which would widen their
    // ranges) must not grow what a keyed operation reads
    val dir = Files.createTempDirectory("graft-ps-okeys").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    def grow(from: Int, until: Int): Unit =
      (from until until).foreach(i => e.write(f"obj-$i%03d", randomBytes(200, 1000L + i)))
    def entries(table: String): Int = {
      val d = java.nio.file.Paths.get(dir, table)
      val last = Files.list(d).iterator().asScala.map(_.getFileName.toString).collect {
        case n if n.matches("manifest-\\d+\\.txt") => n.stripPrefix("manifest-").stripSuffix(".txt").toLong
      }.max
      Files.readAllLines(d.resolve(s"manifest-$last.txt")).asScala.count(_.trim.nonEmpty)
    }
    val fresh = randomBytes(3000, 999) // several chunks
    def measure(): Seq[(String, graft.SparkSpec.Work)] = {
      val ops = Seq(
        "absent exists" -> workDuring(assert(!e.exists("zz-fresh"))),
        "write" -> workDuring(e.write("zz-fresh", fresh)),
        "exists" -> workDuring(assert(e.exists("zz-fresh"))),
        "mapForPosition" -> workDuring(assert(e.mapForPosition("zz-fresh", 1500).isDefined)))
      e.delete("zz-fresh")
      ops
    }
    grow(0, 6)
    val before = (entries("index"), entries("payloads"))
    val small = measure()
    grow(6, 12)
    assert((entries("index"), entries("payloads")) === ((2 * before._1, 2 * before._2)))
    val large = measure()
    val grew = small.zip(large).collect {
      case ((op, s), (_, l)) if l.inputBytes > s.inputBytes || l.filesRead > s.filesRead =>
        s"$op: ${s.inputBytes} -> ${l.inputBytes} task input bytes, ${s.filesRead} -> ${l.filesRead} files"
    }
    assert(grew.isEmpty, s"with twice the entries: ${grew.mkString("; ")}")
    // a key no entry can hold: the admission probe starts no Spark job
    assert(small.head._2.jobs === 0 && large.head._2.jobs === 0)
  }

  test("flat-file store: a fresh write reads less task input than the store's payload bytes") {
    // the dedupe probe checks key files exist; it never reads their bytes
    val dir = Files.createTempDirectory("graft-ps-ffprobe").toString
    val payloadDir = s"$dir/payloads-ff"
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1),
      Some(new FlatFilePayloadStore(spark, payloadDir)))
    (0 until 4).foreach(i => e.write(s"big$i", randomBytes(100000, 50L + i)))
    val stored = Files.list(java.nio.file.Paths.get(payloadDir)).iterator().asScala
      .map(Files.size).sum
    val fresh = randomBytes(2000, 60)
    val work = workDuring(e.write("fresh", fresh))
    assert(work.inputBytes < stored,
      s"a write read ${work.inputBytes} task input bytes over $stored stored payload bytes")
    assert(e.get("fresh").exists(java.util.Arrays.equals(_, fresh)))
  }

  test("delete of an object with one sharer stays within its Spark job budget") {
    // getMetadata's two query executions carry the GC decision, then the
    // one index delete and the payload GC
    val e = engines().head._2
    val shared = randomBytes(20000, 36)
    e.ingest(Seq("victim" -> (shared ++ randomBytes(6000, 37)), "sharer" -> shared))
    val count = jobsDuring(assert(e.delete("victim").nonEmpty, "the victim's own chunks are GC'd"))
    assert(java.util.Arrays.equals(e.get("sharer").get, shared), "the sharer reads back intact")
    assert(count >= 1, "listener must have observed the delete")
    assert(count <= 8, s"delete ran $count Spark jobs (budget 8)")
  }

  test("getMetadata executes at most 2 Spark jobs") {
    val e = engines().head._2
    e.write("meta", randomBytes(20000, 29)) // several chunks, some shared refs
    e.write("meta2", randomBytes(20000, 29).take(10000)) // overlapping prefix content
    val count = jobsDuring {
      val md = e.getMetadata("meta").get
      assert(md.obj.objectKey == "meta")
      assert(md.map.nonEmpty && md.chunks.nonEmpty)
      assert(md.map.map(_.chunkAddress) == md.map.map(_.chunkAddress).sorted,
        "map rows must come back address-ordered")
      assert(md.chunks.map(_.chunkKey).toSet == md.map.map(_.chunkKey).toSet,
        "chunk info covers exactly this object's chunks")
    }
    assert(count >= 1, "listener must have observed the lookup")
    assert(count <= 2,
      s"getMetadata ran $count Spark jobs — object+map must share one union scan, refcounts one more")
  }

  test("ingest rejects a batch that duplicates a key within itself") {
    val e = engines().head._2
    val ex = intercept[IllegalArgumentException](
      e.ingest(Seq("dup" -> randomBytes(500, 24), "dup" -> randomBytes(600, 25))))
    assert(ex.getMessage.contains("dup"))
    assert(e.indexStats().objectCount == 0, "failed batch must not publish objects")
  }

  test("ingestDirectory keys by relative path: same-named files in subdirs stay distinct") {
    val e = engines().head._2
    val src = Files.createTempDirectory("graft-reldir")
    Files.createDirectories(src.resolve("sub1"))
    Files.createDirectories(src.resolve("sub2"))
    val d1 = randomBytes(3000, 26)
    val d2 = randomBytes(4000, 27)
    Files.write(src.resolve("sub1/same.bin"), d1)
    Files.write(src.resolve("sub2/same.bin"), d2)
    e.ingestDirectory(src.toString)
    assert(e.indexStats().objectCount == 2, "both files must become objects")
    assert(java.util.Arrays.equals(e.get("sub1/same.bin").get, d1))
    assert(java.util.Arrays.equals(e.get("sub2/same.bin").get, d2))
  }

  test("ingestDirectory handles filenames with spaces and literal percent signs") {
    // binaryFile reports DECODED paths: 'a b.bin' stays raw (java.net.URI
    // would throw) and 'p%25q.bin' must not be silently decoded to 'p%q.bin'
    val e = engines().head._2
    val src = Files.createTempDirectory("graft-oddnames")
    val d1 = randomBytes(2000, 31)
    val d2 = randomBytes(2500, 32)
    val d3 = randomBytes(1500, 33)
    Files.write(src.resolve("a b.bin"), d1)
    Files.write(src.resolve("p%25q.bin"), d2)
    Files.write(src.resolve("100%done.bin"), d3)
    e.ingestDirectory(src.toString)
    assert(e.indexStats().objectCount == 3)
    assert(java.util.Arrays.equals(e.get("a b.bin").get, d1))
    assert(java.util.Arrays.equals(e.get("p%25q.bin").get, d2), "literal %25 must stay a literal, not decode to '%'")
    assert(java.util.Arrays.equals(e.get("100%done.bin").get, d3))
    assert(e.get("p%q.bin").isEmpty, "no silently-decoded key may exist")
  }

  test("exportAll refuses object keys that escape the output directory") {
    val e = engines().head._2
    e.write("../escape.bin", randomBytes(500, 28))
    val out = Files.createTempDirectory("graft-export")
    val ex = intercept[Exception](e.exportAll(out.toString))
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${msgs(t.getCause)}"
    assert(msgs(ex).contains("escapes"), s"unexpected failure: ${msgs(ex)}")
    assert(!Files.exists(out.getParent.resolve("escape.bin")),
      "no file may be written outside the export root")
  }

  test("flat-file store: duplicate-key append succeeds, perms are world-readable, vacuum sweeps tmp debris") {
    val d = Files.createTempDirectory("graft-ff-dur").toString
    val store = new FlatFilePayloadStore(spark, d)
    val bytes = randomBytes(4096, 31)
    import spark.implicits._
    val df = Seq(("k1", bytes)).toDF("chunkKey", "data")
    store.append(df)
    // duplicate-key append (the racing-writers case the trait contract
    // tolerates): payloads for one key are byte-identical, so a second
    // append of the same key must SUCCEED whatever Files.move decides
    // about replace-under-ATOMIC_MOVE on this provider
    store.append(df)
    assert(java.util.Arrays.equals(store.fetch(Seq("k1"))("k1"), bytes))
    // the published chunk must be world-readable (the old Files.write
    // behavior) — createTempFile's 0600 must not leak through the rename
    // and lock out cross-user readers on a shared cluster FS
    val perms = Files.getPosixFilePermissions(
      java.nio.file.Paths.get(d, "k1"))
    assert(perms.contains(java.nio.file.attribute.PosixFilePermission.OTHERS_READ),
      s"chunk perms $perms must include others-read")
    // vacuum sweeps a hard-killed writer's hidden temp debris and leaves
    // the live chunk; read() was already blind to it (hidden file)
    val debris = java.nio.file.Paths.get(d, ".k2.12345.tmp")
    Files.write(debris, randomBytes(100, 32))
    assert(store.read().count() == 1, "hidden tmp must be invisible to read()")
    // fresh temp files are inside the grace window — an accidental vacuum
    // racing a live writer must NOT delete its in-flight temp file
    store.vacuum()
    assert(Files.exists(debris),
      "vacuum must spare temp files younger than the grace window")
    // back-date past the grace window: now it's genuine crash debris
    Files.setLastModifiedTime(debris, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - FlatFilePayloadStore.vacuumGraceMs - 60000))
    store.vacuum()
    assert(!Files.exists(debris), "vacuum must delete aged tmp debris")
    assert(java.util.Arrays.equals(store.fetch(Seq("k1"))("k1"), bytes),
      "vacuum must not touch live chunks")
  }
}
