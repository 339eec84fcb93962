package graft.engine

import graft.SparkSpec
import graft.core.DedupeSettings
import graft.sources.{TableStore, VersionedTable}
import org.apache.spark.sql.types.StructType
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Integration spec: the reference SampleApp + test.bat scenarios
  * (reference: src/SampleApp/Program.cs:9-36, src/Cli/test.bat). */
class DedupeEngineSpec extends SparkSpec {

  private def newEngine(): DedupeEngine = {
    val dir = Files.createTempDirectory("graft-engine").toString
    new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
  }

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val a = new Array[Byte](n); r.nextBytes(a); a
  }

  test("write -> get round-trips byte-identically") {
    val e = newEngine()
    val data = randomBytes(10000, 1)
    e.write("obj1", data)
    assert(e.exists("obj1"))
    assert(java.util.Arrays.equals(e.get("obj1").get, data))
    assert(e.get("missing").isEmpty)
  }

  test("duplicate key write is rejected") {
    val e = newEngine()
    val first = randomBytes(500, 2)
    e.write("k", first)
    val statsBefore = e.indexStats()
    assertThrows[IllegalArgumentException](e.write("k", randomBytes(500, 3)))
    // the rejection must come before any commit: nothing of the second
    // write may reach the index
    assert(java.util.Arrays.equals(e.get("k").get, first), "the first object reads back intact")
    assert(e.indexStats() === statsBefore, "a rejected write commits nothing")
  }

  test("N identical objects dedupe to ~1 physical copy (test.bat golden)") {
    val e = newEngine()
    val data = randomBytes(50000, 4)
    val keys = (1 to 10).map(i => f"obj$i%03d")
    // one commit per object: the references to each chunk span ten objmap
    // segments, so the refcount scan merges per-partition counts
    keys.foreach(e.write(_, data))
    val st = e.indexStats()
    assert(st.objectCount == 10)
    assert(st.logicalBytes == 500000L)
    assert(st.physicalBytes <= data.length + 64) // one copy (+slack none expected)
    assert(st.ratioX > 9.5 && st.ratioX <= 10.5)
    assert(st.ratioPercent > 89)
    // refcounts: every chunk referenced 10 times
    assert(e.chunks.collect().forall(_.refCount == 10))
    val md = e.getMetadata(keys.head).get
    val chunkKeys = md.map.map(_.chunkKey).toSet
    assert(md.chunks.map(_.chunkKey).toSet == chunkKeys)
    assert(md.chunks.forall(_.refCount == 10), s"refcounts ${md.chunks.map(_.refCount)}")
    // every delete but the last leaves a sharer behind; the last GCs it all
    keys.init.foreach(k => assert(e.delete(k).isEmpty, s"deleting $k must GC nothing"))
    assert(e.delete(keys.last).toSet == chunkKeys, "the last sharer's delete GCs every chunk")
    assert(e.payloads.count() == 0)
  }

  test("getChunkMetadata: refcount of a shared chunk, None for an unknown key") {
    val e = newEngine()
    val shared = randomBytes(20000, 41)
    e.write("x", shared)
    e.write("y", shared ++ randomBytes(5000, 42))
    e.write("z", randomBytes(8000, 43))
    // the shared prefix chunks identically in x and y
    val first = e.getMetadata("x").get.map.head
    assert(e.getChunkMetadata(first.chunkKey) ==
      Some(ChunkInfo(first.chunkKey, first.chunkLength, 2L)))
    val own = e.getMetadata("z").get.map.head
    assert(e.getChunkMetadata(own.chunkKey) ==
      Some(ChunkInfo(own.chunkKey, own.chunkLength, 1L)))
    assert(e.getChunkMetadata("0" * 64).isEmpty)
  }

  test("cloneObject copies via the index only: zero payload writes, GC-safe") {
    val e = newEngine()
    val data = randomBytes(30000, 77)
    e.write("src", data)
    val payloadCount = e.payloads.count()
    e.cloneObject("src", "dst")
    // byte-identical clone, not one payload row added
    assert(java.util.Arrays.equals(e.get("dst").get, data))
    assert(e.payloads.count() == payloadCount)
    assert(e.chunks.collect().forall(_.refCount == 2))
    // guards: missing source, duplicate destination
    assertThrows[NoSuchElementException](e.cloneObject("nope", "x"))
    assertThrows[IllegalArgumentException](e.cloneObject("src", "dst"))
    // deleting the source must not GC chunks the clone still references
    e.delete("src")
    assert(java.util.Arrays.equals(e.get("dst").get, data))
    assert(e.payloads.count() == payloadCount)
    // deleting the last reference reclaims the payloads
    e.delete("dst")
    assert(e.payloads.count() == 0)
  }

  test("metadata: ordered map tiles object, chunkCount consistent") {
    val e = newEngine()
    val data = randomBytes(20000, 5)
    e.write("m1", data)
    val md = e.getMetadata("m1").get
    assert(md.obj.originalLength == 20000L)
    assert(md.obj.chunkCount == md.map.size.toLong)
    assert(md.map.head.chunkAddress == 0L)
    md.map.sliding(2).foreach {
      case Seq(a, b) => assert(a.chunkAddress + a.chunkLength == b.chunkAddress)
      case _ =>
    }
    assert(md.map.map(_.chunkLength.toLong).sum == 20000L)
    assert(md.map.zipWithIndex.forall { case (r, i) => r.chunkPosition == i })
  }

  test("mapForPosition finds the covering chunk (range containment)") {
    val e = newEngine()
    e.write("p1", randomBytes(20000, 6))
    val md = e.getMetadata("p1").get
    val mid = md.map(md.map.size / 2)
    val hit = e.mapForPosition("p1", mid.chunkAddress + mid.chunkLength / 2).get
    assert(hit.chunkKey == mid.chunkKey && hit.chunkAddress == mid.chunkAddress)
    assert(e.mapForPosition("p1", 999999).isEmpty)
    // first and last byte
    assert(e.mapForPosition("p1", 0).get.chunkAddress == 0L)
    assert(e.mapForPosition("p1", 19999).get.chunkAddress == md.map.last.chunkAddress)
  }

  test("getStream yields chunks in address order, concat == object") {
    val e = newEngine()
    val data = randomBytes(15000, 7)
    e.write("s1", data)
    val rebuilt = e.getStream("s1").get.foldLeft(new java.io.ByteArrayOutputStream()) {
      (acc, c) => acc.write(c); acc
    }.toByteArray
    assert(java.util.Arrays.equals(rebuilt, data))
  }

  test("listObjects: prefix filter + keyset pagination + cap") {
    val e = newEngine()
    val data = randomBytes(600, 8)
    e.ingest((1 to 25).map(i => f"aa$i%03d" -> data) :+ ("zz001" -> data))
    val p1 = e.listObjects(Some("aa"), None, 10)
    assert(p1.objects.size == 10 && p1.objects.head.objectKey == "aa001")
    assert(p1.nextStartAfterKey.contains("aa010"))
    val p2 = e.listObjects(Some("aa"), p1.nextStartAfterKey, 10)
    assert(p2.objects.head.objectKey == "aa011")
    val p3 = e.listObjects(Some("aa"), p2.nextStartAfterKey, 10)
    assert(p3.objects.size == 5 && p3.nextStartAfterKey.isEmpty)
    // cap at 100 like the reference (SqliteProvider.cs:206)
    assert(e.listObjects(None, None, 5000).maxResults == 100)
  }

  test("delete decrements refs and GCs orphaned payloads only") {
    val e = newEngine()
    val shared = randomBytes(10000, 9)
    val unique = randomBytes(10000, 10)
    e.ingest(Seq("d1" -> shared, "d2" -> shared, "d3" -> unique))
    val before = e.indexStats()
    // deleting one of two sharers GCs nothing
    assert(e.delete("d1").isEmpty)
    assert(e.indexStats().chunkCount == before.chunkCount)
    // deleting the last sharer GCs the shared chunks
    val gcd = e.delete("d2")
    assert(gcd.nonEmpty)
    assert(!e.exists("d2") && e.exists("d3"))
    assert(java.util.Arrays.equals(e.get("d3").get, unique))
    // payload table no longer holds GC'd keys
    val left = e.payloads.collect().map(_.chunkKey).toSet
    assert(gcd.forall(k => !left.contains(k)))
    assertThrows[NoSuchElementException](e.delete("nope"))
  }

  test("delete touches only index segments whose key range covers the victim") {
    val dir = Files.createTempDirectory("graft-engine-del").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    // three ingest batches with disjoint, ordered key ranges → the index
    // table gets three segments with non-overlapping objectKey stats
    e.ingest(Seq("a1" -> randomBytes(3000, 61), "a2" -> randomBytes(3000, 62)))
    e.ingest(Seq("b1" -> randomBytes(3000, 63), "b2" -> randomBytes(3000, 64)))
    e.ingest(Seq("c1" -> randomBytes(3000, 65), "c2" -> randomBytes(3000, 66)))
    def fingerprints(sub: String) = fileFingerprints(s"$dir/$sub")
    val idxBefore = fingerprints("index")
    val payBefore = fingerprints("payloads")
    e.delete("b1")
    // a- and c-batch segments must be byte-identical (never read or
    // rewritten); only the b segment is replaced
    for ((sub, before) <- Seq("index" -> idxBefore)) {
      val after = fingerprints(sub)
      val survivors = before.keySet.intersect(after.keySet)
      for (f <- survivors)
        assert(after(f) === before(f), s"$sub/$f was modified by an unrelated delete")
      assert(survivors.exists(_.startsWith("seg-0")), s"$sub a-segment must survive untouched")
      assert(survivors.exists(_.startsWith("seg-2")), s"$sub c-segment must survive untouched")
    }
    // payload GC is bucketed by chunkKey first char: the few buckets holding
    // b1's ~2 orphaned hash keys get rewritten, the rest stay byte-identical
    val payAfter = fingerprints("payloads")
    val paySurvivors = payBefore.keySet.intersect(payAfter.keySet)
      .filter(_.startsWith("seg-"))
    assert(paySurvivors.nonEmpty, "most payload buckets must survive a 2-chunk GC untouched")
    for (f <- paySurvivors)
      assert(payAfter(f) === payBefore(f), s"payloads/$f was modified by an unrelated GC")
    // semantics intact
    assert(!e.exists("b1") && e.exists("b2") && e.exists("a1") && e.exists("c2"))
    assert(java.util.Arrays.equals(e.get("b2").get, randomBytes(3000, 64)))
    assert(e.indexStats().objectCount === 5)
  }

  test("bucketedIndex: a delete on hash-like object keys touches only the victims' index buckets") {
    val dir = Files.createTempDirectory("graft-engine-bidx").toString
    val e = DedupeEngine.create(spark, dir, DedupeSettings(256, 2048, 8, 1),
      bucketedIndex = true)
    // user keys ARE content hashes (a common caller pattern the reference
    // anticipates) — their min/max spans the keyspace, so without bucketing
    // every delete would rewrite every index segment
    def hkey(i: Int): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"doc-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    // 17+ hex-keyed objects pigeonhole at least one shared leading char;
    // picking the victim from a shared bucket guarantees its replacement
    // commit is non-empty (the surviving co-bucketed rows)
    val objs = (1 to 20).map(i => hkey(i) -> randomBytes(3000, 200 + i))
    e.ingest(objs)
    val victim = objs.map(_._1).groupBy(_.head).values
      .filter(_.size >= 2).flatten.toSeq.sorted.head
    def fingerprints(sub: String) = fileFingerprints(s"$dir/$sub")
    val idxBefore = fingerprints("index")
    e.delete(victim)
    for ((sub, before) <- Seq("index" -> idxBefore)) {
      val after = fingerprints(sub)
      val survivors = before.keySet.intersect(after.keySet).filter(_.contains("seg-"))
      assert(survivors.nonEmpty, s"$sub: non-victim buckets must survive the delete untouched")
      for (f <- survivors)
        assert(after(f) === before(f), s"$sub/$f was modified by an unrelated delete")
      // the delete's replacement commit may hold ONLY the victim's
      // one-character bucket — proof the rewrite pruned to intersecting
      // buckets instead of rewriting the whole hash-keyed table
      val newBucketFiles = after.keySet.diff(before.keySet).filter(_.contains("__bucket="))
      assert(newBucketFiles.nonEmpty, s"$sub: the delete must commit a replacement bucket")
      val victimBucket = s"__bucket=b${"%02X".format(victim.head.toInt)}" // hex bucket names
      assert(newBucketFiles.forall(_.contains(victimBucket)),
        s"$sub rewrote buckets outside the victim's key range: $newBucketFiles")
    }
    assert(!e.exists(victim))
    for ((k, data) <- objs if k != victim) {
      assert(e.exists(k))
      assert(java.util.Arrays.equals(e.get(k).get, data))
    }
    assert(e.indexStats().objectCount === 19)
    // the layout choice is persisted with the index: a plain open() commits
    // bucketed too (new index segments carry __bucket= partition dirs)
    val reopened = DedupeEngine.open(spark, dir)
    val objAfterDelete = fingerprints("index")
    reopened.write(hkey(99), randomBytes(3000, 299))
    val newFiles = fingerprints("index").keySet.diff(objAfterDelete.keySet)
    assert(newFiles.exists(_.contains("__bucket=")),
      "reopened engine must keep committing bucketed index segments")
    assert(reopened.indexStats().objectCount === 20)
  }

  test("compactIndex folds the commit chain to one sorted snapshot; reads/deletes intact") {
    val dir = Files.createTempDirectory("graft-engine-compact").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val objs = (1 to 5).map(i => f"obj$i%02d" -> randomBytes(3000, 300 + i))
    objs.foreach { case (k, d) => e.write(k, d) } // 5 separate commits
    def topCommits(sub: String): Int = {
      val d = java.nio.file.Paths.get(dir, sub)
      val manifests = Files.list(d).iterator()
      var latest: java.nio.file.Path = null
      var maxV = -1L
      while (manifests.hasNext) {
        val p = manifests.next()
        val m = "^manifest-(\\d+)\\.txt$".r.findFirstMatchIn(p.getFileName.toString)
        m.foreach(g => if (g.group(1).toLong > maxV) { maxV = g.group(1).toLong; latest = p })
      }
      new String(Files.readAllBytes(latest), "UTF-8").linesIterator
        .filter(_.nonEmpty).map(_.takeWhile(c => c != '/' && c != '\t')).toSet.size
    }
    assert(topCommits("index") === 5, "each write commits its own segment")
    val statsBefore = e.indexStats()
    e.compactIndex()
    assert(topCommits("index") === 1, "compaction folds the index to one snapshot")
    assert(e.indexStats() === statsBefore, "compaction changes layout, never content")
    for ((k, d) <- objs) assert(java.util.Arrays.equals(e.get(k).get, d))
    // post-compaction deletes and writes keep working on the folded table
    e.delete("obj03")
    assert(!e.exists("obj03") && e.exists("obj01"))
    e.write("obj99", randomBytes(2000, 399))
    assert(e.indexStats().objectCount === 5)
  }

  test("retryOnConflict: N contending writers all land, no lost writes") {
    val dir = Files.createTempDirectory("graft-engine-retry").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 3).map { w =>
      new Thread(() => {
        try e.retryOnConflict() { e.write(s"writer-$w", randomBytes(4000, 600 + w)) }
        catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(failures.isEmpty, s"every contending writer must land: ${failures.peek()}")
    assert(e.indexStats().objectCount === 3)
    for (w <- 1 to 3)
      assert(java.util.Arrays.equals(e.get(s"writer-$w").get, randomBytes(4000, 600 + w)))
    // the loop gives up loudly rather than spinning forever
    val boom = intercept[IllegalStateException](e.retryOnConflict(maxAttempts = 2) {
      throw new graft.sources.CommitConflictException("synthetic")
    })
    assert(boom.getMessage.contains("2 attempts"))
  }

  test("vacuumIndex sweeps unreferenced crash debris and nothing else") {
    val dir = Files.createTempDirectory("graft-engine-vac").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val objs = (1 to 3).map(i => f"v$i" -> randomBytes(3000, 500 + i))
    objs.foreach { case (k, d) => e.write(k, d) }
    // plant the debris a crashed writer leaves: a written-but-never-claimed
    // segment dir and a stale temp manifest, in the index AND payloads
    for (sub <- Seq("index", "payloads")) {
      val seg = java.nio.file.Paths.get(dir, sub, "seg-99-deadbeef")
      Files.createDirectories(seg)
      Files.write(seg.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
      Files.write(java.nio.file.Paths.get(dir, sub, ".manifest-99.tmp-dead"),
        "junk\n".getBytes("UTF-8"))
    }
    val statsBefore = e.indexStats()
    e.vacuumIndex()
    for (sub <- Seq("index", "payloads")) {
      assert(!Files.exists(java.nio.file.Paths.get(dir, sub, "seg-99-deadbeef")),
        s"$sub: unclaimed segment must be swept")
      assert(!Files.exists(java.nio.file.Paths.get(dir, sub, ".manifest-99.tmp-dead")),
        s"$sub: stale temp manifest must be swept")
    }
    assert(e.indexStats() === statsBefore, "vacuum never touches live data")
    for ((k, d) <- objs) assert(java.util.Arrays.equals(e.get(k).get, d))
    // still writable afterwards
    e.write("v9", randomBytes(1000, 509))
    assert(e.exists("v9"))
  }

  test("writeStream: bounded-memory multi-batch write round-trips and dedupes against array writes") {
    val e = newEngine()
    val data = randomBytes(50000, 71) // many 256..2048-byte chunks
    // tiny batchBytes forces several map/payload flushes for one object
    e.writeStream("streamed", new java.io.ByteArrayInputStream(data), batchBytes = 4096L)
    assert(java.util.Arrays.equals(e.get("streamed").get, data))
    val md = e.getMetadata("streamed").get
    assert(md.obj.originalLength === data.length.toLong)
    assert(md.map.map(_.chunkLength.toLong).sum === data.length.toLong, "map tiles the object")
    // identical content via the ARRAY path must produce the same chunk keys
    // (stream and batch chunking are byte-identical) => full dedupe
    val before = e.indexStats().physicalBytes
    e.write("arrayed", data)
    val after = e.indexStats()
    assert(after.physicalBytes === before, "second copy must add zero physical bytes")
    assert(after.objectCount === 2)
    // duplicate-key contract holds on the stream path too
    assertThrows[IllegalArgumentException](
      e.writeStream("streamed", new java.io.ByteArrayInputStream(data)))
    // both paths agree on the reconstructed bytes
    assert(java.util.Arrays.equals(e.get("arrayed").get, e.get("streamed").get))
  }

  test("a mid-stream source failure leaves NO debris: staging is swept, retry round-trips") {
    val e = newEngine()
    val survivor = randomBytes(8000, 81)
    e.write("survivor", survivor)
    val statsBefore = e.indexStats()
    // stream that dies after 12 KB — several 4 KB slabs are already staged,
    // but no table has committed anything
    val doomed = new java.io.InputStream {
      private val src = randomBytes(40000, 82)
      private var pos = 0
      override def read(): Int = {
        if (pos >= 12000) throw new java.io.IOException("simulated media failure")
        val b = src(pos) & 0xff; pos += 1; b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= 12000) throw new java.io.IOException("simulated media failure")
        val n = math.min(len, 12000 - pos)
        System.arraycopy(src, pos, b, off, n); pos += n; n
      }
    }
    intercept[java.io.IOException](e.writeStream("doomed", doomed, batchBytes = 4096L))
    assert(!e.exists("doomed"))
    assert(e.objmap.filter(_.objectKey == "doomed").count() === 0,
      "a source failure must commit nothing — staging only")
    assert(e.indexStats() === statsBefore, "index state is untouched by the failed write")
    // a plain retry succeeds with no repair step
    val data = randomBytes(40000, 82)
    e.writeStream("doomed", new java.io.ByteArrayInputStream(data), batchBytes = 4096L)
    assert(java.util.Arrays.equals(e.get("doomed").get, data))
    assert(java.util.Arrays.equals(e.get("survivor").get, survivor))
  }

  /** Every read path must miss `key` and the index must read as it did at
    * `statsBefore`: what a write or delete that died mid-way must leave. */
  private def assertInvisible(e: DedupeEngine, key: String, statsBefore: IndexStats): Unit = {
    assert(!e.exists(key), s"$key: exists")
    assert(e.get(key).isEmpty, s"$key: get")
    assert(e.getStream(key).isEmpty, s"$key: getStream")
    assert(e.openStream(key).isEmpty, s"$key: openStream")
    assert(e.getMetadata(key).isEmpty, s"$key: getMetadata")
    assert(e.mapForPosition(key, 0).isEmpty, s"$key: mapForPosition")
    assert(!e.listObjects().objects.exists(_.objectKey == key), s"$key: listObjects")
    assert(e.reconstructAll().filter(_._1 == key).isEmpty, s"$key: reconstructAll")
    assert(e.objmap.filter(_.objectKey == key).count() === 0, s"$key: objmap rows")
    assert(e.indexStats() === statsBefore, s"$key: indexStats")
  }

  /** Segment dirs of the index that no retained manifest names. */
  private def unclaimedSegments(dir: String): Set[String] = {
    val d = java.nio.file.Paths.get(dir, "index")
    val s = Files.list(d)
    val names = try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    val named = names.filter(_.matches("manifest-\\d+\\.txt")).flatMap(m =>
      new String(Files.readAllBytes(d.resolve(m)), "UTF-8").linesIterator
        .map(_.takeWhile(c => c != '/' && c != '\t'))).toSet
    names.filter(n => n.startsWith("seg-") && !named(n)).toSet
  }

  /** An index whose next append throws once armed: the crash lands after
    * the payloads and before any index file is written. */
  private final class FailingAppend(inner: TableStore) extends TableStore {
    @volatile var armed = false
    override def read() = inner.read()
    override private[graft] def readWhere(c: String, v: String) = inner.readWhere(c, v)
    override def append(df: org.apache.spark.sql.DataFrame): Unit = {
      if (armed) { armed = false; throw new RuntimeException("simulated crash in the index append") }
      inner.append(df)
    }
    override def publish(df: org.apache.spark.sql.DataFrame): Unit = inner.publish(df)
    override def deleteKeys(keyCol: String, keys: Seq[String]): Unit = inner.deleteKeys(keyCol, keys)
    override def vacuum(): Unit = inner.vacuum()
  }

  /** The engine's default index table, dying between its segment write and
    * its manifest claim once armed: the segment is on disk, never claimed. */
  private final class DiesBeforeClaim(p: String, s: StructType)
      extends VersionedTable(spark, p, s, statsCol = Some("objectKey"), splitCol = Some("kind")) {
    @volatile var armed = false
    override protected def onBeforeManifestClaim(): Unit =
      if (armed) { armed = false; throw new RuntimeException("simulated crash before the index claim") }
  }

  for ((mode, claimed) <- Seq("the index append throws" -> false,
      "the index segment is written but never claimed" -> true))
    test(s"a write that dies before its index commit leaves nothing visible: $mode") {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-crashwin").toString
      var arm: () => Unit = null
      val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1), None,
        Some((p, s) =>
          if (claimed) { val t = new DiesBeforeClaim(p, s); arm = () => t.armed = true; t }
          else {
            val t = new FailingAppend(new VersionedTable(spark, p, s,
              statsCol = Some("objectKey"), splitCol = Some("kind")))
            arm = () => t.armed = true; t
          }))
      val survivor = randomBytes(8000, 83)
      e.write("survivor", survivor)
      val streamed = randomBytes(30000, 84)
      val written = randomBytes(20000, 85)
      // writeStream, write and cloneObject share one commit path; each must
      // fail clean. A clone writes no payloads, so it orphans none.
      val writers: Seq[(String, String => Unit, Array[Byte])] = Seq(
        ("writeStream", k => e.writeStream(k, new java.io.ByteArrayInputStream(streamed),
          batchBytes = 4096L), streamed),
        ("write", k => e.write(k, written), written),
        ("cloneObject", k => e.cloneObject("survivor", k), survivor))
      for ((via, writeTo, expected) <- writers) {
        val key = s"doomed-$via"
        val statsBefore = e.indexStats()
        val payloadsBefore = e.payloads.map(_.chunkKey).collect().toSet
        arm()
        intercept[RuntimeException](writeTo(key))
        assertInvisible(e, key, statsBefore)
        val landed = e.payloads.map(_.chunkKey).collect().toSet -- payloadsBefore
        assert(landed.nonEmpty === (via != "cloneObject"),
          s"$via: the payloads land before the index commit")
        assert(unclaimedSegments(dir).nonEmpty === claimed, s"$via: the unclaimed segment is on disk")
        // recovery: repair reclaims exactly the orphaned chunks, vacuum the
        // unclaimed segment, and a plain retry round-trips
        assert(e.repairIndex().orphanChunks.toSet === landed, s"$via: repair reclaims the orphans only")
        e.vacuumIndex()
        assert(unclaimedSegments(dir).isEmpty, s"$via: vacuum sweeps the unclaimed segment")
        assert(e.indexStats() === statsBefore, s"$via: recovery leaves the index as it was")
        assert(java.util.Arrays.equals(e.get("survivor").get, survivor), s"$via: survivor intact")
        writeTo(key)
        assert(java.util.Arrays.equals(e.get(key).get, expected), s"$via: retry round-trips")
        assert(e.getMetadata(key).get.map.map(_.chunkLength.toLong).sum === expected.length.toLong)
      }
      assert(e.repairIndex() === RepairReport(Nil, Nil), "nothing is left to repair")
    }

  test("a delete that dies after its index commit: the key is gone, repairIndex reclaims its chunks") {
    val dir = Files.createTempDirectory("graft-delcrash").toString
    val inner = new ParquetPayloadStore(spark, s"$dir/payloads")
    @volatile var armed = false
    val failingGc = new PayloadStore {
      def read() = inner.read()
      def append(payloads: org.apache.spark.sql.DataFrame): Unit = inner.append(payloads)
      def fetch(keys: Seq[String]) = inner.fetch(keys)
      def healDuplicates() = inner.healDuplicates()
      def delete(keys: Seq[String]): Unit = {
        if (armed) { armed = false; throw new RuntimeException("simulated crash before the payload GC") }
        inner.delete(keys)
      }
    }
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1), payloadStore = Some(failingGc))
    val keep = randomBytes(8000, 86)
    e.write("keep", keep)
    val statsBefore = e.indexStats()
    e.write("victim", randomBytes(12000, 87))
    val victimChunks = e.getMetadata("victim").get.map.map(_.chunkKey).toSet
    armed = true
    intercept[RuntimeException](e.delete("victim"))
    assertInvisible(e, "victim", statsBefore)
    assert(e.repairIndex().orphanChunks.toSet === victimChunks, "repair reclaims the victim's chunks")
    assert(e.payloads.count() === statsBefore.chunkCount, "only the survivor's payloads remain")
    assert(java.util.Arrays.equals(e.get("keep").get, keep))
  }

  test("each write, clone and delete commits the index exactly once") {
    val dir = Files.createTempDirectory("graft-onecommit").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val idx = new VersionedTable(spark, s"$dir/index", DedupeEngine.IndexSchema)
    def version: Long = idx.retainedVersions.lastOption.getOrElse(-1L)
    def commits(body: => Unit): Long = { val v = version; body; version - v }
    assert(commits(e.write("a", randomBytes(6000, 88))) === 1L, "write")
    assert(commits(e.write("b", randomBytes(6000, 89))) === 1L, "write")
    assert(commits(e.ingest(Seq("c" -> randomBytes(4000, 90), "d" -> randomBytes(4000, 91)))) === 1L,
      "ingest")
    assert(commits(e.writeStream("s", new java.io.ByteArrayInputStream(randomBytes(9000, 92)),
      batchBytes = 2048L)) === 1L, "writeStream")
    assert(commits(e.cloneObject("a", "a2")) === 1L, "cloneObject")
    assert(commits(e.delete("a")) === 1L, "delete")
    assert(commits(e.delete("b")) === 1L, "delete")
    assert(e.indexStats().objectCount === 4)
  }

  test("open refuses an index directory of the retired two-table layout and names it") {
    val dir = Files.createTempDirectory("graft-oldlayout").toString
    DedupeEngine.create(spark, dir, DedupeSettings(256, 2048, 8, 1))
    Files.createDirectories(java.nio.file.Paths.get(dir, "objmap", "seg-0-deadbeef"))
    val ex = intercept[IllegalStateException](DedupeEngine.open(spark, dir))
    assert(ex.getMessage.contains(dir) && ex.getMessage.contains("objmap"), ex.getMessage)
  }

  test("repairIndex heals duplicate payload rows from out-of-contract concurrent appends") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dup").toString
    val e = new DedupeEngine(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val data = randomBytes(5000, 91)
    e.write("obj", data)
    // simulate two racing ingests that both appended the same chunk payload
    // (documented out of contract — repair must still heal it, or every
    // reconstruction of the object concatenates that chunk twice)
    val rogue = new ParquetPayloadStore(spark, s"$dir/payloads")
    val k = e.objmap.head().chunkKey
    val bytes = rogue.fetch(Seq(k))(k)
    rogue.append(Seq((k, bytes)).toDF("chunkKey", "data"))
    assert(e.payloads.filter(_.chunkKey == k).count() === 2, "the dup must exist for this test to bite")
    assert(e.repairIndex().healedDuplicates === Seq(k), "the healed key must be reported")
    assert(e.payloads.filter(_.chunkKey == k).count() === 1, "exactly one exemplar survives")
    assert(java.util.Arrays.equals(e.get("obj").get, data), "object reads correctly after healing")
  }

  test("racing ingests sharing chunks: reads are correct IMMEDIATELY, repair only reclaims bytes") {
    val dir = Files.createTempDirectory("graft-race").toString
    val settings = DedupeSettings(256, 2048, 8, 1)
    val data = randomBytes(6000, 77) // same content under two keys: every chunk shared
    // Engine B is a plain second writer on the same index. Engine A's payload
    // store is wrapped so that A's FIRST payload append lets B's whole ingest
    // run first — the exact interleaving where BOTH ingests have already
    // derived their payload left-anti from the same stale snapshot (A's plan
    // was resolved before B committed), so A re-appends every chunk B just
    // stored. This drives the duplicate window through the REAL ingest path,
    // not a hand-built post-race state.
    val engineB = new DedupeEngine(spark, dir, settings)
    val inner = new ParquetPayloadStore(spark, s"$dir/payloads")
    var raced = false
    val racingStore = new PayloadStore {
      def read() = inner.read()
      def delete(keys: Seq[String]) = inner.delete(keys)
      def fetch(keys: Seq[String]) = inner.fetch(keys)
      def healDuplicates() = inner.healDuplicates()
      def append(payloads: org.apache.spark.sql.DataFrame): Unit = {
        if (!raced) { raced = true; engineB.ingest(Seq("objB" -> data)) }
        inner.append(payloads) // left-anti side resolved pre-race: duplicates land
      }
    }
    val engineA = new DedupeEngine(spark, dir, settings, payloadStore = Some(racingStore))
    engineA.ingest(Seq("objA" -> data))
    assert(raced, "the race hook must have fired")
    import spark.implicits._
    val dupKeys = engineA.payloads.groupBy($"chunkKey").count()
      .filter($"count" > 1).count()
    assert(dupKeys > 0, "the race must actually produce duplicate payload rows, or this test is vacuous")
    // reads are correct THROUGH the duplicate window — no repair has run
    assert(java.util.Arrays.equals(engineA.get("objA").get, data),
      "get(objA) must not return doubled chunks during the duplicate window")
    assert(java.util.Arrays.equals(engineA.get("objB").get, data),
      "get(objB) must not return doubled chunks during the duplicate window")
    val streamed = {
      val out = new java.io.ByteArrayOutputStream()
      engineA.getStream("objA").get.foreach(out.write)
      out.toByteArray
    }
    assert(java.util.Arrays.equals(streamed, data), "getStream must read through the exemplar too")
    val rebuilt = engineA.reconstructAll().collect().toMap
    assert(rebuilt.keySet === Set("objA", "objB"))
    assert(java.util.Arrays.equals(rebuilt("objA"), data) &&
      java.util.Arrays.equals(rebuilt("objB"), data),
      "bulk reconstruction must dedupe the payload side before the join")
    // repair now only reclaims the duplicated bytes; reads stay identical
    val healed = engineA.repairIndex().healedDuplicates
    assert(healed.nonEmpty, "repair must report the reclaimed duplicate keys")
    assert(engineA.payloads.groupBy($"chunkKey").count().filter($"count" > 1).count() === 0L)
    assert(java.util.Arrays.equals(engineA.get("objA").get, data))
    assert(java.util.Arrays.equals(engineA.get("objB").get, data))
  }

  test("ingestDirectory rejects files beyond the single-row bound, loudly and up front") {
    val e = newEngine()
    val src = Files.createTempDirectory("graft-bound")
    Files.write(src.resolve("ok.bin"), randomBytes(400, 72))
    Files.write(src.resolve("huge.bin"), randomBytes(1000, 73))
    val ex = intercept[IllegalArgumentException](
      e.ingestDirectory(src.toString, maxObjectBytes = 500L))
    assert(ex.getMessage.contains("huge.bin"), s"error must name the offender: ${ex.getMessage}")
    assert(ex.getMessage.contains("writeStream"), "error must point at the streaming path")
    assert(e.indexStats().objectCount === 0, "rejection must happen before any ingest")
  }

  test("empty objects are rejected on the driver, naming the file or key, before any commit") {
    val e = newEngine()
    e.write("seed", randomBytes(400, 74))
    val before = e.indexStats()
    val src = Files.createTempDirectory("graft-empty")
    Files.write(src.resolve("ok.bin"), randomBytes(400, 75))
    Files.write(src.resolve("hollow.bin"), Array.emptyByteArray)
    val ex = intercept[IllegalArgumentException](e.ingestDirectory(src.toString))
    assert(ex.getMessage.contains("hollow.bin"), s"error must name the empty file: ${ex.getMessage}")
    assert(!ex.getMessage.contains("ok.bin"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      e.ingest(Seq("full" -> randomBytes(400, 76), "void" -> Array.emptyByteArray)))
    assert(ex2.getMessage.contains("void"), s"error must name the empty object: ${ex2.getMessage}")
    assert(e.indexStats() === before, "a rejected batch commits nothing")
  }

  test("writeOrReplace upserts content") {
    val e = newEngine()
    val v1 = randomBytes(5000, 11)
    val v2 = randomBytes(7000, 12)
    e.write("u1", v1)
    e.writeOrReplace("u1", v2)
    assert(java.util.Arrays.equals(e.get("u1").get, v2))
    assert(e.indexStats().objectCount == 1)
  }

  test("writeOrReplace checks the new data before it touches the stored object") {
    val e = newEngine()
    val old = randomBytes(5000, 13)
    e.write("k", old)
    intercept[IllegalArgumentException](e.writeOrReplace("k", Array.emptyByteArray))
    assert(e.get("k").exists(java.util.Arrays.equals(_, old)), "bad input must leave the old object intact")
  }

  test("a batch one chunk row past KeyedProbeMax stores exactly what smaller batches store") {
    // the join path (one batch of KeyedProbeMax + 1 chunk rows) and the
    // keyed path (the same objects in batches under the bound) must leave
    // the same index, the same payload rows and the same bytes: both
    // dedupe within the batch and against chunks stored before it
    val settings = DedupeSettings(256, 2048, 8, 1)
    val shared = randomBytes(3000, 90)
    val seed = Seq("seed" -> (shared ++ randomBytes(3000, 91)))
    val bound = DedupeEngine.KeyedProbeMax + 1
    val objs = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var rows = 0
    var full = false
    while (!full) {
      // every third object repeats the seed's chunks, every fifth an earlier
      // object of this batch
      val i = objs.size
      val data =
        if (i % 3 == 0) shared ++ randomBytes(1000, 100L + i)
        else if (i % 5 == 0) objs(i / 2)._2
        else randomBytes(3000, 100L + i)
      val n = settings.chunkWithData(data).size
      if (rows + n > bound) full = true
      else { objs += f"obj-$i%03d" -> data; rows += n }
    }
    // pad with single-chunk objects (under the 256-byte minimum chunk)
    while (rows < bound) { objs += f"pad-$rows%05d" -> randomBytes(100, rows); rows += 1 }
    assert(objs.map(o => settings.chunkWithData(o._2).size).sum === bound)
    val whole = newEngine()
    whole.ingest(seed)
    whole.ingest(objs.toSeq)
    val split = newEngine()
    split.ingest(seed)
    val (left, right) = objs.toSeq.splitAt(objs.size / 2)
    val halves = Seq(left, right)
    assert(halves.forall(_.map(o => settings.chunkWithData(o._2).size).sum <= DedupeEngine.KeyedProbeMax))
    halves.foreach(split.ingest)
    assert(whole.indexStats() === split.indexStats())
    def payloadRows(e: DedupeEngine) =
      e.payloads.collect().map(r => r.chunkKey -> r.data.toSeq).sortBy(_._1).toSeq
    val stored = payloadRows(whole)
    assert(stored.map(_._1).distinct.size === stored.size, "one payload row per chunk key")
    assert(stored === payloadRows(split))
    for ((k, data) <- seed ++ objs) {
      val (a, b) = (whole.get(k), split.get(k))
      assert(a.exists(java.util.Arrays.equals(_, data)) && b.exists(java.util.Arrays.equals(_, data)), k)
    }
  }

  test("reconstructAll rebuilds every object distributively") {
    val e = newEngine()
    val objs = (1 to 6).map(i => s"r$i" -> randomBytes(8000 + i * 500, 100 + i))
    e.ingest(objs)
    val rebuilt = e.reconstructAll().collect().toMap
    assert(rebuilt.keySet == objs.map(_._1).toSet)
    objs.foreach { case (k, data) =>
      assert(java.util.Arrays.equals(rebuilt(k), data), s"object $k mismatch")
    }
    // filtered variant
    val some = e.reconstructAll(Some(Seq("r1", "r3"))).collect().toMap
    assert(some.keySet == Set("r1", "r3"))
  }

  test("ingestDirectory + exportAll round-trip files byte-identically") {
    val e = newEngine()
    val srcDir = Files.createTempDirectory("graft_src")
    val files = (1 to 4).map { i =>
      val data = randomBytes(5000 + i * 777, 900 + i)
      Files.write(srcDir.resolve(s"file$i.bin"), data)
      s"file$i.bin" -> data
    }
    e.ingestDirectory(srcDir.toString)
    assert(e.indexStats().objectCount == 4)
    val outDir = Files.createTempDirectory("graft_out")
    val n = e.exportAll(outDir.toString)
    assert(n == 4)
    files.foreach { case (name, data) =>
      val back = Files.readAllBytes(outDir.resolve(name))
      assert(java.util.Arrays.equals(back, data), s"$name mismatch")
    }
  }

  test("openStream: sequential read, seek, EOF semantics") {
    val e = newEngine()
    val data = randomBytes(20000, 42)
    e.write("st1", data)
    val st = e.openStream("st1").get
    assert(st.length == 20000L)
    // sequential full read
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](700)
    var n = st.read(buf, 0, buf.length)
    while (n > 0) { out.write(buf, 0, n); n = st.read(buf, 0, buf.length) }
    assert(java.util.Arrays.equals(out.toByteArray, data))
    // random access
    st.seek(12345)
    val m = st.read(buf, 0, 100)
    assert(m == 100)
    assert(buf.take(100).sameElements(data.slice(12345, 12445)))
    // seek to EOF is legal (diverges from reference bug DedupeStream.cs:125)
    st.seek(20000)
    assert(st.read(buf, 0, 10) == -1)
    assertThrows[IllegalArgumentException](st.seek(20001))
    assert(e.openStream("missing").isEmpty)
  }

  test("create/open lifecycle persists chunking params; tabular renders") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle").toString
    val s = graft.core.DedupeSettings(512, 4096, 16, 2)
    val e1 = DedupeEngine.create(spark, dir, s)
    e1.write("k1", randomBytes(3000, 77))
    assertThrows[IllegalArgumentException](DedupeEngine.create(spark, dir, s))
    val e2 = DedupeEngine.open(spark, dir)
    assert(e2.settings == s)
    assert(java.util.Arrays.equals(e2.get("k1").get, e1.get("k1").get))
    val tab = e2.listObjects().toTabularString
    assert(tab.contains("k1") && tab.contains("Key"))
    assert(e2.indexStats().toTabularString.contains("Ratio"))
  }
}
