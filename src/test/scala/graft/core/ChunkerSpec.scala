package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class ChunkerSpec extends AnyFunSuite {

  /** Deterministic property loop (scalatestplus bridge not on classpath). */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B], n: Int = 80)(f: (A, B) => Unit): Unit = {
    var seed = Seed(42L)
    (0 until n).foreach { _ =>
      val a = ga.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val b = gb.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      f(a, b)
    }
  }

  private val settingsGen: Gen[DedupeSettings] = for {
    min <- Gen.oneOf(256, 320, 512, 1024)
    maxMult <- Gen.choose(8, 16)
    shift <- Gen.oneOf(2, 8, 32, min)
    b <- Gen.choose(1, 2)
  } yield DedupeSettings(min, ((min * maxMult + 63) / 64) * 64, shift, b)

  private val bytesGen: Gen[Array[Byte]] = for {
    n <- Gen.choose(1, 4 * 2048)
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield {
    val r = new scala.util.Random(seed)
    val a = new Array[Byte](n); r.nextBytes(a); a
  }

  test("chunks tile [0, len) contiguously and sum to len") {
    forAll(bytesGen, settingsGen) { (data, s) =>
      val refs = Chunker.chunk(data, s)
      assert(refs.nonEmpty)
      assert(refs.head.address == 0L)
      refs.sliding(2).foreach {
        case Seq(a, b) => assert(a.address + a.length == b.address)
        case _ =>
      }
      assert(refs.map(_.length.toLong).sum == data.length.toLong)
      assert(refs.zipWithIndex.forall { case (r, i) => r.position == i })
    }
  }

  test("chunk sizes respect [min, max + shift) except the final chunk") {
    forAll(bytesGen, settingsGen) { (data, s) =>
      val refs = Chunker.chunk(data, s)
      refs.init.foreach { r =>
        assert(r.length >= s.minChunkSize, s"chunk ${r.position} too small")
        assert(r.length < s.maxChunkSize + s.shiftCount, s"chunk ${r.position} too big")
      }
      assert(refs.last.length <= s.maxChunkSize + s.shiftCount)
    }
  }

  test("deterministic: identical input => identical chunk keys") {
    forAll(bytesGen, settingsGen) { (data, s) =>
      assert(Chunker.chunk(data, s) == Chunker.chunk(data.clone(), s))
    }
  }

  test("reconstruction from chunkWithData is byte-identical") {
    forAll(bytesGen, settingsGen) { (data, s) =>
      val cs = Chunker.chunkWithData(data, s)
      val rebuilt = cs.sortBy(_.ref.address).flatMap(_.data).toArray
      assert(java.util.Arrays.equals(rebuilt, data))
    }
  }

  test("every entry point chunks by the settings' profile, batch and stream alike") {
    for (p <- Seq(DedupeSettings.Md5Profile, DedupeSettings.GearProfile))
      forAll(bytesGen, settingsGen) { (data, s0) =>
        val s = s0.copy(profile = p)
        val expected = s.chunkWithData(data).map(_.ref)
        val spans = expected.map(r => (r.address, r.length))
        val streamed = Chunker.chunkStream(new java.io.ByteArrayInputStream(data), s)
        assert(streamed.map(_.ref).toIndexedSeq == expected, s"chunkStream ($p)")
        assert(Chunker.chunk(data, s) == expected, s"chunk ($p)")
        assert(Chunker.chunkWithData(data, s).map(_.ref) == expected, s"chunkWithData ($p)")
        assert(Chunker.boundaries(data, s) == spans, s"boundaries ($p)")
        if (p == DedupeSettings.GearProfile)
          assert(GearChunker.boundaries(data, s.minChunkSize, s.maxChunkSize,
            s.gearMaskBits) == spans, "GearChunker.boundaries")
      }
  }

  test("chunkKey is urlsafe unpadded base64 of sha256") {
    val data = "hello world".getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expected = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(md.digest(data))
    assert(Chunker.chunkKey(data) == expected)
    assert(!expected.contains('='))
  }

  test("single-chunk fast path when len <= minChunkSize") {
    val s = DedupeSettings()
    val data = new Array[Byte](s.minChunkSize)
    assert(Chunker.chunk(data, s) ==
      IndexedSeq(ChunkRef(Chunker.chunkKey(data), s.minChunkSize, 0, 0L)))
  }

  test("content-defined: shared suffix re-chunks identically after prefix change") {
    // Insert a prefix; chunks strictly after the first boundary following the
    // edit point must realign (the CDC property that makes dedupe work).
    // boundary-dominant params: expected chunk ~ min + shift*2^8 = 768 << max,
    // so boundaries are content-defined rather than max-cap positional.
    val s = DedupeSettings(256, 2048, 2, 1)
    val r = new scala.util.Random(7)
    val base = new Array[Byte](64 * 1024); r.nextBytes(base)
    val shifted = new Array[Byte](100 + base.length)
    r.nextBytes(shifted)
    System.arraycopy(base, 0, shifted, 100, base.length)
    val k1 = Chunker.chunkWithData(base, s).map(_.ref.chunkKey).toSet
    val k2 = Chunker.chunkWithData(shifted, s).map(_.ref.chunkKey).toSet
    val shared = k1.intersect(k2).size
    assert(shared * 3 > k1.size,
      s"expected most chunks shared after prefix insert, got $shared/${k1.size}")
  }

  test("all-zero input caps chunks at max size boundary") {
    val s = DedupeSettings(256, 2048, 8, 4) // boundary nearly impossible
    val data = new Array[Byte](10000)
    val refs = Chunker.chunk(data, s)
    // all-zero: every window hashes the same; either all boundaries or none.
    refs.init.foreach(r => assert(r.length <= s.maxChunkSize + s.shiftCount))
    assert(refs.map(_.length).sum == 10000)
    // identical content => identical keys for same-length chunks
    assert(refs.init.map(_.chunkKey).distinct.size <= 1)
  }

  test("settings validation rejects out-of-envelope params") {
    assertThrows[IllegalArgumentException](DedupeSettings(minChunkSize = 128))
    assertThrows[IllegalArgumentException](DedupeSettings(minChunkSize = 300))
    assertThrows[IllegalArgumentException](DedupeSettings(maxChunkSize = 4096, minChunkSize = 1024))
    assertThrows[IllegalArgumentException](DedupeSettings(shiftCount = 1))
    assertThrows[IllegalArgumentException](DedupeSettings(shiftCount = 2048, minChunkSize = 1024))
    assertThrows[IllegalArgumentException](DedupeSettings(boundaryCheckBytes = 5))
    DedupeSettings() // defaults valid
  }
}
