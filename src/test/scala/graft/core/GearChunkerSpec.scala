package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class GearChunkerSpec extends AnyFunSuite {

  private val min = 256
  private val max = 2048
  private val maskBits = 9 // expected chunk ~ min + 512
  /** The gear settings whose derived mask width is `maskBits`. */
  private val gearSettings = DedupeSettings(min, max, 2, 1, DedupeSettings.GearProfile)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val bytesGen: Gen[Array[Byte]] =
    Gen.choose(1, 20000).flatMap(n =>
      Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))

  test("boundaries tile [0, len) contiguously, sizes within envelope") {
    (1 to 30).foreach { i =>
      val data = sample(bytesGen, 1000 + i)
      val bs = GearChunker.boundaries(data, min, max, maskBits)
      assert(bs.head._1 == 0L)
      assert(bs.map(_._2.toLong).sum == data.length.toLong)
      bs.sliding(2).foreach {
        case Seq((a1, l1), (a2, _)) => assert(a1 + l1 == a2)
        case _ =>
      }
      // every chunk except possibly the last is within [min, max]
      bs.dropRight(1).foreach { case (_, l) =>
        assert(l >= min && l <= max, s"interior chunk size $l out of envelope")
      }
      assert(bs.last._2 <= max)
    }
  }

  test("deterministic: identical input => identical chunk keys") {
    assert(gearSettings.gearMaskBits == maskBits)
    (1 to 10).foreach { i =>
      val data = sample(bytesGen, 2000 + i)
      val a = Chunker.chunk(data, gearSettings)
      val b = Chunker.chunk(data.clone(), gearSettings)
      assert(a == b)
    }
  }

  test("CDC realignment: a prefix edit re-synchronizes chunk keys") {
    assert(gearSettings.gearMaskBits == maskBits)
    val r = new scala.util.Random(7)
    val data = new Array[Byte](40000); r.nextBytes(data)
    val edited = Array.fill(100)(r.nextInt().toByte) ++ data
    val orig = Chunker.chunk(data, gearSettings).map(_.chunkKey).toSet
    val after = Chunker.chunk(edited, gearSettings).map(_.chunkKey)
    val shared = after.count(orig.contains)
    assert(shared * 2 > after.size,
      s"expected most chunks to realign after a prefix edit, shared=$shared/${after.size}")
  }

  test("engine round-trips byte-identically under the gear profile") {
    val spark = graft.SparkSpec.session
    val dir = java.nio.file.Files.createTempDirectory("gear_idx").toString
    val eng = graft.engine.DedupeEngine.create(spark, dir,
      DedupeSettings(256, 2048, 8, 1, DedupeSettings.GearProfile))
    val r = new scala.util.Random(11)
    val data = new Array[Byte](30000); r.nextBytes(data)
    eng.write("g1", data)
    assert(java.util.Arrays.equals(eng.get("g1").get, data))
    // persisted profile survives re-open
    val reopened = graft.engine.DedupeEngine.open(spark, dir)
    assert(reopened.settings.profile == DedupeSettings.GearProfile)
    reopened.write("g2", data)
    assert(reopened.indexStats().chunkCount == eng.objmap
      .select("chunkKey").distinct().count(),
      "identical object under same profile adds no new chunks")
  }
}
