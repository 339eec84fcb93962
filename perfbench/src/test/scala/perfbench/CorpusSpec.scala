package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private def all(c: Corpus) = (c.seedBatch +: c.bulkBatches).flatMap(_._2) ++
    (0 until 3).map(i => c.churnKey(i) -> c.churn(i))

  test("the same seed gives the same keys and bytes") {
    val a = all(Corpus(7, 4, 3, 2))
    val b = all(Corpus(7, 4, 3, 2))
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((k, x), (_, y)) => assert(java.util.Arrays.equals(x, y), k) }
  }

  test("another seed gives other bytes under the same keys") {
    val a = all(Corpus(7, 4, 3, 2))
    val b = all(Corpus(8, 4, 3, 2))
    assert(a.map(_._1) == b.map(_._1))
    assert(a.zip(b).forall { case ((_, x), (_, y)) => !java.util.Arrays.equals(x, y) })
  }

  test("even runs are shared by every object, odd runs by none") {
    val c = Corpus(3, 2, 0, 0)
    val x = c.large('a', 0)
    val y = c.large('b', 1)
    val B = Corpus.BlockBytes
    def block(a: Array[Byte], i: Int) = java.util.Arrays.copyOfRange(a, i * B, (i + 1) * B)
    assert(x.length == 16 * B)
    for (i <- 0 until 8) assert(java.util.Arrays.equals(block(x, i), block(y, i)), s"block $i")
    for (i <- 8 until 16) assert(!java.util.Arrays.equals(block(x, i), block(y, i)), s"block $i")
    // churn objects share their first run with the large objects
    val w = c.churn(0)
    assert(java.util.Arrays.equals(block(w, 0), block(x, 0)))
    assert(!java.util.Arrays.equals(block(w, 2), block(x, 2)))
  }

  test("small objects span one shared block plus a bounded unique tail") {
    val c = Corpus(5, 1, 20, 0)
    val sizes = (0 until 20).map(c.small(_).length)
    assert(sizes.forall(s => s >= Corpus.BlockBytes + 8 * 1024 && s < Corpus.BlockBytes + 32 * 1024))
    assert(sizes.distinct.size > 1)
  }
}
