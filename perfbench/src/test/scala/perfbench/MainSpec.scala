package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  test("arguments parse into options") {
    assert(Main.parse(Array("--workload", "md5", "--seed", "4", "--seconds", "10", "--trace", "1")) ==
      Right(Main.Opts("md5", 4, 10, trace = true)))
  }

  test("bad arguments are refused with a reason") {
    assert(Main.parse(Array("--workload", "nope", "--seed", "4", "--seconds", "10", "--trace", "0")).isLeft)
    assert(Main.parse(Array("--workload", "gear", "--seed", "x", "--seconds", "10", "--trace", "0")).isLeft)
    assert(Main.parse(Array("--workload", "gear", "--seed", "1", "--seconds", "0", "--trace", "0")).isLeft)
    assert(Main.parse(Array("--workload", "gear", "--seed", "1", "--seconds", "5", "--trace", "2")).isLeft)
    assert(Main.parse(Array("--workload", "gear", "--seed", "1", "--seconds", "5")).isLeft)
  }

  test("map rows tile an object only when contiguous from zero to its length") {
    def row(a: Long, l: Int) = graft.engine.MapRow("k", "c", l, 0, a)
    assert(Run.tiles(Seq(row(10, 5), row(0, 10)), 15))
    assert(!Run.tiles(Seq(row(0, 10), row(11, 4)), 15))
    assert(!Run.tiles(Seq(row(0, 10)), 15))
    assert(!Run.tiles(Nil, 0))
  }

  test("json rendering keeps every digit and escapes strings") {
    assert(Json.render(Obj("a" -> 1.25, "b" -> "x\"y", "c" -> Seq(1, 2), "d" -> true)) ==
      "{\"a\":1.25,\"b\":\"x\\\"y\",\"c\":[1,2],\"d\":true}")
    assert(Json.render(0.1 + 0.2) == "0.30000000000000004")
  }
}
