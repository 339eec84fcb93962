package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HostSpec extends AnyFunSuite {

  test("cpu line: busy excludes idle, iowait and guest; steal is field 8") {
    assert(Host.parseCpuLine("cpu  10 1 5 1000 7 2 3 40 9 0") == Some((21L, 40L)))
    assert(Host.parseCpuLine("cpu0 1 2 3 4 5 6 7 8").isEmpty)
    assert(Host.parseCpuLine("cpu  x 1 5 1000 7 2 3 40").isEmpty)
  }

  test("self stat: utime + stime are read after the last ')'") {
    val line = "123 (a) b) (c) S 1 2 3 4 5 6 7 8 9 10 70 30 0 0"
    assert(Host.parseSelfStat(line) == Some(100L))
    assert(Host.parseSelfStat("garbage").isEmpty)
  }

  test("foreign load is host busy minus own busy, floored at zero") {
    assert(Host.delta(CpuSample(100, 5, 30), CpuSample(180, 9, 50)) == ((4L, 60L)))
    assert(Host.delta(CpuSample(100, 5, 30), CpuSample(110, 5, 60)) == ((0L, 0L)))
  }
}
