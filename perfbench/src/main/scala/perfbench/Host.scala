package perfbench

import java.nio.file.{Files, Paths}

/** `/proc/stat` and `/proc/self/stat` readings, in jiffies. */
final case class CpuSample(hostBusy: Long, steal: Long, self: Long)

object Host {

  /** (busy, steal) from the aggregate `cpu` line: busy is user + nice +
    * system + irq + softirq; idle, iowait and guest time are excluded. */
  def parseCpuLine(line: String): Option[(Long, Long)] = {
    val f = line.trim.split("\\s+")
    if (f.length < 9 || f(0) != "cpu") None
    else try {
      val v = f.slice(1, 9).map(_.toLong)
      Some((v(0) + v(1) + v(2) + v(5) + v(6), v(7)))
    } catch { case _: NumberFormatException => None }
  }

  /** utime + stime of `/proc/self/stat`, read after the last ')' so a
    * command name with spaces or parentheses cannot shift the fields. */
  def parseSelfStat(text: String): Option[Long] = {
    val close = text.lastIndexOf(')')
    if (close < 0) None
    else {
      val f = text.substring(close + 1).trim.split("\\s+")
      // fields after the name start at field 3 (state): utime is 14, stime 15
      try Some(f(11).toLong + f(12).toLong)
      catch { case _: Exception => None }
    }
  }

  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "US-ASCII"))
    catch { case _: Exception => None }

  def sample(): Option[CpuSample] = for {
    stat <- read("/proc/stat")
    (busy, steal) <- stat.linesIterator.find(_.startsWith("cpu ")).flatMap(parseCpuLine)
    self <- read("/proc/self/stat").flatMap(parseSelfStat)
  } yield CpuSample(busy, steal, self)

  /** Steal jiffies and busy jiffies of other processes between two samples;
    * foreign load is floored at 0 against sampling skew. */
  def delta(a: CpuSample, b: CpuSample): (Long, Long) =
    (b.steal - a.steal, math.max(0L, (b.hostBusy - a.hostBusy) - (b.self - a.self)))

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds used so far by the JVM's application threads: every
    * Java thread (the driver, Spark's task and service threads) except the
    * JIT compiler threads; garbage-collector threads are not Java threads.
    * Time spent waiting for a CPU, stolen or not, is not counted. */
  def appCpuNs(): Long = {
    val infos = threads.getThreadInfo(threads.getAllThreadIds, 0)
    var total = 0L
    for (i <- infos if i != null && !i.getThreadName.contains("CompilerThread")) {
      val t = threads.getThreadCpuTime(i.getThreadId)
      if (t > 0) total += t
    }
    total
  }

  /** What this run ran on: cores, heap and the repo's core-count override. */
  def fingerprint: Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
    "java" -> System.getProperty("java.version"))
}
