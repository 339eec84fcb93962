package graft.tools
import org.apache.spark.sql.SparkSession

/** Generic per-query timer for local iteration: warms each named query
  * once (codegen + scan), clears the session memos, then times a second
  * pass — the same steady-state protocol Bench uses, without running the
  * whole suite. Usage: runMain graft.tools.QTime <sfDir> <q1,q2,...>
  * Cores come from SPARK_GRAFT_CPUS with Bench's default, so a QTime row
  * compares with a Bench row. */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = names.map(n => n -> graft.SparkEntry.queries(n))
    qs.foreach { case (_, fn) => fn(spark, sfDir).count() }
    // mirror Bench's warm→clear→time protocol EXACTLY via the ONE shared
    // registry — the r12 advisor found the two hand-copied lists had
    // diverged again (st21 in neither), reporting a cache lookup as a
    // query's cost (st20 timed 1.6 s here vs its honest 17.5 s bench row
    // before the first parity fix)
    graft.BenchMemos.clearAll()
    System.gc(); Thread.sleep(500)
    qs.foreach { case (name, fn) =>
      val before = graft.BenchMemos.buildSnapshot()
      val c0 = graft.Bench.cpuSample()
      val t0 = System.nanoTime(); val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val built = graft.BenchMemos.builtSince(before)
      val tag = if (built.isEmpty) "" else built.mkString(" memo_built=[", ",", "]")
      // same contention provenance Bench stamps per row, via the ONE
      // shared sampler (Bench.cpuSample/cpuDelta — the r14 advisor found
      // the hand-copied steal-delta logic here drifting from Bench's).
      // Printed affirmatively when measured: steal=0 foreign=0 means a
      // verified-quiet window, so a slow timing is the change under test.
      val st = (for (s0 <- c0; s1 <- graft.Bench.cpuSample()) yield {
        val (sj, fb) = graft.Bench.cpuDelta(s0, s1)
        s" steal=$sj foreign=$fb"
      }).getOrElse("")
      println(f"[qtime] $name: rows=$n time=$dt%.2f s$tag$st")
    }
    spark.stop()
  }
}
