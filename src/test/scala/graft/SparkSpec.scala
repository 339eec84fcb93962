package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM; suites reuse it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** relativePath -> (size, mtime, md5) for every regular file under `dir` —
    * the byte-identity fingerprint the targeted-delete specs assert with. */
  def fileFingerprints(dir: String): Map[String, (Long, Long, String)] = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    val out = Map.newBuilder[String, (Long, Long, String)]
    def walk(p: java.nio.file.Path): Unit =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().forEachRemaining(walk) finally s.close()
      } else {
        val md = java.security.MessageDigest.getInstance("MD5")
        out += root.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis,
            md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString))
      }
    walk(root)
    out.result()
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = workDuring(body).jobs

  /** The Spark work `body` starts: jobs, the summed input bytes of their
    * tasks and the files their scans read (the "number of files read" of
    * every scan in the SQL executions it ran). The listener bus is drained
    * before the counts are read, so a slow bus cannot make them come out
    * low. */
  def workDuring(body: => Unit): SparkSpec.Work = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val inputBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(jobStart: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(taskEnd: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(taskEnd.taskMetrics).foreach(m => inputBytes.addAndGet(m.inputMetrics.bytesRead))
    }
    val sql = spark.sharedState.statusStore
    val before = sql.executionsList().map(_.executionId).foldLeft(-1L)(math.max)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      val filesRead = sql.executionsList().filter(_.executionId > before).map { e =>
        val values = sql.executionMetrics(e.executionId)
        e.metrics.filter(_.name == "number of files read")
          .flatMap(m => values.get(m.accumulatorId)).map(_.replace(",", "").toLong).sum
      }.sum
      SparkSpec.Work(jobs.get(), inputBytes.get(), filesRead)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** What [[SparkSpec.workDuring]] measured. */
  final case class Work(jobs: Int, inputBytes: Long, filesRead: Long)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
