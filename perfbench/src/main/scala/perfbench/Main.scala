package perfbench

import graft.core.{DedupeSettings, FsUtil}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints progress lines prefixed `[perfbench]`, then one JSON result line
  * last. Exits 0 when every output checked out, 1 when one did not, 2 on a
  * usage error. All files go under `.bench_build/perfbench` in the working
  * directory. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** Workload name → chunking settings; both run the same phases. */
  val Workloads: Map[String, DedupeSettings] = Map(
    "gear" -> DedupeSettings(profile = DedupeSettings.GearProfile),
    "md5" -> DedupeSettings())

  def parse(args: Array[String]): Either[String, Opts] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    if (args.length % 2 != 0) Left("arguments come in --key value pairs")
    else for {
      w <- need("workload").filterOrElse(Workloads.contains,
        s"unknown workload; expected one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").flatMap {
        case "0" => Right(false)
        case "1" => Right(true)
        case t => Left(s"bad --trace $t")
      }
    } yield Opts(w, seed, secs, trace)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args) match {
      case Right(o) => o
      case Left(err) =>
        System.err.println(s"perfbench: $err")
        System.err.println("usage: --workload <gear|md5> --seed <n> --seconds <s> --trace <0|1>")
        sys.exit(2)
    }
    val outDir = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val work = outDir.resolve(s"work-${ProcessHandle.current.pid}")
    FsUtil.deleteRecursively(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try new Run(spark, opts, Workloads(opts.workload), work, outDir).execute()
      finally {
        spark.stop()
        FsUtil.deleteRecursively(work)
      }
    sys.exit(code)
  }
}
