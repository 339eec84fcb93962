package perfbench

import graft.core.{Chunker, DedupeSettings, FsUtil, GearChunker}
import graft.engine.{DedupeEngine, MapRow, ObjectRow, ParquetPayloadStore}
import graft.sources.VersionedTable
import org.apache.spark.sql.{Encoders, SparkSession}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: stage the corpus and create an index several times,
  * warm up on a seed batch, then measure bulk ingest, a read-only
  * point-read mix and write churn until the deadline, and last an export
  * that checks every live object. With tracing on, every call into a layer is a span
  * and the layer probes run at the end. */
final class Run(spark: SparkSession, opts: Main.Opts, settings: DedupeSettings,
    work: Path, outDir: Path) {

  import Run._

  private val sc = spark.sparkContext
  private val cores = Runtime.getRuntime.availableProcessors
  private val counters = if (opts.trace) Some(new SparkCounters) else None
  counters.foreach(sc.addSparkListener)
  private val tracer = new Tracer(opts.trace,
    id => sc.setJobGroup(id.toString, "", interruptOnCancel = false),
    parent => if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(parent.toString, "", interruptOnCancel = false))

  private val corpus = Corpus(opts.seed, LargeCount, SmallCount, PoolCount)
  private val rnd = new java.util.SplittableRandom(Corpus.mix(opts.seed ^ 0x5EEDL))

  // --- samples and failure accounting
  /** Wall and CPU milliseconds of every sampled call, by operation. */
  private val wallMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val cpuMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var lastWallMs = 0.0
  private var lastCpuMs = 0.0
  private def cpuNs(): Long = Host.appCpuNs()
  /** (wall, CPU) pairs: seconds per setup, MiB per second per ingest or export. */
  private val setupS = mutable.ArrayBuffer.empty[(Double, Double)]
  private val ingestMbS = mutable.ArrayBuffer.empty[(Double, Double)]
  private val exportMbS = mutable.ArrayBuffer.empty[(Double, Double)]
  private var attempted = 0
  private var failed = 0
  /** Off during the warm-up: operations are checked but not sampled. */
  private var sampling = true

  // --- index state
  private var engine: DedupeEngine = _
  private var index: Path = _
  private var stage: Path = _
  /** Live objects as the benchmark expects them, in insertion order. */
  private val live = mutable.LinkedHashMap.empty[String, Array[Byte]]
  private var storedPerLogical = 0.0
  private var ingestWallS = 0.0
  private var ingestedBytes = 0L
  private var writtenBytes = 0L
  private var folds = 0
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  private def log(msg: String): Unit = println(s"[perfbench] $msg")

  private def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Run one timed operation; its latency joins the `name` samples when it
    * returns and `ok` holds. A throw or a wrong result is one failure. */
  private def op[T](name: String)(body: => T)(ok: T => Boolean): Option[T] = {
    attempted += 1
    val id = tracer.newOp()
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name, id)(body)
      lastWallMs = (System.nanoTime() - t0) / 1e6
      lastCpuMs = (cpuNs() - c0) / 1e6
      if (ok(r)) {
        if (sampling) {
          wallMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += lastWallMs
          cpuMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += lastCpuMs
        }
        Some(r)
      }
      else { fail(s"$name returned a wrong result"); None }
    } catch { case NonFatal(e) => fail(s"$name threw $e"); None }
  }

  /** An untimed check that still counts as an attempted operation. */
  private def verify(name: String)(body: => Boolean): Boolean =
    op(name)(body)(identity).isDefined

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def mib(bytes: Long): Double = bytes / (1024.0 * 1024.0)
  /** MiB per wall second and per CPU second of the last call. */
  private def rates(bytes: Long): (Double, Double) =
    (mib(bytes) * 1000 / lastWallMs, mib(bytes) * 1000 / lastCpuMs)

  def execute(): Int = {
    val cpu0 = Host.sample()
    log("host " + Json.render(Obj(Host.fingerprint: _*)))
    log(s"workload=${opts.workload} profile=${settings.profile} seed=${opts.seed} " +
      s"seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0}")
    val fatal = try { runPhases(); None } catch { case NonFatal(e) => Some(e) }
    fatal.foreach { e =>
      fail(s"run aborted: $e")
      e.printStackTrace()
    }
    val (steal, foreign) = (for (a <- cpu0; b <- Host.sample()) yield Host.delta(a, b)).getOrElse((-1L, -1L))
    log(s"host.steal_jiffies=$steal host.foreign_jiffies=$foreign")
    log(f"attempted=$attempted failed=$failed failed_op_share=${failed.toDouble / math.max(1, attempted)}%.6f")
    val metrics =
      if (fatal.isDefined) Nil
      else if (opts.trace) traceMetrics(steal, foreign)
      else endToEndMetrics()
    val correct = failed == 0 && fatal.isEmpty
    println(Json.render(Obj(
      "correct" -> correct,
      "attempted" -> math.max(1, attempted),
      "failed" -> failed,
      "metrics" -> Obj(metrics.map { case (k, v, unit) => k -> Obj("value" -> v, "unit" -> unit) }: _*))))
    if (correct) 0 else 1
  }

  private def runPhases(): Unit = {
    for (rep <- 0 until SetupReps) tracer.span("setup")(setupOnce(rep))
    tracer.span("warmup")(warmup())

    val t0 = System.nanoTime()
    val deadline = t0 + opts.seconds * 1000000000L
    tracer.span("bulk")(bulkIngest())
    storedPerLogical = duBytes(index).toDouble / live.valuesIterator.map(_.length.toLong).sum
    if (opts.trace) tracer.span("layers")(sourcesProbe())
    val readEnd = System.nanoTime() + ((deadline - System.nanoTime()) * ReadShare).toLong
    tracer.span("read") {
      var r = 0
      while (r < MinRounds || System.nanoTime() < readEnd) { readRound(); r += 1 }
      log(s"read rounds=$r")
    }
    tracer.span("churn") {
      var i = 0
      while (i < MinRounds || System.nanoTime() < deadline) { churnStep(i); i += 1 }
      log(s"churn steps=$i")
    }
    // the export checks what the churn left: survivors byte for byte, the deleted keys absent
    tracer.span("export")(exportOnce(0))
    log(f"measured window ${secondsSince(t0)}%.1f s of ${opts.seconds} s")
    if (opts.trace) tracer.span("layers")(layerProbes())
  }

  // ------------------------------------------------------------------ setup

  /** Generate and stage the corpus and create a fresh index. The last
    * repetition's corpus and index are kept. */
  private def setupOnce(rep: Int): Unit = {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val dir = work.resolve(s"corpus-$rep")
    for ((d, objs) <- corpus.seedBatch +: corpus.bulkBatches) {
      val p = Files.createDirectories(dir.resolve(d))
      objs.foreach { case (k, b) => Files.write(p.resolve(k), b) }
    }
    val idx = work.resolve(s"index-$rep")
    val eng = DedupeEngine.create(spark, idx.toString, settings)
    setupS += ((secondsSince(t0), (cpuNs() - c0) / 1e9))
    if (stage != null) FsUtil.deleteRecursively(stage)
    if (index != null) FsUtil.deleteRecursively(index)
    engine = eng
    index = idx
    stage = dir
  }

  /** Ingest the seed batch, export it and make one call of each cheap read,
    * checked but unsampled: the first Spark work in the JVM pays for class
    * loading and code generation, and so does the first call of each kind. */
  private def warmup(): Unit = {
    sampling = false
    val (d, objs) = corpus.seedBatch
    op("ingest")(engine.ingestDirectory(stage.resolve(d).toString))(_ => true)
      .getOrElse(throw new IllegalStateException("ingest of the seed batch failed"))
    objs.foreach { case (k, b) => live(k) = b }
    exportOnce(-1)
    val k = corpus.poolKey(0)
    metadata(k)
    position(k)
    list()
    stats()
    sampling = true
  }

  // ------------------------------------------------------------------ bulk

  /** Ingest each bulk batch. The first read round checks the index totals. */
  private def bulkIngest(): Unit = {
    for ((d, objs) <- corpus.bulkBatches) {
      val bytes = objs.map(_._2.length.toLong).sum
      op("ingest")(engine.ingestDirectory(stage.resolve(d).toString))(_ => true).foreach { _ =>
        ingestMbS += rates(bytes)
        ingestWallS += lastWallMs / 1000
        ingestedBytes += bytes
        objs.foreach { case (k, b) => live(k) = b }
      }
    }
  }

  // ------------------------------------------------------------------ export

  /** Export every object and compare each file byte for byte. */
  private def exportOnce(j: Int): Unit = {
    val out = work.resolve(s"export-${j + 1}")
    val bytes = live.valuesIterator.map(_.length.toLong).sum
    op("export")(engine.exportAll(out.toString))(_ == live.size.toLong).foreach { _ =>
      if (sampling) exportMbS += rates(bytes)
    }
    verify("export_bytes")(sameFiles(out))
    FsUtil.deleteRecursively(out)
  }

  /** True when `dir` holds exactly the live objects with exactly their bytes. */
  private def sameFiles(dir: Path): Boolean = {
    val names = {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet finally s.close()
    }
    names == live.keySet && live.forall { case (k, b) =>
      java.util.Arrays.equals(Files.readAllBytes(dir.resolve(k)), b)
    }
  }

  // ------------------------------------------------------------------ read

  private def pick(keys: IndexedSeq[String]): String = keys(rnd.nextInt(keys.length))

  /** Calls made so far, by operation. */
  private val calls = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** The next key for `op`, walking `keys` in order. The seed decides the
    * bytes, not which objects a call visits: a point lookup takes one or two
    * Spark jobs depending on the file that holds the object's rows, so
    * seeded picks would make a call's cost depend on the seed. */
  private def next(op: String, keys: IndexedSeq[String]): String = {
    val k = keys(calls(op) % keys.length)
    calls(op) += 1
    k
  }

  private def metadata(k: String): Unit = {
    val b = live(k)
    op("metadata")(engine.getMetadata(k))(_.exists(m =>
      m.obj.originalLength == b.length && m.map.size == m.obj.chunkCount && tiles(m.map, b.length)))
  }

  private def position(k: String): Unit = {
    val b = live(k)
    val p = rnd.nextInt(b.length).toLong
    op("position")(engine.mapForPosition(k, p))(_.exists(m =>
      m.chunkAddress <= p && p < m.chunkAddress + m.chunkLength &&
        m.chunkKey == Chunker.chunkKey(b, m.chunkAddress.toInt, m.chunkLength)))
  }

  private def list(): Unit = {
    val sorted = live.keys.toSeq.sorted
    op("list")(engine.listObjects())(l =>
      l.objects.map(_.objectKey) == sorted.take(100) &&
        l.objects.forall(o => o.originalLength == live(o.objectKey).length))
  }

  private def stats(): Unit = {
    val liveBytes = live.valuesIterator.map(_.length.toLong).sum
    op("stats")(engine.indexStats())(st => st.objectCount == live.size && st.logicalBytes == liveBytes)
  }

  /** One round of the read-only mix. Every kind of call has a fixed share
    * of large and small objects, so its median does not depend on how many
    * rounds fit in the window: metadata, range reads and position lookups
    * go to large objects, gets to one large and one small object. */
  private def readRound(): Unit = {
    val keys = live.keys.toIndexedSeq
    val large = keys.filter(isLarge).sorted
    val small = keys.filter(_.startsWith("s-")).sorted
    for (_ <- 0 until MetadataReps) metadata(next("metadata", large))
    for (k <- Seq(next("get", large), next("get", small)))
      op("get")(engine.get(k))(_.exists(java.util.Arrays.equals(_, live(k))))
    val rk = next("range_read", large)
    val rb = live(rk)
    val pos = rnd.nextInt(rb.length)
    val want = java.util.Arrays.copyOfRange(rb, pos, math.min(rb.length, pos + RangeBytes))
    op("range_read")(engine.openStream(rk).map { s =>
      try {
        s.seek(pos.toLong)
        val buf = new Array[Byte](want.length)
        var got = 0
        var n = 0
        while (got < buf.length && n >= 0) {
          n = s.read(buf, got, buf.length - got)
          if (n > 0) got += n
        }
        java.util.Arrays.copyOf(buf, got)
      } finally s.close()
    })(_.exists(java.util.Arrays.equals(_, want)))
    for (_ <- 0 until PositionReps) position(next("position", large))
    for (_ <- 0 until ListReps) list()
    for (_ <- 0 until StatsReps) stats()
  }

  // ------------------------------------------------------------------ churn

  /** Write a new object, read it back, delete the oldest churn-pool object
    * and check that it is gone. */
  private def churnStep(i: Int): Unit = {
    val key = corpus.churnKey(i)
    val bytes = corpus.churn(i)
    val before = if (opts.trace) segmentCounts() else Nil
    op("write")(engine.write(key, bytes))(_ => true).foreach { _ =>
      live(key) = bytes
      writtenBytes += bytes.length
    }
    if (opts.trace && segmentCounts().zip(before).exists { case (a, b) => a < b }) folds += 1
    op("read_own_write")(engine.get(key))(_.exists(java.util.Arrays.equals(_, bytes)))
    deleteOldest(keep = key)
  }

  /** Delete the oldest pool or churn object other than `keep`; the delete
    * must collect garbage chunks, and the key must read back as absent. */
  private def deleteOldest(keep: String): Unit =
    live.keys.find(k => k.startsWith("p-") || (k.startsWith("w-") && k != keep)).foreach { victim =>
      op("delete")(engine.delete(victim))(_.nonEmpty).foreach(_ => live.remove(victim))
      verify("deleted_absent")(engine.get(victim).isEmpty)
    }

  // ------------------------------------------------------------------ layers

  private def table(name: String) = {
    val schema = name match {
      case "objects" => Encoders.product[ObjectRow].schema
      case "objmap" => Encoders.product[MapRow].schema
      case _ => Encoders.product[graft.engine.PayloadRow].schema
    }
    new VersionedTable(spark, index.resolve(name).toString, schema)
  }

  private def segmentCounts(): Seq[Int] =
    Tables.map(t => tracer.span(s"sources.$t.segmentCount")(table(t).segmentCount))

  /** Segment and file counts of the index the reads will see. */
  private def sourcesProbe(): Unit = Tables.foreach { t =>
    layer(s"sources.$t.segments") = tracer.span(s"sources.$t.segmentCount")(table(t).segmentCount)
    layer(s"sources.$t.files") = tracer.span(s"sources.$t.inputFiles")(table(t).read().inputFiles.length)
  }

  private def medianMs(n: Int)(body: => Unit): Double =
    Stats.median((0 until n).map { _ => val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 })

  private def layerProbes(): Unit = {
    val largeBytes = live.iterator.filter(kv => isLarge(kv._1)).map(_._2).toSeq
    val mbytes = mib(largeBytes.map(_.length.toLong).sum)
    val md5 = DedupeSettings()
    val gear = DedupeSettings(profile = DedupeSettings.GearProfile)
    def mbPerS(body: Array[Byte] => Unit): Double =
      mbytes / (medianMs(3)(largeBytes.foreach(body)) / 1000)
    layer("core.md5_mb_s") = tracer.span("core.Chunker.boundaries")(mbPerS(b => Chunker.boundaries(b, md5)))
    layer("core.gear_mb_s") = tracer.span("core.GearChunker.boundaries")(mbPerS(b =>
      GearChunker.boundaries(b, gear.minChunkSize, gear.maxChunkSize, gear.gearMaskBits)))
    val cuts = largeBytes.map(b => b -> settings.chunkWithData(b).map(c => (c.ref.address.toInt, c.ref.length)))
    layer("core.sha256_mb_s") = tracer.span("core.Chunker.chunkKey")(
      mbytes / (medianMs(3)(cuts.foreach { case (b, cs) => cs.foreach { case (o, l) => Chunker.chunkKey(b, o, l) } }) / 1000))
    // exact counts and the chunker's CPU share over what the bulk phase ingested
    val ingested = corpus.bulkBatches.flatMap(_._2.map(_._2))
    val chunkLens = ingested.flatMap(b => settings.chunkWithData(b).map(_.ref.length))
    layer("core.chunks") = chunkLens.size
    layer("core.mean_chunk_bytes") = chunkLens.map(_.toLong).sum.toDouble / chunkLens.size
    val chunkerS = tracer.span("core.DedupeSettings.chunkWithData")(
      medianMs(3)(ingested.foreach(settings.chunkWithData)) / 1000)
    layer("core.share_of_ingest") = chunkerS / (ingestWallS * cores)

    val liveBytes = live.valuesIterator.map(_.length.toLong).sum
    import spark.implicits._
    var rebuilt = 0L
    layer("engine.reconstruct_s") = tracer.span("engine.reconstructAll") {
      medianMs(3) { rebuilt = engine.reconstructAll().map(_._2.length.toLong).reduce(_ + _) } / 1000
    }
    verify("reconstruct_bytes")(rebuilt == liveBytes)
    val keys = live.keys.toIndexedSeq
    layer("engine.exists_ms") = medianMs(ProbeReps)(tracer.span("engine.exists")(engine.exists(pick(keys))))

    // payload fetch through a store of the benchmark's own on the same directory
    val store = new ParquetPayloadStore(spark, index.resolve("payloads").toString)
    val fetchSpans = mutable.ArrayBuffer.empty[Int]
    var returned = 0L
    layer("payloads.fetch_ms") = Stats.median((0 until ProbeReps).map { _ =>
      val k = pick(keys)
      val chunkKeys = engine.getMetadata(k).map(_.map.map(_.chunkKey).distinct).getOrElse(Nil)
      val t = System.nanoTime()
      val got = tracer.span("payloads.fetch") { fetchSpans += tracer.current; store.fetch(chunkKeys) }
      val ms = (System.nanoTime() - t) / 1e6
      returned += got.valuesIterator.map(_.length.toLong).sum
      verify("fetch_keys")(got.keySet == chunkKeys.toSet)
      ms
    })
    org.apache.spark.PerfbenchBus.drain(sc)
    val scanned = counters.map(c => fetchSpans.map(id => c.taskSums(id.toString).inputBytes).sum).getOrElse(0L)
    layer("payloads.scan_bytes_per_returned_byte") = scanned.toDouble / math.max(1L, returned)
    layer("sources.payloads.open_ms") = medianMs(ProbeReps)(
      tracer.span("sources.payloads.open")(store.read().inputFiles.length))
    layer("sources.folds") = folds

    // tracing overhead: the same call, alternately inside and outside a span
    val k = pick(keys)
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until ProbeReps) {
      plain += medianMs(1)(engine.exists(k))
      traced += medianMs(1)(tracer.span("engine.exists")(engine.exists(k)))
    }
    layer("trace.overhead_ms") = Stats.median(traced.toSeq) - Stats.median(plain.toSeq)
  }

  // ------------------------------------------------------------------ results

  /** Medians, and tails where the metric list has them, of every timed
    * operation, from one sample set. */
  private def opFigures(samples: collection.Map[String, mutable.ArrayBuffer[Double]],
      name: String => String, unit: String): Seq[(String, Double, String)] =
    Ops.flatMap { o =>
      val xs = samples.get(o).map(_.toSeq).getOrElse(Nil)
      val p50 = (name(s"${o}_p50"), Stats.median(xs), unit)
      if (!TailOps(o)) Seq(p50)
      else {
        val t = Stats.tail(xs)
        log(s"${name(s"${o}_tail")} at p${t.pct} of n=${t.n}")
        Seq(p50, (name(s"${o}_tail"), t.value, unit))
      }
    }

  /** The end-to-end metrics are CPU costs: process CPU time per call, and
    * MiB per CPU second. Wall times are printed beside them; the traced run
    * reports them as `wall.*`. */
  private def endToEndMetrics(): Seq[(String, Double, String)] = {
    for ((k, v) <- wallMs) log(s"wall_ms $k n=${v.size} " + v.map(x => f"$x%.0f").mkString(","))
    for ((k, v) <- cpuMs) log(s"cpu_ms $k n=${v.size} " + v.map(x => f"$x%.0f").mkString(","))
    wallFigures().foreach { case (k, v, u) => log(f"$k=$v%.3f $u") }
    Seq(
      ("setup_s", Stats.median(setupS.map(_._2).toSeq), "s"),
      ("ingest_mb_per_cpu_s", Stats.median(ingestMbS.map(_._2).toSeq), "MiB/cpu_s"),
      ("export_mb_per_cpu_s", Stats.median(exportMbS.map(_._2).toSeq), "MiB/cpu_s"),
      ("stored_bytes_per_logical_byte", storedPerLogical, "ratio")) ++
      opFigures(cpuMs, n => s"${n}_cpu_ms", "cpu_ms")
  }

  private def wallFigures(): Seq[(String, Double, String)] = Seq(
    ("wall.setup_s", Stats.median(setupS.map(_._1).toSeq), "s"),
    ("wall.ingest_mb_s", Stats.median(ingestMbS.map(_._1).toSeq), "MiB/s"),
    ("wall.export_mb_s", Stats.median(exportMbS.map(_._1).toSeq), "MiB/s")) ++
    opFigures(wallMs, n => s"wall.${n}_ms", "ms")

  private def traceMetrics(steal: Long, foreign: Long): Seq[(String, Double, String)] = {
    val c = counters.get
    org.apache.spark.PerfbenchBus.drain(sc)
    val spans = tracer.spans
    val self = tracer.selfTimes
    val kids = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => subtree(s.id))
    def groups(pred: Span => Boolean): Seq[String] =
      spans.filter(pred).flatMap(s => subtree(s.id)).distinct.map(_.toString)

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    out ++= wallFigures()
    layer.foreach { case (k, v) => out += ((k, v, unitOf(k))) }

    // jobs per operation, next to the documented budgets
    val budget = Map("metadata" -> "<=2", "range_read" -> "2")
    for (name <- JobOps) {
      val ops = spans.filter(s => s.name == name && s.op > 0)
      val jobs = ops.flatMap(s => subtree(s.id)).map(id => c.jobCount(id.toString)).sum
      val perOp = if (ops.isEmpty) 0.0 else jobs.toDouble / ops.size
      out += ((s"spark.jobs_per_op.$name", perOp, "jobs"))
      budget.get(name).foreach(b => log(f"jobs_per_op.$name=$perOp%.2f documented budget $b"))
    }

    // task counters and driver time per phase
    for ((metricPhase, spanName) <- Phases) {
      val gs = groups(_.name == spanName)
      val t = gs.map(c.taskSums).foldLeft(TaskSums())(_ + _)
      val wallS = spans.filter(_.name == spanName).map(_.durNs).sum / 1e9
      val jobS = Span.coveredNs(gs.flatMap(c.jobIntervalsMs).map { case (a, b) => (a * 1000000L, b * 1000000L) },
        Long.MinValue, Long.MaxValue) / 1e9
      out ++= Seq(
        (s"spark.tasks.$metricPhase", t.tasks.toDouble, "count"),
        (s"spark.task_run_s.$metricPhase", t.runNs / 1e9, "s"),
        (s"spark.task_cpu_s.$metricPhase", t.cpuNs / 1e9, "s"),
        (s"spark.gc_s.$metricPhase", t.gcNs / 1e9, "s"),
        (s"spark.scheduler_delay_s.$metricPhase", t.schedulerDelayNs / 1e9, "s"),
        (s"spark.shuffle_write_bytes.$metricPhase", t.shuffleWriteBytes.toDouble, "bytes"),
        (s"spark.shuffle_read_bytes.$metricPhase", t.shuffleReadBytes.toDouble, "bytes"),
        (s"spark.spill_bytes.$metricPhase", t.spillBytes.toDouble, "bytes"),
        (s"spark.input_bytes.$metricPhase", t.inputBytes.toDouble, "bytes"),
        (s"spark.output_bytes.$metricPhase", t.outputBytes.toDouble, "bytes"),
        (s"spark.driver_s.$metricPhase", wallS - jobS, "s"))
    }
    out += (("spark.block_store_bytes", c.blockStoreBytes.toDouble, "bytes"))
    val writeGroups = groups(s => s.name == "ingest" || s.name == "write")
    val writeOut = writeGroups.map(g => c.taskSums(g).outputBytes).sum
    val seedBytes = corpus.seedBatch._2.map(_._2.length.toLong).sum
    val logical = seedBytes + ingestedBytes + writtenBytes
    out += (("sources.output_bytes_per_logical_byte", writeOut.toDouble / logical, "ratio"))
    out += (("host.steal_jiffies", steal.toDouble, "jiffies"))
    out += (("host.foreign_jiffies", foreign.toDouble, "jiffies"))

    writeTrace(spans, self, c)
    out.toSeq
  }

  /** Per-name self-time summary on stdout; every span to the trace file. */
  private def writeTrace(spans: Seq[Span], self: Map[Int, Long], c: SparkCounters): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    log(f"${"span"}%-40s ${"n"}%5s ${"total_ms"}%10s ${"self_ms"}%10s ${"jobs"}%6s")
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).foreach { case (name, ss) =>
      log(f"$name%-40s ${ss.size}%5d ${ss.map(_.durNs).sum / 1e6}%10.1f " +
        f"${ss.map(s => self(s.id)).sum / 1e6}%10.1f ${ss.map(s => c.jobCount(s.id.toString)).sum}%6d")
    }
    val file = outDir.resolve(s"trace-${opts.workload}-${opts.seed}.json")
    val body = Json.render(Obj(
      "workload" -> opts.workload, "seed" -> opts.seed, "host" -> Obj(Host.fingerprint: _*),
      "spans" -> spans.sortBy(_.startNs).map { s =>
        val t = c.taskSums(s.id.toString)
        Obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
          "self_ms" -> self(s.id) / 1e6, "jobs" -> c.jobCount(s.id.toString),
          "tasks" -> t.tasks, "task_cpu_ms" -> t.cpuNs / 1e6, "input_bytes" -> t.inputBytes)
      }))
    Files.write(file, body.getBytes("UTF-8"))
    log(s"trace written to ${java.nio.file.Paths.get("").toAbsolutePath.relativize(file)}")
  }
}

object Run {
  val LargeCount = 16
  val SmallCount = 12
  val PoolCount = 8
  val SetupReps = 3
  /** Calls per read round of the cheap operations: each takes one or two
    * Spark jobs, so a round affords several, and their medians need them. */
  val MetadataReps = 3
  /** One lookup per large object. */
  val PositionReps: Int = LargeCount
  val ListReps = 8
  val StatsReps = 3
  /** Rounds each loop runs even past its deadline. */
  val MinRounds = 1
  /** Share of the measured window, after the bulk ingest, spent on reads. */
  val ReadShare = 0.5
  val RangeBytes: Int = 64 * 1024
  val ProbeReps = 3
  val Tables = Seq("objects", "objmap", "payloads")
  /** Timed operations with an end-to-end median; the second set also has a tail. */
  val Ops = Seq("metadata", "get", "range_read", "position", "list", "stats", "write", "delete")
  val TailOps = Set("get", "write")
  val JobOps = Seq("ingest", "export", "metadata", "get", "range_read", "position", "write", "delete")
  /** Metric suffix → the span that bounds the phase. */
  val Phases = Seq("warmup" -> "warmup", "ingest" -> "bulk", "export" -> "export", "read" -> "read",
    "churn" -> "churn")

  /** Bytes of every regular file under `p`. */
  def duBytes(p: Path): Long = {
    val s = Files.walk(p)
    try {
      var total = 0L
      s.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
      total
    } finally s.close()
  }

  def isLarge(k: String): Boolean = k.startsWith("a-")

  /** True when the map rows tile `[0, length)` in address order. */
  def tiles(map: Seq[MapRow], length: Long): Boolean = {
    val s = map.sortBy(_.chunkAddress)
    s.headOption.forall(_.chunkAddress == 0) &&
      s.zip(s.drop(1)).forall { case (a, b) => a.chunkAddress + a.chunkLength == b.chunkAddress } &&
      s.lastOption.forall(l => l.chunkAddress + l.chunkLength == length) && s.nonEmpty
  }

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_mb_s") => "MiB/s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") => "bytes"
    case m if m.contains("per_") || m.startsWith("core.share") => "ratio"
    case _ => "count"
  }
}
