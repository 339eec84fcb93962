package graft.apps

import graft.core.DedupeSettings
import graft.engine.DedupeEngine
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/**
 * Command-line surface mirroring the reference CLI
 * (reference: src/Cli/Program.cs:136 — commands
 * create|stats|write|get|del|list|exists|md).
 *
 * Usage:
 *   graft.apps.DedupeCli <indexDir> create [min max shift boundary] [--bucketed | --jdbc]
 *   graft.apps.DedupeCli <indexDir> write <key> <file>   # '-' = stdin
 *   graft.apps.DedupeCli <indexDir> get <key> <outFile>  # '-' = stdout
 *   graft.apps.DedupeCli <indexDir> get <key> <outFile> --offset <n> [--length <m>]  # ranged read
 *   graft.apps.DedupeCli <indexDir> del <key>
 *   graft.apps.DedupeCli <indexDir> exists <key>
 *   graft.apps.DedupeCli <indexDir> md <key> [--chunks]
 *   graft.apps.DedupeCli <indexDir> list [prefix] [--idxstart <key>] [--results <n>]
 *   graft.apps.DedupeCli <indexDir> stats [--chunks]
 *   graft.apps.DedupeCli <indexDir> repair             # reclaim crash debris
 *   graft.apps.DedupeCli <indexDir> compact            # sorted major compaction
 *   graft.apps.DedupeCli <indexDir> vacuum             # sweep crash debris
 *   graft.apps.DedupeCli <indexDir> import <srcDir>    # file-per-object bulk ingest
 *   graft.apps.DedupeCli <indexDir> export <outDir>    # distributed reconstruct to files
 */
object DedupeCli {

  /** Nonzero-exit signal from [[run]]: thrown instead of calling
    * `sys.exit` directly so the process-level side effect stays in [[main]]
    * and specs can assert exit codes (1 = not found, 2 = unknown command,
    * 3 = downstream pipe failure, 4 = requested slice out of range,
    * 5 = destination key already exists) without killing the test JVM. */
  private[apps] final case class CliExit(code: Int)
      extends RuntimeException(s"exit $code")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DedupeCli <indexDir> <cmd> [args...]")
    val indexDir = args(0)
    val cmd = args(1)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-dedupe-cli")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try { run(spark, indexDir, cmd, args.drop(2)); 0 }
      catch { case CliExit(c) => c }
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Split `--flag [value]` options (reference CLI flag style,
    * Cli/Program.cs:52-130: --results/--idxstart/--chunks) from
    * positional args. Boolean flags: --chunks; valued: --idxstart, --results. */
  private[apps] def parseArgs(rest: Array[String]): (Seq[String], Map[String, String]) = {
    val pos = Seq.newBuilder[String]
    val flags = Map.newBuilder[String, String]
    var i = 0
    while (i < rest.length) {
      rest(i) match {
        case "--chunks" => flags += ("chunks" -> "true")
        case "--bucketed" => flags += ("bucketed" -> "true")
        case "--jdbc" => flags += ("jdbc" -> "true")
        case f @ ("--idxstart" | "--results" | "--offset" | "--length") =>
          require(i + 1 < rest.length, s"$f requires a value")
          flags += (f.stripPrefix("--") -> rest(i + 1)); i += 1
        case p => pos += p
      }
      i += 1
    }
    (pos.result(), flags.result())
  }

  private[graft] def run(spark: SparkSession, indexDir: String, cmd: String, rest: Array[String]): Unit = {
    def engine() = DedupeEngine.open(spark, indexDir)
    cmd match {
      case "create" =>
        // --bucketed: persist the hash-key index layout (buckets by leading
        // key char) so deletes on content-hash object keys stay O(touched
        // buckets). --jdbc: keep the index table in an embedded relational
        // DB (the reference's external-DbProvider swap). Both are recorded
        // in config, so later opens wire the same backend/layout.
        val (pos, flags) = parseArgs(rest)
        val s = if (pos.length >= 4)
          DedupeSettings(pos(0).toInt, pos(1).toInt, pos(2).toInt, pos(3).toInt)
        else DedupeSettings()
        DedupeEngine.create(spark, indexDir, s,
          bucketedIndex = flags.contains("bucketed"),
          jdbcIndex = flags.contains("jdbc"))
        println(s"created index at $indexDir with $s")
      case "write" =>
        // streamed, never whole-file bytes: bounded memory regardless of
        // object size, and '-' pipes stdin like the reference CLI
        // (reference: Cli/Program.cs:211-228)
        val Array(key, file) = rest.take(2)
        val in = new java.io.BufferedInputStream(
          if (file == "-") System.in else Files.newInputStream(Paths.get(file)))
        try engine().writeStream(key, in)
        finally if (file != "-") in.close()
        println(s"wrote $key")
      case "get" =>
        // '-' streams raw bytes to stdout like the reference CLI
        // (reference: Cli/Program.cs:192-209) — chunk-at-a-time via
        // getStream, never one whole-object array, so objects written
        // through the streaming path read back at any size. Diagnostics go
        // to stderr (stdout is the data channel) and a downstream pipe
        // failure is a nonzero exit, not silent truncation.
        //
        // --offset/--length slice mid-object through the seekable stream
        // (the reference exposes the same seek/read surface interactively,
        // Test.ReadStream/Program.cs:169-264); opening the stream fetches
        // every chunk's payload in one job, and the slice copies only the
        // covering chunks' bytes. The requested slice must lie entirely
        // within the object — a CLI byte-range is a contract, so a slice
        // past EOF is a loud exit 4, never a silent short read.
        val (pos, flags) = parseArgs(rest)
        val Seq(key, out) = pos.take(2)
        if (flags.contains("offset") || flags.contains("length")) {
          val stream = engine().openStream(key).getOrElse {
            Console.err.println(s"not found: $key"); throw CliExit(1)
          }
          val offset = flags.get("offset").map(_.toLong).getOrElse(0L)
          val wanted = flags.get("length").map(_.toLong).getOrElse(stream.length - offset)
          // overflow-safe: `offset + wanted` can wrap Long for hostile
          // values — compare against the remaining length instead
          if (offset < 0 || wanted < 0 || offset > stream.length ||
              wanted > stream.length - offset) {
            Console.err.println(
              s"slice [$offset, ${offset + wanted}) out of range for $key (length ${stream.length})")
            throw CliExit(4)
          }
          stream.seek(offset)
          val sink: java.io.OutputStream =
            if (out == "-") Console.out else Files.newOutputStream(Paths.get(out))
          try {
            val buf = new Array[Byte](64 * 1024)
            var remaining = wanted
            while (remaining > 0) {
              val n = stream.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
              assert(n > 0, "in-range slice must never hit EOF mid-read")
              sink.write(buf, 0, n)
              remaining -= n
            }
            sink.flush()
            if (out == "-") {
              if (Console.out.checkError()) {
                Console.err.println("error writing slice bytes to stdout"); throw CliExit(3)
              }
            } else println(s"read $wanted bytes [$offset, ${offset + wanted}) -> $out")
          } finally if (out != "-") sink.close()
        } else if (out == "-") {
          engine().getStream(key) match {
            case Some(chunks) =>
              chunks.foreach(Console.out.write)
              Console.out.flush()
              if (Console.out.checkError()) {
                Console.err.println("error writing object bytes to stdout"); throw CliExit(3)
              }
            case None => Console.err.println(s"not found: $key"); throw CliExit(1)
          }
        } else engine().get(key) match {
          case Some(bytes) =>
            Files.write(Paths.get(out), bytes)
            println(s"read ${bytes.length} bytes -> $out")
          case None => Console.err.println(s"not found: $key"); throw CliExit(1)
        }
      case "del" =>
        val gcd = try engine().delete(rest(0)) catch {
          case _: NoSuchElementException =>
            Console.err.println(s"not found: ${rest(0)}"); throw CliExit(1)
        }
        println(s"deleted ${rest(0)}; gc'd ${gcd.size} chunks")
      case "clone" =>
        // dedupe-aware copy: index appends only, zero payload I/O (G3)
        if (rest.length < 2) {
          Console.err.println("usage: clone <srcKey> <dstKey>"); throw CliExit(2)
        }
        val (src, dst) = (rest(0), rest(1))
        try { engine().cloneObject(src, dst); println(s"cloned $src -> $dst") }
        catch {
          case _: NoSuchElementException =>
            Console.err.println(s"not found: $src"); throw CliExit(1)
          case e: IllegalArgumentException =>
            Console.err.println(e.getMessage); throw CliExit(5)
        }
      case "exists" =>
        println(engine().exists(rest(0)))
      case "md" =>
        // --chunks adds the per-chunk map + refcount detail
        // (reference: Cli/Program.cs md --chunks)
        val (pos, flags) = parseArgs(rest)
        engine().getMetadata(pos(0)) match {
          case Some(md) =>
            println(s"key=${md.obj.objectKey} len=${md.obj.originalLength} chunks=${md.obj.chunkCount}")
            if (flags.contains("chunks")) {
              md.map.foreach(m => println(
                f"  pos=${m.chunkPosition}%4d addr=${m.chunkAddress}%10d len=${m.chunkLength}%7d key=${m.chunkKey}"))
              md.chunks.foreach(c => println(
                f"  chunk ${c.chunkKey} len=${c.length}%7d refs=${c.refCount}"))
            }
          case None => Console.err.println(s"not found: ${pos(0)}"); throw CliExit(1)
        }
      case "list" =>
        // --results = page size, --idxstart = keyset continuation
        // (reference: Cli/Program.cs:52-130); bare positional startAfter
        // stays accepted for compatibility with the round-1 surface
        val (pos, flags) = parseArgs(rest)
        val prefix = pos.lift(0).filter(_.nonEmpty)
        val start = flags.get("idxstart").orElse(pos.lift(1)).filter(_.nonEmpty)
        val max = flags.get("results").map(_.toInt).getOrElse(100)
        val l = engine().listObjects(prefix, start, max)
        l.objects.foreach(o => println(
          f"${o.objectKey}%-40s ${o.originalLength}%12d ${o.chunkCount}%6d ${o.createdUtc}"))
        l.nextStartAfterKey.foreach(k => println(s"-- next: $k"))
      case "import" =>
        engine().ingestDirectory(rest(0))
        println(s"imported ${rest(0)}")
      case "export" =>
        val n = engine().exportAll(rest(0))
        println(s"exported $n objects -> ${rest(0)}")
      case "repair" =>
        val r = engine().repairIndex()
        println(s"repaired: ${r.orphanChunks.size} orphaned chunks, " +
          s"${r.healedDuplicates.size} duplicated payloads healed")
      case "compact" =>
        engine().compactIndex()
        println(s"compacted index at $indexDir")
      case "vacuum" =>
        engine().vacuumIndex()
        println(s"vacuumed index at $indexDir")
      case "stats" =>
        val (_, flags) = parseArgs(rest)
        val e = engine()
        val st = e.indexStats()
        println(f"objects=${st.objectCount} chunks=${st.chunkCount} " +
          f"logical=${st.logicalBytes} physical=${st.physicalBytes} " +
          f"ratioX=${st.ratioX}%.2f ratioPct=${st.ratioPercent}%.2f")
        if (flags.contains("chunks")) // full chunk dump (reference stats --chunks)
          e.chunks.orderBy("chunkKey").collect().foreach(c =>
            println(f"  chunk ${c.chunkKey} len=${c.length}%7d refs=${c.refCount}"))
      case other =>
        Console.err.println(s"unknown command: $other"); throw CliExit(2)
    }
  }
}
