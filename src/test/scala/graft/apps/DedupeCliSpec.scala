package graft.apps

import graft.SparkSpec
import graft.core.DedupeSettings
import graft.engine.DedupeEngine
import java.nio.file.Files

/** CLI flag parity with the reference console
  * (reference: src/Cli/Program.cs:52-130 — --results/--idxstart paging,
  * md/stats --chunks detail). */
class DedupeCliSpec extends SparkSpec {

  private def captureOut(body: => Unit): Seq[String] = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos))(body)
    bos.toString("UTF-8").linesIterator.toSeq
  }

  private def newIndex(): String = {
    val dir = Files.createTempDirectory("graft-cli").toString
    val e = DedupeEngine.create(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val r = new scala.util.Random(7)
    val data = new Array[Byte](3000)
    r.nextBytes(data)
    e.ingest((1 to 25).map(i => f"k$i%03d" -> data))
    dir
  }

  private def captureRaw(body: => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos))(body)
    bos.toByteArray
  }

  test("create --bucketed persists the layout and mixes with chunking params") {
    val dir = Files.createTempDirectory("graft-cli-bkt").toString + "/idx"
    captureOut(DedupeCli.run(spark, dir, "create",
      Array("256", "2048", "8", "1", "--bucketed")))
    val cfg = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "config.properties")), "UTF-8")
    assert(cfg.contains("bucketed_index=true"))
    assert(cfg.contains("min_chunk_size=256"), "positional params must survive flag parsing")
    // a write through plain open() commits bucketed segments
    val e = DedupeEngine.open(spark, dir)
    val data = new Array[Byte](3000)
    new scala.util.Random(17).nextBytes(data)
    e.write("deadbeef01", data)
    assert(java.util.Arrays.equals(e.get("deadbeef01").get, data))
    val segFiles = fileFingerprints(s"$dir/index").keySet
    assert(segFiles.exists(_.contains("__bucket=")), "index commit must be bucketed")
  }

  test("get '-' streams raw object bytes to stdout (reference stdout parity)") {
    val dir = Files.createTempDirectory("graft-cli-stdout").toString
    val e = DedupeEngine.create(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val r = new scala.util.Random(11)
    val data = new Array[Byte](5000)
    r.nextBytes(data)
    e.write("raw", data)
    val out = captureRaw(DedupeCli.run(spark, dir, "get", Array("raw", "-")))
    assert(java.util.Arrays.equals(out, data),
      "stdout must carry exactly the object bytes, no report line")
  }

  test("write '-' ingests stdin; get '-' streams it back byte-identically (full pipe round trip)") {
    val dir = Files.createTempDirectory("graft-cli-stdin").toString
    DedupeEngine.create(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val r = new scala.util.Random(13)
    val data = new Array[Byte](50000)
    r.nextBytes(data)
    val realIn = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(data))
      captureOut(DedupeCli.run(spark, dir, "write", Array("piped", "-")))
    } finally System.setIn(realIn)
    // engine-level identity: the CLI stdin path must hit the same streaming
    // ingest as the API (chunked, not one opaque blob)
    val e = DedupeEngine.open(spark, dir)
    assert(java.util.Arrays.equals(e.get("piped").get, data),
      "bytes written via CLI stdin must read back identically through the API")
    assert(e.getMetadata("piped").get.obj.chunkCount > 1,
      "the stdin path must chunk like the engine, not store one blob")
    // CLI-level identity: stdin -> index -> stdout with no framing bytes
    val out = captureRaw(DedupeCli.run(spark, dir, "get", Array("piped", "-")))
    assert(java.util.Arrays.equals(out, data),
      "get '-' must emit exactly the bytes write '-' consumed")
  }

  test("get --offset/--length slices mid-object byte-identically; slice past EOF exits 4") {
    val dir = Files.createTempDirectory("graft-cli-range").toString
    val e = DedupeEngine.create(spark, dir, DedupeSettings(256, 2048, 8, 1))
    val r = new scala.util.Random(23)
    val data = new Array[Byte](50000) // many chunks: slices cross boundaries
    r.nextBytes(data)
    e.write("ranged", data)
    // mid-object slice spanning several chunk boundaries, to stdout
    val slice = captureRaw(DedupeCli.run(spark, dir, "get",
      Array("ranged", "-", "--offset", "12345", "--length", "20000")))
    assert(java.util.Arrays.equals(slice, java.util.Arrays.copyOfRange(data, 12345, 32345)),
      "ranged stdout read must carry exactly the requested bytes")
    // to a file, offset-only (reads to EOF)
    val outFile = Files.createTempDirectory("graft-cli-range-out").resolve("tail.bin")
    captureOut(DedupeCli.run(spark, dir, "get",
      Array("ranged", outFile.toString, "--offset", "49000")))
    assert(java.util.Arrays.equals(Files.readAllBytes(outFile),
      java.util.Arrays.copyOfRange(data, 49000, 50000)))
    // the error contract: any slice reaching past EOF is a loud exit 4
    for (bad <- Seq(Array("--offset", "50001"),
        Array("--offset", "49000", "--length", "1001"),
        Array("--offset", "-1"),
        // offset + length wraps Long negative: must still be exit 4,
        // not an uncaught require() from seek
        Array("--offset", "5000000000000000000", "--length", "5000000000000000000"))) {
      val err = intercept[DedupeCli.CliExit](
        captureOut(DedupeCli.run(spark, dir, "get", Array("ranged", "-") ++ bad)))
      assert(err.code === 4, s"slice ${bad.mkString(" ")} must exit 4")
    }
    // offset == length is in range (empty slice, EOF position is seekable)
    val empty = captureRaw(DedupeCli.run(spark, dir, "get",
      Array("ranged", "-", "--offset", "50000")))
    assert(empty.isEmpty)
    // missing key still exits 1 on the ranged path
    val missing = intercept[DedupeCli.CliExit](
      captureOut(DedupeCli.run(spark, dir, "get", Array("nope", "-", "--offset", "0"))))
    assert(missing.code === 1)
  }

  test("get '-' of a missing key exits 1; a broken downstream pipe exits 3") {
    val dir = newIndex()
    // get '-', del and md of a missing key: exit 1, the message on stderr,
    // nothing on stdout (the data channel)
    for (cmd <- Seq(Array("get", "nope", "-"), Array("del", "nope"), Array("md", "nope"))) {
      val out = new java.io.ByteArrayOutputStream()
      val err = new java.io.ByteArrayOutputStream()
      val missing = intercept[DedupeCli.CliExit](
        Console.withOut(new java.io.PrintStream(out))(
          Console.withErr(new java.io.PrintStream(err))(
            DedupeCli.run(spark, dir, cmd.head, cmd.tail))))
      assert(missing.code === 1, s"${cmd.head} of a missing key")
      assert(err.toString("UTF-8").trim === "not found: nope", s"${cmd.head} stderr")
      assert(out.size() === 0, s"${cmd.head} must print nothing on stdout")
    }
    // a sink that fails mid-write (downstream pipe closed): PrintStream
    // swallows the IOException but latches its error flag — the CLI must
    // turn that into exit 3, never silent truncation
    val brokenPipe = new java.io.OutputStream {
      private var written = 0
      override def write(b: Int): Unit = {
        written += 1
        if (written > 1000) throw new java.io.IOException("broken pipe")
      }
    }
    val broken = intercept[DedupeCli.CliExit](
      Console.withOut(new java.io.PrintStream(brokenPipe))(
        DedupeCli.run(spark, dir, "get", Array("k001", "-"))))
    assert(broken.code === 3)
  }

  test("clone copies via the index; missing source exits 1, taken dest exits 5") {
    val dir = newIndex()
    val e = DedupeEngine.open(spark, dir)
    val before = e.payloads.count()
    val out = captureOut(DedupeCli.run(spark, dir, "clone", Array("k001", "copy1")))
    assert(out.exists(_.contains("cloned k001 -> copy1")))
    assert(java.util.Arrays.equals(e.get("copy1").get, e.get("k001").get))
    assert(e.payloads.count() == before, "clone must write zero payloads")
    val miss = intercept[DedupeCli.CliExit](
      captureOut(DedupeCli.run(spark, dir, "clone", Array("nope", "x"))))
    assert(miss.code == 1)
    val taken = intercept[DedupeCli.CliExit](
      captureOut(DedupeCli.run(spark, dir, "clone", Array("k001", "copy1"))))
    assert(taken.code == 5)
  }

  test("compact and vacuum keep every object byte-identical through a reopen") {
    val dir = newIndex()
    val e = DedupeEngine.open(spark, dir)
    val extra = new Array[Byte](7000)
    new scala.util.Random(19).nextBytes(extra)
    e.write("late", extra) // a second segment per table for compaction to fold
    e.delete("k002")
    val data = e.get("k001").get
    val stats = e.indexStats()
    def assertIntact(step: String): Unit = {
      val r = DedupeEngine.open(spark, dir)
      assert(r.indexStats() === stats, s"stats after $step")
      for (i <- 1 to 25 if i != 2)
        assert(java.util.Arrays.equals(r.get(f"k$i%03d").get, data), s"k$i%03d after $step")
      assert(java.util.Arrays.equals(r.get("late").get, extra), s"late after $step")
      assert(r.get("k002").isEmpty, s"deleted key stays deleted after $step")
    }
    assert(captureOut(DedupeCli.run(spark, dir, "compact", Array()))
      .exists(_.contains("compacted index")))
    assertIntact("compact")
    assert(new graft.sources.VersionedTable(spark, s"$dir/index",
      graft.engine.DedupeEngine.IndexSchema).segmentCount == 2,
      "compaction folds the index into one commit: one object and one map segment")
    // an unclaimed segment directory is what a crashed writer leaves behind
    val debris = java.nio.file.Paths.get(dir, "index", "seg-999-deadbeef")
    Files.createDirectories(debris)
    Files.write(debris.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    assert(captureOut(DedupeCli.run(spark, dir, "vacuum", Array()))
      .exists(_.contains("vacuumed index")))
    assert(!Files.exists(debris), "vacuum sweeps the unclaimed segment")
    assertIntact("vacuum")
  }

  test("unknown command exits 2") {
    val dir = newIndex()
    val out = new java.io.ByteArrayOutputStream()
    val err = new java.io.ByteArrayOutputStream()
    val e = intercept[DedupeCli.CliExit](
      Console.withOut(new java.io.PrintStream(out))(
        Console.withErr(new java.io.PrintStream(err))(
          DedupeCli.run(spark, dir, "frobnicate", Array()))))
    assert(e.code === 2)
    assert(err.toString("UTF-8").trim === "unknown command: frobnicate")
    assert(out.size() === 0, "the message must not land on stdout, the data channel")
  }

  test("parseArgs splits positionals from --flags") {
    val (pos, flags) = DedupeCli.parseArgs(
      Array("pref", "--results", "7", "--idxstart", "k005", "--chunks"))
    assert(pos == Seq("pref"))
    assert(flags == Map("results" -> "7", "idxstart" -> "k005", "chunks" -> "true"))
    assertThrows[IllegalArgumentException](DedupeCli.parseArgs(Array("--results")))
  }

  test("list --results/--idxstart paginates exactly like listObjects") {
    val dir = newIndex()
    val e = DedupeEngine.open(spark, dir)
    val envelope = e.listObjects(Some("k"), None, 10)
    val page1 = captureOut(DedupeCli.run(spark, dir, "list",
      Array("k", "--results", "10")))
    val keys1 = page1.filterNot(_.startsWith("--")).map(_.split("\\s+")(0))
    assert(keys1 == envelope.objects.map(_.objectKey))
    assert(page1.last == s"-- next: ${envelope.nextStartAfterKey.get}")
    // continuation equals the engine's keyset page 2
    val env2 = e.listObjects(Some("k"), envelope.nextStartAfterKey, 10)
    val page2 = captureOut(DedupeCli.run(spark, dir, "list",
      Array("k", "--idxstart", envelope.nextStartAfterKey.get, "--results", "10")))
    val keys2 = page2.filterNot(_.startsWith("--")).map(_.split("\\s+")(0))
    assert(keys2 == env2.objects.map(_.objectKey))
  }

  test("md prints summary only; --chunks adds map and refcount detail") {
    val dir = newIndex()
    val bare = captureOut(DedupeCli.run(spark, dir, "md", Array("k001")))
    assert(bare.size == 1 && bare.head.startsWith("key=k001"))
    val full = captureOut(DedupeCli.run(spark, dir, "md", Array("k001", "--chunks")))
    assert(full.size > 1)
    assert(full.exists(_.contains("addr=")), "map rows expected with --chunks")
    assert(full.exists(_.contains("refs=")), "chunk refcounts expected with --chunks")
  }

  test("stats --chunks dumps the chunk table") {
    val dir = newIndex()
    val bare = captureOut(DedupeCli.run(spark, dir, "stats", Array()))
    assert(bare.size == 1 && bare.head.contains("objects=25"))
    val full = captureOut(DedupeCli.run(spark, dir, "stats", Array("--chunks")))
    val chunkLines = full.count(_.contains("refs="))
    val e = DedupeEngine.open(spark, dir)
    assert(chunkLines.toLong == e.chunks.count())
  }
}
