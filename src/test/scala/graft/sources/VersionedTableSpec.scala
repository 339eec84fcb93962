package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

class VersionedTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType)))

  private def fresh() = {
    val dir = Files.createTempDirectory("vt_spec").toString
    (dir, new VersionedTable(spark, dir, schema))
  }

  private def df(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "n")
  }

  private def segDirs(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("seg-")).toSeq.sorted

  test("empty table reads as empty with schema") {
    val (_, t) = fresh()
    assert(t.read().schema === schema)
    assert(t.read().count() === 0)
  }

  test("append accumulates segments; read unions them") {
    val (dir, t) = fresh()
    t.append(df("a" -> 1L))
    t.append(df("b" -> 2L))
    t.append(df("c" -> 3L))
    assert(segDirs(dir).size === 3, "each append adds exactly one segment")
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got === Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("publish replaces contents in a single-segment manifest") {
    val (dir, t) = fresh()
    t.append(df("a" -> 1L))
    t.append(df("b" -> 2L))
    t.publish(df("z" -> 9L))
    assert(t.segmentCount === 1, "publish manifest references one segment")
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("z", 9L)))
    // one more commit retires the pre-publish segments (grace window is 1)
    t.append(df("w" -> 8L))
    assert(segDirs(dir).size === 2, "only the grace window survives GC")
  }

  test("compact preserves contents in a single-segment manifest") {
    val (_, t) = fresh()
    t.append(df("a" -> 1L))
    t.append(df("b" -> 2L))
    t.compact()
    assert(t.segmentCount === 1)
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got === Seq(("a", 1L), ("b", 2L)))
  }

  test("append folds only the smallest commits past the threshold (size-tiered)") {
    val (dir, t) = fresh()
    t.append(df((1 to 50).map(i => s"big$i" -> i.toLong): _*))
    (1 to 3).foreach(i => t.append(df(s"k$i" -> i.toLong), compactThreshold = 4))
    // 4 commits; the next append folds the two SMALLEST + the new rows and
    // must leave the big first segment byte-identical — append-heavy ingest
    // never pays an O(table) rewrite
    val bigSegBefore = fileFingerprints(dir).filter(_._1.startsWith("seg-0"))
    assert(bigSegBefore.nonEmpty)
    t.append(df("k4" -> 4L), compactThreshold = 4)
    assert(t.read().count() === 54, "tiered fold preserves all rows")
    assert(t.segmentCount <= 3, "fold must bound the chain at threshold/2 + 1")
    val after = fileFingerprints(dir)
    for ((f, fp) <- bigSegBefore)
      assert(after.get(f).contains(fp),
        s"largest segment file $f must survive a tiered fold untouched")
  }

  test("a DataFrame resolved before a commit survives that commit (grace)") {
    val (_, t) = fresh()
    t.append(df("a" -> 1L, "b" -> 2L))
    val before = t.read()
    t.publish(df("z" -> 9L)) // rewrites; old segment must stay one version
    assert(before.count() === 2, "pre-commit plan still executes after GC")
  }

  test("publish of a derived-from-self DataFrame materializes before GC") {
    val (_, t) = fresh()
    t.append(df("a" -> 1L, "b" -> 2L))
    // delete-shaped rewrite: new snapshot computed FROM the current one
    t.publish(t.read().filter("k <> 'a'"))
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("b", 2L)))
  }

  // ------------------------------------------------ commit protocol (CAS)

  test("concurrent appends: exactly one wins; the loser throws a clean retryable conflict") {
    val dir = Files.createTempDirectory("vt_cas").toString
    val winner = new VersionedTable(spark, dir, schema)
    val reachedClaim = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    // the slow writer pauses in the window between its segment write and its
    // manifest claim; the winner commits fully inside that window
    val slow = new VersionedTable(spark, dir, schema) {
      override protected def onBeforeManifestClaim(): Unit = {
        reachedClaim.countDown()
        proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    @volatile var slowFailure: Option[Throwable] = None
    val stats0 = CasStats.snapshot()
    val t = new Thread(() =>
      try slow.append(df("slow" -> 1L))
      catch { case e: Throwable => slowFailure = Some(e) })
    t.start()
    assert(reachedClaim.await(60, java.util.concurrent.TimeUnit.SECONDS))
    winner.append(df("fast" -> 2L)) // claims the contended version
    proceed.countDown()
    t.join(60000)
    assert(slowFailure.exists(_.isInstanceOf[CommitConflictException]),
      s"loser must throw CommitConflictException, got $slowFailure")
    // the loss is priced: the advisory counters record one lost claim and
    // the loser's fully-written, never-referenced segment bytes
    val stats1 = CasStats.snapshot()
    assert(stats1("claim_lost") === stats0("claim_lost") + 1)
    assert(stats1("wasted_bytes") > stats0("wasted_bytes"),
      "the losing segment's bytes must be accounted before deletion")
    val got = winner.read().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("fast", 2L)), "only the winner's rows are visible")
    // the conflict is retryable: a re-read + retry lands on the next version
    slow.append(df("slow" -> 1L))
    val all = winner.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(all.toSeq === Seq(("fast", 2L), ("slow", 1L)))
  }

  test("three writers appending concurrently with retry-on-conflict lose no rows") {
    val dir = Files.createTempDirectory("vt_stress").toString
    val perWriter = 5
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { w =>
      new Thread(() => {
        val t = new VersionedTable(spark, dir, schema)
        try {
          for (i <- 0 until perWriter) {
            var done = false
            var attempts = 0
            while (!done) {
              try { t.append(df(s"w$w-$i" -> (w * 100L + i))); done = true }
              catch {
                case _: CommitConflictException =>
                  attempts += 1
                  if (attempts > 50) throw new IllegalStateException("retry budget exhausted")
              }
            }
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"writers must converge via clean retries, got $failures")
    val t = new VersionedTable(spark, dir, schema)
    val got = t.read().collect().map(_.getString(0)).sorted
    val expected = (for (w <- 0 until 3; i <- 0 until perWriter) yield s"w$w-$i").sorted
    assert(got.toSeq === expected, "every writer's every row must survive the contention")
  }

  test("a writer dying before its manifest claim is invisible; next commit succeeds; vacuum sweeps debris") {
    val dir = Files.createTempDirectory("vt_crash").toString
    val t = new VersionedTable(spark, dir, schema)
    t.append(df("a" -> 1L))
    val crasher = new VersionedTable(spark, dir, schema) {
      override protected def onBeforeManifestClaim(): Unit =
        throw new RuntimeException("simulated crash between segment write and claim")
    }
    intercept[RuntimeException](crasher.append(df("b" -> 2L)))
    // reader is unaffected: the dead writer's segment was never referenced
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("a", 1L)), "crash debris must not surface in reads")
    assert(segDirs(dir).size === 2, "the orphan segment is still on disk")
    // the version was never claimed, so the next writer takes it cleanly
    t.append(df("c" -> 3L))
    val after = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(after.toSeq === Seq(("a", 1L), ("c", 3L)))
    t.vacuum()
    assert(segDirs(dir).size === 2, "vacuum removed exactly the orphan")
    assert(!Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".manifest-")),
      "vacuum removed the stale temp manifest")
    val afterVacuum = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(afterVacuum.toSeq === Seq(("a", 1L), ("c", 3L)), "vacuum never touches live data")
  }

  // ------------------------------------------- targeted deletes via stats

  test("deleteKeys rewrites only segments whose key range intersects a victim") {
    val dir = Files.createTempDirectory("vt_del").toString
    val t = new VersionedTable(spark, dir, schema, statsCol = Some("k"))
    t.append(df("a1" -> 1L, "a2" -> 2L))
    t.append(df("b1" -> 3L, "b2" -> 4L))
    t.append(df("c1" -> 5L, "c2" -> 6L))
    val before = fileFingerprints(dir)
    val segsBefore = segDirs(dir).toSet
    t.deleteKeys("k", Seq("b1"))
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq(("a1", 1L), ("a2", 2L), ("b2", 4L), ("c1", 5L), ("c2", 6L)))
    // IMMUTABILITY: no pre-existing file anywhere in the table dir changed
    val after = fileFingerprints(dir)
    for ((name, fp) <- before if after.contains(name))
      assert(after(name) === fp, s"pre-existing file $name was modified in place")
    // exactly ONE new segment appeared, and it holds only the touched
    // segment's survivors — proof the a- and c-segments were never read
    val newSegs = segDirs(dir).toSet -- segsBefore
    assert(newSegs.size === 1, s"expected one replacement segment, got $newSegs")
    val repl = spark.read.schema(schema)
      .parquet(java.nio.file.Paths.get(dir, newSegs.head).toString)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(repl.toSeq === Seq(("b2", 4L)),
      "replacement segment must contain only the touched segment's survivors")
  }

  test("bucketed table: hash-keyed deletes touch only the victims' buckets") {
    val dir = Files.createTempDirectory("vt_bucket").toString
    val t = new VersionedTable(spark, dir, schema, statsCol = Some("k"), bucketed = true)
    // keys with leading chars spread across the space, like content hashes
    t.append(df("Aaa" -> 1L, "Mbb" -> 2L, "Zcc" -> 3L))
    t.append(df("Add" -> 4L, "Mee" -> 5L, "Zff" -> 6L))
    val before = fileFingerprints(dir)
    t.deleteKeys("k", Seq("Mbb"))
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq(("Aaa", 1L), ("Add", 4L), ("Mee", 5L), ("Zcc", 3L), ("Zff", 6L)))
    // only the M-bucket of the FIRST commit may be rewritten: every A- and
    // Z-bucket file, and the second commit's M-bucket, must be untouched
    val after = fileFingerprints(dir)
    for ((name, fp) <- before if after.contains(name))
      assert(after(name) === fp, s"pre-existing file $name was modified")
    val rewrittenGone = (before.keySet -- after.keySet).filter(_.startsWith("seg-"))
    assert(rewrittenGone.forall(_.contains("__bucket=b4D")), // hex('M') = 4D
      s"only M-bucket entries may be retired, got $rewrittenGone")
    // fold everything and delete again: still correct after compaction
    t.compact()
    t.deleteKeys("k", Seq("Zff", "Aaa"))
    val after2 = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(after2.toSeq === Seq(("Add", 4L), ("Mee", 5L), ("Zcc", 3L)))
  }

  test("bucketed table survives keys starting with Hadoop-escaped characters") {
    // partitionBy ESCAPES '%', ':', '=', '#' etc. in on-disk partition
    // names; recording the unescaped value in the manifest would make every
    // later read miss the path (PATH_NOT_FOUND) and brick the table. Hex
    // bucket names sidestep escaping entirely — this pins it with the
    // characters Hadoop mangles plus a multi-byte one.
    val dir = Files.createTempDirectory("vt_bucket_esc").toString
    val t = new VersionedTable(spark, dir, schema, statsCol = Some("k"), bucketed = true)
    val nasty = Seq("%percent", ":colon", "=equals", "#hash", "*star", "?question",
      "éaccent", "normal")
    t.append(df(nasty.map(k => k -> k.length.toLong): _*))
    val got = t.read().collect().map(_.getString(0)).sorted
    assert(got.toSeq === nasty.sorted, "every nasty-keyed row must read back")
    t.deleteKeys("k", Seq("%percent", "=equals"))
    val left = t.read().collect().map(_.getString(0)).sorted
    assert(left.toSeq === nasty.filterNot(Set("%percent", "=equals")).sorted)
    t.append(df("%again" -> 9L))
    assert(t.read().count() === 7)
  }

  test("deleteKeys range checks use UTF-8 byte order (supplementary chars don't dodge deletion)") {
    // U+1F4F7 (camera emoji, 4-byte UTF-8) sorts ABOVE U+E000 in UTF-8 byte
    // order (Spark's min/max) but BELOW it in Java UTF-16 order — a
    // String-order key search would classify the segment as untouched and
    // silently skip the delete
    val dir = Files.createTempDirectory("vt_utf8").toString
    val t = new VersionedTable(spark, dir, schema, statsCol = Some("k"))
    val camera = new String(Character.toChars(0x1F4F7)) + "b"
    val privateUse = "a"
    t.append(df(privateUse -> 1L, camera -> 2L))
    t.deleteKeys("k", Seq(camera))
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq((privateUse, 1L)),
      s"the supplementary-character key must actually be deleted, got ${got.toSeq}")
  }

  test("tiered fold over a bucketed table preserves rows and re-buckets the fold") {
    val dir = Files.createTempDirectory("vt_bucket_fold").toString
    val t = new VersionedTable(spark, dir, schema, statsCol = Some("k"), bucketed = true)
    (1 to 5).foreach(i => t.append(df(s"A$i" -> i.toLong, s"Z$i" -> (10L + i)),
      compactThreshold = 4))
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.length === 10, "fold must preserve every row across bucket sub-segments")
    assert(got.map(_._1).toSeq ===
      (1 to 5).flatMap(i => Seq(s"A$i", s"Z$i")).sorted)
    // settle the fold's grace-window history so the next commit's
    // retirement sweeps only stale manifests, then prove the delete WRITES
    // only A-bucket data: the fold's replacement commit is itself bucketed
    // with tight stats
    t.append(df("A6" -> 6L, "Z6" -> 16L), compactThreshold = 99)
    val before = fileFingerprints(dir)
    t.deleteKeys("k", Seq("A3"))
    val after = fileFingerprints(dir)
    for ((name, fp) <- before if after.contains(name))
      assert(after(name) === fp, s"$name modified by an A-key delete")
    val newSegFiles = (after.keySet -- before.keySet).filter { f =>
      val base = f.substring(f.lastIndexOf('/') + 1)
      f.startsWith("seg-") && !base.startsWith("_") && !base.startsWith(".")
    }
    assert(newSegFiles.nonEmpty && newSegFiles.forall(_.contains("__bucket=b41")), // hex('A')
      s"an A-key delete may write only A-bucket replacement data, got $newSegFiles")
    assert(t.read().count() === 11)
  }

  test("split table: one commit carries every kind, a one-kind read opens only its files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vt_split").toString
    val kinds = StructType(Seq(StructField("kind", StringType), StructField("k", StringType),
      StructField("n", LongType)))
    val t = new VersionedTable(spark, dir, kinds, statsCol = Some("k"), bucketed = true,
      splitCol = Some("kind"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    t.append(Seq(("o", "Aa", 1L), ("m", "Aa", 2L), ("m", "Zz", 3L)).toDF("kind", "k", "n"))
    assert(t.retainedVersions === Seq(0L), "both kinds land in ONE commit")
    assert(rows(t.readWhere("kind", "m")) === Seq(("m", "Aa", 2L), ("m", "Zz", 3L)))
    val mFiles = t.readWhere("kind", "m").inputFiles
    assert(mFiles.nonEmpty && mFiles.forall(_.contains("/__kind=m/__bucket=b")),
      s"a one-kind read must open only that kind's bucket files: ${mFiles.toSeq}")
    // a delete by key removes the key's rows of every kind in one commit
    t.deleteKeys("k", Seq("Aa"))
    assert(t.retainedVersions.last === 1L)
    assert(rows(t.read()) === Seq(("m", "Zz", 3L)))
    assert(t.readWhere("kind", "o").count() === 0)
  }

  // ------------------------------------------------ manifest stats from parquet footers

  /** The current manifest's lines as (entry, min, max), stats decoded. */
  private def manifestEntries(dir: String): Seq[(String, Option[String], Option[String])] = {
    val root = java.nio.file.Paths.get(dir)
    val last = Files.list(root).iterator().asScala.map(_.getFileName.toString).collect {
      case n if n.matches("manifest-\\d+\\.txt") => n.stripPrefix("manifest-").stripSuffix(".txt").toLong
    }.max
    def unb64(s: String) = new String(java.util.Base64.getUrlDecoder.decode(s), "UTF-8")
    Files.readAllLines(root.resolve(s"manifest-$last.txt")).asScala.toSeq.filter(_.trim.nonEmpty)
      .map(_.split("\t", -1) match {
        case Array(n, lo, hi) => (n, Some(unb64(lo)), Some(unb64(hi)))
        case parts => (parts(0), None, None)
      })
  }

  test("manifest stats from the footers equal min/max over each entry's own rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val schema3 = StructType(Seq(StructField("kind", StringType), StructField("k", StringType),
      StructField("n", LongType)))
    // one row per task, so one file per row in its entry: an entry's range
    // combines several files' footers
    def rowsDf(rows: (String, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case ((kind, k), i) =>
        Row(kind, k, i.toLong) }, rows.length), schema3)
    val camera = new String(Character.toChars(0x1F4F7)) + "b"
    val privateUse = "z"
    // parquet drops a column chunk's stats when its min and max exceed 4 KiB:
    // the long key's file has none, the other files of its entry do, and a
    // range built from those alone would exclude it
    val long = "z" * 5000
    val commits = Seq(
      Seq("o" -> privateUse, "m" -> camera, "m" -> "a"), // the UTF-8 order case
      Seq("m" -> null, "o" -> "Mx", "m" -> null, "m" -> "Ma"), // mixed null / non-null
      Seq("m" -> null, "o" -> null), // all null
      Seq("m" -> "a1", "m" -> "za", "m" -> long, "m" -> "a2"))
    for (bucketed <- Seq(false, true); split <- Seq(None, Some("kind"))) {
      val label = s"[bucketed=$bucketed split=$split]"
      val dir = Files.createTempDirectory("vt_footer").toString
      val t = new VersionedTable(spark, dir, schema3, statsCol = Some("k"), bucketed = bucketed,
        splitCol = split)
      commits.foreach(c => t.append(rowsDf(c: _*)))
      // (nulls, keys) per entry: an all-null entry must get no stats, a
      // mixed one the range of its keys
      val shapes = manifestEntries(dir).map { case (name, lo, hi) =>
        val rows = spark.read.schema(schema3).parquet(java.nio.file.Paths.get(dir, name).toString)
        val r = rows.agg(min(col("k")), max(col("k")), count(lit(1)), count(col("k"))).head()
        if (rows.filter(col("k") === long).isEmpty)
          assert((lo, hi) === ((Option(r.getString(0)), Option(r.getString(1)))), s"$label entry $name")
        else assert((lo, hi) === ((None, None)), s"$label the long key's entry $name has no stats")
        (r.getLong(2) - r.getLong(3), r.getLong(3))
      }
      assert(shapes.exists { case (nulls, keys) => nulls > 0 && keys == 0 }, s"$label all-null entry")
      if (!bucketed) // buckets file null keys apart
        assert(shapes.exists { case (nulls, keys) => nulls > 0 && keys > 0 }, s"$label mixed entry")
      assert(t.readKeys("k", Seq(long)).collect().map(_.getString(1)).toSeq === Seq(long), label)
      t.deleteKeys("k", Seq(long))
      assert(t.read().filter(col("k") === long).isEmpty, s"$label the long key is deleted")
      assert(t.read().count() === commits.map(_.size).sum - 1, label)
    }
  }

  test("append and deleteKeys each run one Spark job, the write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vt_jobs").toString
    val kinds = StructType(Seq(StructField("kind", StringType), StructField("k", StringType),
      StructField("n", LongType)))
    val t = new VersionedTable(spark, dir, kinds, statsCol = Some("k"), bucketed = true,
      splitCol = Some("kind"))
    t.append(Seq(("o", "Aa", 1L), ("m", "Zz", 2L)).toDF("kind", "k", "n"))
    val rows = Seq(("o", "Ab", 3L), ("m", "Ab", 4L), ("m", "Mc", 5L)).toDF("kind", "k", "n")
    assert(jobsDuring(t.append(rows)) === 1, "append")
    assert(jobsDuring(t.deleteKeys("k", Seq("Ab"))) === 1, "deleteKeys")
    assert(t.read().count() === 3)
  }

  test("a statsCol that is not a string column is refused") {
    val dir = Files.createTempDirectory("vt_stats_type").toString
    intercept[IllegalArgumentException](new VersionedTable(spark, dir, schema, statsCol = Some("n")))
    intercept[IllegalArgumentException](new VersionedTable(spark, dir, schema, statsCol = Some("x")))
  }

  // ------------------------------------------------ keyed reads and the file index

  test("readKeys returns exactly the rows of read().filter(isInCollection), opening only hit entries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val schema3 = StructType(Seq(StructField("k", StringType), StructField("g", StringType),
      StructField("n", LongType)))
    // U+1F4F7 sorts above U+E000..U+FFFF in UTF-8 byte order (Spark's
    // min/max) but below them in UTF-16 order: the second commit's stats
    // are [a, camera], and only a UTF-8 compare sees that they cover
    // privateUse
    val camera = new String(Character.toChars(0x1F4F7)) + "b"
    val privateUse = "\uE000z"
    val commits = Seq(
      Seq(("Sx", "y", 0L)),
      Seq(("a", "x", 1L), (privateUse, "y", 2L), (camera, "x", 3L)),
      Seq(("Aa", "y", 4L), ("Mb", "x", 5L), ("Zc", "y", 6L)),
      Seq(("\uFFFFq", "x", 7L), ("Ad", "x", 8L)))
    val keySets = Seq(Seq.empty[String], Seq(privateUse), Seq(camera), Seq("Mb"), Seq("Sx"),
      Seq("Aa", "Zc", "\uFFFFq"), Seq("nowhere"), Seq("a", "Ad", "missing"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    for (bucketed <- Seq(false, true)) {
      val dir = Files.createTempDirectory("vt_keys").toString
      // the first commit lands on a stats-less table: its manifest line has
      // no stats, like a pre-stats manifest, and must always be opened
      new VersionedTable(spark, dir, schema3).append(commits.head.toDF("k", "g", "n"))
      val t = new VersionedTable(spark, dir, schema3, statsCol = Some("k"), bucketed = bucketed)
      commits.tail.foreach(c => t.append(c.toDF("k", "g", "n")))
      val statless = t.read().inputFiles.filter(f => !f.contains("__bucket=") && f.contains("/seg-0-"))
      assert(statless.nonEmpty, "the stats-less first commit is part of the table")
      for (keyCol <- Seq("k", "g"); keys <- keySets ++ Seq(Seq("x"))) {
        val label = s"[bucketed=$bucketed $keyCol in ${keys.mkString(",")}]"
        val got = t.readKeys(keyCol, keys)
        assert(got.schema === schema3, label)
        assert(rows(got) === rows(t.read().filter(col(keyCol).isInCollection(keys))), label)
        // (an empty IN list plans no scan at all, so only non-empty key
        // sets show which files a read opens)
        val opened = got.inputFiles.toSet
        if (keys.nonEmpty && keyCol == "g") // not the stats column: no pruning
          assert(opened === t.read().inputFiles.toSet, s"$label must open every entry")
        else if (keys.nonEmpty)
          assert(statless.forall(opened), s"$label must open the stats-less entry")
      }
      // pruning happens: a one-key read opens fewer files than the table has
      assert(t.readKeys("k", Seq("Mb")).inputFiles.length < t.read().inputFiles.length)
      if (bucketed) assert(t.readKeys("k", Seq("Mb")).inputFiles
        .filter(_.contains("__bucket=")).forall(_.contains("__bucket=b4D")), // hex('M')
        "a bucketed keyed read opens only the key's bucket entries")
      assert(t.readKeys("k", Nil).count() === 0)
    }
  }

  test("a manifest entry that vanished or holds no data file fails reads loudly") {
    val dir = Files.createTempDirectory("vt_vanished").toString
    val t = new VersionedTable(spark, dir, schema, statsCol = Some("k"), bucketed = true)
    t.append(df("Aa" -> 1L, "Mb" -> 2L))
    t.append(df("Ac" -> 3L, "Zd" -> 4L))
    val mEntry = segDirs(dir).head + "/__bucket=b4D" // hex('M'), first commit
    // an entry that holds only marker files lists no data file
    Files.list(java.nio.file.Paths.get(dir, mEntry)).iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith("part-")).foreach(Files.delete)
    def missing(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])
    val noData = intercept[Exception](t.read().collect())
    assert(missing(noData), s"an entry with no data file must be a missing-file error: $noData")
    assert(missing(intercept[Exception](t.readKeys("k", Seq("Mb")).collect())))
    // an entry whose directory is gone
    graft.core.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir, mEntry))
    val gone = intercept[Exception](t.read().collect())
    assert(missing(gone), s"a vanished entry must be a missing-file error: $gone")
    // the read is never quietly smaller, and the fold path reports it as
    // the conflict it always has
    implicit val signaler: org.scalatest.concurrent.Signaler =
      org.scalatest.concurrent.ThreadSignaler
    org.scalatest.concurrent.TimeLimits.failAfter(
      org.scalatest.time.Span(120, org.scalatest.time.Seconds)) {
      intercept[CommitConflictException](t.compact())
    }
  }

  test("deleteKeys with no intersecting segment is a free no-op") {
    val dir = Files.createTempDirectory("vt_del_noop").toString
    val t = new VersionedTable(spark, dir, schema, statsCol = Some("k"))
    t.append(df("a1" -> 1L))
    t.append(df("b1" -> 2L))
    val before = fileFingerprints(dir)
    t.deleteKeys("k", Seq("zz_not_there"))
    assert(fileFingerprints(dir) === before, "no file may change when no range intersects")
    assert(t.read().count() === 2)
  }

  // --------------------------- read-modify-write CAS (r13 primitives' drill)

  test("publishIfVersion rejects a stale writeback whole; the interloping commit survives") {
    val (_, t) = fresh()
    t.publish(df("base" -> 0L)) // v0
    val (v, snap) = t.readWithVersion()
    assert(v === 0L)
    val pinned = snap.localCheckpoint()
    // a concurrent commit lands between the read and the writeback — the
    // r12 lost-delete shape: an unconditional publish would erase it
    t.append(df("interloper" -> 1L)) // v1
    intercept[CommitConflictException](t.publishIfVersion(pinned, v))
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq(("base", 0L), ("interloper", 1L)),
      "the stale CAS must change nothing — interloper included")
  }

  test("racing publishIfVersion claims at one version: exactly one wins") {
    val (dir, t) = fresh()
    t.publish(df("seed" -> 0L))
    val (v, _) = t.readWithVersion()
    val wins = new java.util.concurrent.atomic.AtomicInteger()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger()
    val others = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      new Thread(() =>
        try {
          new VersionedTable(spark, dir, schema)
            .publishIfVersion(df(s"w$i" -> i.toLong), v)
          wins.incrementAndGet()
        } catch {
          case _: CommitConflictException => conflicts.incrementAndGet()
          case e: Throwable => others.add(e)
        })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(others.isEmpty, s"losers must fail ONLY with the clean conflict, got $others")
    assert(wins.get === 1 && conflicts.get === 3,
      s"single-claim semantics: wins=${wins.get} conflicts=${conflicts.get}")
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length === 1 && got.head._1.startsWith("w"),
      "the table holds exactly the one winner's snapshot")
  }

  test("compact retries past a commit landing mid-compaction: nothing lost, one segment") {
    val dir = Files.createTempDirectory("vt_compact_race").toString
    val t = new VersionedTable(spark, dir, schema)
    t.append(df("a" -> 1L))
    t.append(df("b" -> 2L))
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    // inject the interloper in the window between the compactor's segment
    // write and its manifest claim — its CAS must lose, re-read, and fold
    // the interloper's rows into the retried compaction
    val compactor = new VersionedTable(spark, dir, schema) {
      override protected def onBeforeManifestClaim(): Unit =
        if (injected.compareAndSet(false, true))
          new VersionedTable(spark, dir, schema).append(df("mid" -> 3L))
    }
    compactor.compact()
    assert(injected.get, "the race was never exercised")
    val got = t.read().collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq(("a", 1L), ("b", 2L), ("mid", 3L)),
      "the mid-compaction commit must survive the retried rewrite")
    assert(t.segmentCount === 1)
  }

  test("compact retries when its snapshot read hits retired segment files") {
    val dir = Files.createTempDirectory("vt_compact_read_race").toString
    val t = new VersionedTable(spark, dir, schema)
    t.append(df("a" -> 1L))
    t.append(df("b" -> 2L))
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    // what a concurrent writer's segment retirement looks like from the
    // driver: the executor-side FileNotFoundException arrives wrapped — the
    // r13 advisor race that used to escape the retry loop as a crash
    val flaky = new VersionedTable(spark, dir, schema) {
      override def readWithVersion(): (Long, org.apache.spark.sql.DataFrame) = {
        if (failedOnce.compareAndSet(false, true))
          throw new org.apache.spark.SparkException("Job aborted due to stage failure",
            new java.io.FileNotFoundException(s"$dir/seg-0-dead/part-00000.parquet"))
        super.readWithVersion()
      }
    }
    flaky.compact()
    assert(failedOnce.get)
    assert(t.read().count() === 2 && t.segmentCount === 1,
      "the missing-file race must convert to a clean retry, not a crash")
  }

  test("compact surfaces a conflict that never clears instead of spinning") {
    // a segment the manifest still references is deleted: every re-read
    // folds the missing path into a CommitConflictException, so an
    // unbounded retry loop would never return — the time limit turns
    // such a hang into a failure (the thread signaler interrupts it)
    val (dir, t) = fresh()
    t.append(df("a" -> 1L))
    t.append(df("b" -> 2L))
    graft.core.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir, segDirs(dir).head))
    implicit val signaler: org.scalatest.concurrent.Signaler =
      org.scalatest.concurrent.ThreadSignaler
    val e = org.scalatest.concurrent.TimeLimits.failAfter(
      org.scalatest.time.Span(120, org.scalatest.time.Seconds)) {
      intercept[CommitConflictException](t.compact())
    }
    assert(e.getMessage.contains(
      s"${CommitConflictException.MaxCasAttempts} consecutive times"), e.getMessage)
  }
}
