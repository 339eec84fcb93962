package graft.operators

import graft.SparkSpec

/** The persisted-index contracts: serving from storage reproduces the
  * session memo's v12 answer bitwise, keeps working after every training
  * memo is wiped (train-once/serve-many), and the persisted band index
  * round-trips the dedupe probe side exactly. */
class AnnIndexStoreSpec extends SparkSpec {

  private def v12Rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

  test("persisted serve == session-memo v12, and survives a memo wipe") {
    val expected = v12Rows(SimilarityQueries.v12IvfAdc(spark, sfDir))
    val root = java.nio.file.Files.createTempDirectory("annidx-spec").toString
    AnnIndexStore.persist(spark, sfDir, root)
    val served = v12Rows(AnnIndexStore.serveTopK(spark, sfDir, root))
    assert(served.nonEmpty && served == expected,
      "reopened index must reproduce the memo's ranking bitwise")
    // train-once / serve-many: wipe every training memo (the cross-session
    // stand-in — memo keys are application-scoped) and serve again PURELY
    // from storage; equality proves no retraining state is needed
    graft.BenchMemos.clearAll()
    val servedCold = v12Rows(AnnIndexStore.serveTopK(spark, sfDir, root))
    assert(servedCold == expected, "cold reopen (no training state) must match")
  }

  test("persisted band index round-trips the dedupe probe side") {
    val root = java.nio.file.Files.createTempDirectory("annidx-bands").toString
    AnnIndexStore.persist(spark, sfDir, root)
    val direct = DedupQueries.minhashBands(spark, sfDir)
      .select("doc_id", "band", "band_key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val reopened = AnnIndexStore.openBands(spark, root)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(reopened.nonEmpty && reopened == direct)
  }

  test("two-stage rerank from the persisted index equals session-memo v16/v18") {
    val root = java.nio.file.Files.createTempDirectory("annidx-rerank").toString
    AnnIndexStore.persist(spark, sfDir, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(rows(AnnIndexStore.serveRerank(spark, sfDir, root))
      == rows(SimilarityQueries.v16Rerank(spark, sfDir)))
    assert(rows(AnnIndexStore.serveRerank(spark, sfDir, root, nprobe = 4, shortlistK = 80))
      == rows(SimilarityQueries.v18Multiprobe(spark, sfDir)))
  }

  test("v19 driver row equals v12's (the shared-oracle premise)") {
    val a = v12Rows(AnnIndexStore.v19PersistedServe(spark, sfDir))
    val b = v12Rows(SimilarityQueries.v12IvfAdc(spark, sfDir))
    assert(a == b)
  }

  test("v21 lifecycle: O(new) append, storage-encoded increment, serve over old+new") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("annidx-incr").toString
    AnnIndexStore.persistOldTrained(spark, sfDir, root)
    // the increment encodes against the REOPENED quantizer after a memo
    // wipe — proof the arrival path needs no training state at all
    graft.BenchMemos.clearAll()
    AnnIndexStore.appendIncrement(spark, sfDir, root, col("vec_id") % 7 === 0)
    val e = Tables.t(spark, sfDir, "embeddings")
    val coded = AnnIndexStore.openCoded(spark, root)
    assert(coded.count() == e.count(), "old + appended new covers the corpus")
    assert(AnnIndexStore.codedSegmentCount(spark, root) == 2,
      "append commits ONE new segment; the base is never rewritten")
    // serve equals the session-side recompute under the same frozen quantizer
    val coarse = SimilarityQueries.trainedCentroids(spark, sfDir, "old", 10, 3)
    val cents = SimilarityQueries.pqCodebooks(spark, sfDir, "old")
    val expectedCodes = SimilarityQueries.encodeWith(e, coarse, cents)
      .collect().map(_.toSeq).toSet
    assert(coded.collect().map(_.toSeq).toSet == expectedCodes,
      "storage-encoded rows equal memo-encoded rows bitwise")
    val served = v12Rows(AnnIndexStore.serveTopK(spark, sfDir, root))
    assert(served.nonEmpty)
    // maintenance tail: compaction folds the commit chain into one
    // segment and the served answer is unchanged (manifest-driven reads)
    AnnIndexStore.compactCoded(spark, root)
    assert(AnnIndexStore.codedSegmentCount(spark, root) == 1)
    assert(v12Rows(AnnIndexStore.serveTopK(spark, sfDir, root)) == served)
  }

  test("v24 time travel: each retained version reads back as its committed row set") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("annidx-tt").toString
    AnnIndexStore.persistOldTrained(spark, sfDir, root)
    // snapshot the pre-append content through the CURRENT read
    val v0Expected = AnnIndexStore.openCoded(spark, root)
      .collect().map(_.toSeq).toSet
    AnnIndexStore.appendIncrement(spark, sfDir, root, col("vec_id") % 7 === 0)
    val t = new graft.sources.VersionedTable(spark, s"$root/coded",
      AnnIndexStore.codedSchema)
    assert(t.retainedVersions === Seq(0L, 1L))
    // AS OF 0 is bitwise the pre-append snapshot; AS OF 1 is the current read
    assert(t.readVersion(0).collect().map(_.toSeq).toSet === v0Expected)
    assert(t.readVersion(1).collect().map(_.toSeq).toSet ===
      AnnIndexStore.openCoded(spark, root).collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException](t.readVersion(2))
    // compaction publishes version 2 and retires version 0 (grace window)
    AnnIndexStore.compactCoded(spark, root)
    assert(t.retainedVersions === Seq(1L, 2L))
    intercept[IllegalArgumentException](t.readVersion(0))
  }

  test("v23 lifecycle: tombstone serve == rebuilt-index serve; compaction is a no-op") {
    import org.apache.spark.sql.functions.{col, expr}
    val root = java.nio.file.Files.createTempDirectory("annidx-del").toString
    AnnIndexStore.persist(spark, sfDir, root)
    val del = Tables.t(spark, sfDir, "embeddings")
      .filter(expr(AnnIndexStore.V23DeleteSql))
      .select(col("vec_id").as("neighbor_id"))
    AnnIndexStore.deleteIds(spark, root, del)
    val masked = v12Rows(AnnIndexStore.serveTopK(spark, sfDir, root))
    assert(masked.nonEmpty)
    // no deleted id survives as a neighbor
    val delIds = del.collect().map(_.getLong(0)).toSet
    assert(masked.forall { case (q, n, _, _) => !delIds(n) && !delIds(q) })
    // the gold identity: an index PERSISTED WITHOUT the deleted vectors
    // (same full-trained quantizer, coded body = survivors only) serves
    // the identical answer — tombstones are invisible semantics
    val rebuilt = java.nio.file.Files.createTempDirectory("annidx-rebuilt").toString
    AnnIndexStore.persist(spark, sfDir, rebuilt)
    val survivorsOnly = AnnIndexStore.openCoded(spark, rebuilt)
      .join(del, Seq("neighbor_id"), "left_anti")
    AnnIndexStore.republishCoded(spark, rebuilt, survivorsOnly)
    assert(v12Rows(AnnIndexStore.serveTopK(spark, sfDir, rebuilt)) == masked)
    // physical compaction applies the mask and clears it; the answer —
    // and the serve's view of the index — are unchanged
    AnnIndexStore.compactDeletes(spark, root)
    assert(AnnIndexStore.openTombstones(spark, root).count() == 0L)
    assert(AnnIndexStore.openCoded(spark, root)
      .join(del, Seq("neighbor_id"), "left_semi").count() == 0L,
      "compaction physically removed the tombstoned rows")
    assert(v12Rows(AnnIndexStore.serveTopK(spark, sfDir, root)) == masked)
  }

  test("probe collect is parameter-guarded: out-of-cap probeLimit is rejected") {
    val root = java.nio.file.Files.createTempDirectory("annidx-cap").toString
    // validation fires before any table read, so an unpersisted root is fine
    intercept[IllegalArgumentException](
      AnnIndexStore.servedStream(spark, sfDir, root, probeLimit = 0))
    intercept[IllegalArgumentException](
      AnnIndexStore.servedStream(spark, sfDir, root,
        probeLimit = AnnIndexStore.MaxProbeVectors + 1))
  }

  test("delete/compact/serve race drill: no tombstone lost, every observed view legal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("annidx-race").toString
    def ids(r: Seq[Int]) = r.map(_.toLong).toDF("neighbor_id")
    val codedT = new graft.sources.VersionedTable(spark, s"$root/coded",
      AnnIndexStore.codedSchema)
    codedT.publish(ids(0 until 120).select(col("neighbor_id"),
      lit(0).as("cell"), lit(1).as("code_0"), lit(2).as("code_1"),
      lit(3).as("code_2"), lit(4).as("code_3")))
    // single-writer set of delete batches whose commits have RETURNED —
    // the legality bar a concurrent reader is held to
    @volatile var committed: Set[Long] = Set.empty
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def isMissingFile(e: Throwable): Boolean = {
      var cur = e; var depth = 0
      while (cur != null && depth < 16) {
        cur match {
          case _: java.io.FileNotFoundException
             | _: java.nio.file.NoSuchFileException => return true
          case t if t.getMessage != null &&
            (t.getMessage.contains("Path does not exist") ||
             t.getMessage.contains("PATH_NOT_FOUND")) => return true
          case _ => ()
        }
        cur = cur.getCause; depth += 1
      }
      false
    }
    val deleter = new Thread(() => try {
      (0 until 100).grouped(10).foreach { batch =>
        AnnIndexStore.deleteIds(spark, root, ids(batch))
        committed = committed ++ batch.map(_.toLong)
      }
    } catch { case e: Throwable => failures.add(e) })
    val compactor = new Thread(() => try {
      (0 until 6).foreach(_ => AnnIndexStore.compactDeletes(spark, root))
    } catch { case e: Throwable => failures.add(e) })
    val reader = new Thread(() => try {
      while (deleter.isAlive || compactor.isAlive) {
        val before = committed // snapshot BEFORE resolving the views
        try {
          // the serve path's resolution order: tombstones BEFORE coded
          // (the only illegal two-table pairing is coded-old +
          // tombstones-cleared, and this order makes it unobservable)
          val tomb = AnnIndexStore.openTombstones(spark, root)
          val live = AnnIndexStore.openCoded(spark, root)
            .join(tomb, Seq("neighbor_id"), "left_anti")
            .collect().map(_.getLong(0)).toSet
          val resurrected = before.intersect(live)
          if (resurrected.nonEmpty)
            failures.add(new AssertionError(
              s"committed deletes served mid-race: $resurrected"))
        } catch {
          // a reader that outruns the one-version grace window under this
          // commit storm re-reads — the production retry contract
          case e: Throwable if isMissingFile(e) => ()
        }
      }
    } catch { case e: Throwable => failures.add(e) })
    Seq(deleter, compactor, reader).foreach(_.start())
    deleter.join(300000); compactor.join(300000); reader.join(300000)
    assert(failures.isEmpty, s"race drill failures: ${failures}")
    // drain: after one quiesced compaction, every delete is physically
    // applied (none lost — the r12 resurrection bug) and the mask is clear
    AnnIndexStore.compactDeletes(spark, root)
    assert(AnnIndexStore.openTombstones(spark, root).count() === 0L)
    val finalLive = AnnIndexStore.openCoded(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(finalLive === (100 until 120).map(_.toLong).toSet,
      "exactly the undeleted ids survive — no tombstone lost, no survivor dropped")
  }

  test("two deleters racing the same versions both land: deleteIds self-retries lost claims") {
    // the r15 CasLiveness finding: the r14 drill's deleter was a single
    // thread, so deleteIds was never exercised against ANOTHER deleter —
    // two concurrent callers contending the same tombstone version
    // surfaced raw CommitConflictExceptions from append. The verb now
    // retries internally (a blind append re-run against the fresh
    // snapshot is lossless), so N writers must all land with no
    // conflict escaping and the union of their batches on disk.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("annidx-2del").toString
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val ts = (0 until 2).map { w =>
      new Thread(() => try {
        gate.await()
        (0 until 5).foreach { i =>
          val ids = (0 until 10).map(j => (w * 1000 + i * 10 + j).toLong)
            .toDF("neighbor_id")
          AnnIndexStore.deleteIds(spark, root, ids)
        }
      } catch { case e: Throwable => failures.add(e) })
    }
    ts.foreach(_.start()); ts.foreach(_.join(300000))
    assert(failures.isEmpty,
      s"racing deleteIds must not surface conflicts: ${failures.peek()}")
    val got = AnnIndexStore.openTombstones(spark, root)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    val want = (for (w <- 0 until 2; i <- 0 until 5; j <- 0 until 10)
      yield (w * 1000 + i * 10 + j).toLong).toSet
    assert(got === want, "every racing batch must land exactly once")
  }

  test("a serve plan staled by two compactions folds to read_conflict; the pinned serve survives") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the r17 read-side contract: serveTopK's lazy plan resolves coded
    // segment PATHS at call time; the one-version grace window covers one
    // concurrent flip, so exactly two compactions landing before the
    // action retire those files. The raw action must die missing-file,
    // asConflict must fold that into the clean retryable conflict (and
    // bump the read_conflict counter), and serveTopKPinned — the client
    // pattern — must re-resolve and answer as if the race never happened.
    val root = java.nio.file.Files.createTempDirectory("annidx-rc").toString
    AnnIndexStore.persist(spark, sfDir, root)
    val expected = v12Rows(AnnIndexStore.serveTopK(spark, sfDir, root))
    val stale = AnnIndexStore.serveTopK(spark, sfDir, root) // paths pinned NOW
    (0 until 2).foreach { i =>
      AnnIndexStore.deleteIds(spark, root,
        Seq(900000L + i).toDF("neighbor_id")) // ids outside the corpus: the
      AnnIndexStore.compactDeletes(spark, root) // serve answer is unchanged
    }
    val s0 = graft.sources.CasStats.snapshot()("read_conflict")
    val t = new graft.sources.VersionedTable(
      spark, s"$root/coded", AnnIndexStore.codedSchema)
    val e = intercept[graft.sources.CommitConflictException] {
      t.asConflict("spec stale serve")(stale.collect())
    }
    assert(e.getMessage.contains("segment retirement"), e.getMessage)
    assert(graft.sources.CasStats.snapshot()("read_conflict") === s0 + 1,
      "the read-side counter must record the fold")
    // and the pinned serve — same race shape, re-resolving retry — answers
    val pinned = AnnIndexStore.serveTopKPinned(spark, sfDir, root)
      .toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(pinned == expected,
      "a serve under compactions must equal the quiet serve (no-op tombstones)")
  }

  test("an index whose entire probe set is deleted serves EMPTY, not a crash") {
    import spark.implicits._
    // deleting every probe id (vec_id < 10) is a legal sequence of legal
    // deletes, so the serve must degrade to an empty answer. Before the
    // servedStream guard, the empty probe collect reached ivfAdcServe as
    // explode(array()) — a NullType whose "u.query_id" extraction died in
    // the analyzer (INVALID_EXTRACT_BASE_FIELD_TYPE), i.e. a legal state
    // crashing with an unrelated-looking error (found by the rc probe).
    val root = java.nio.file.Files.createTempDirectory("annidx-noprobe").toString
    AnnIndexStore.persist(spark, sfDir, root)
    AnnIndexStore.deleteIds(spark, root, (0L until 10L).toDF("neighbor_id"))
    assert(AnnIndexStore.serveTopK(spark, sfDir, root).collect().isEmpty,
      "tombstoned probes must serve empty (lazy-delete path)")
    AnnIndexStore.compactDeletes(spark, root)
    assert(AnnIndexStore.serveTopKPinned(spark, sfDir, root).isEmpty,
      "physically-deleted probes must serve empty (compacted path)")
  }

  test("retryConflicts is bounded with backoff: a permanent conflict surfaces, not a hot spin") {
    // the r15 advisor finding: the retry wrapper was an unbounded,
    // backoff-free spin — a livelocked peer meant one core burned
    // forever with zero diagnostics. It now sleeps between lost rounds
    // and rethrows after maxAttempts with the attempt count in the text.
    var calls = 0
    val t0 = System.nanoTime()
    val e = intercept[graft.sources.CommitConflictException] {
      graft.sources.CommitConflictException.retryConflicts("spec permanent-conflict", maxAttempts = 5) {
        calls += 1
        throw new graft.sources.CommitConflictException("spec: claim lost")
      }
    }
    assert(calls === 5, "gives up after exactly maxAttempts rounds")
    assert(e.getMessage.contains("5 consecutive times"), e.getMessage)
    assert(e.getMessage.contains("spec permanent-conflict"), e.getMessage)
    // the give-up wrapper CHAINS the last real conflict (r16 advisor:
    // a cause-less rethrow discarded the stack trace the bounded retry
    // was added to surface)
    assert(e.getCause != null &&
      e.getCause.isInstanceOf[graft.sources.CommitConflictException] &&
      e.getCause.getMessage == "spec: claim lost",
      s"give-up must chain the last conflict, got cause=${e.getCause}")
    // backoff actually slept: 2+4+8+16 ms minimum between the 5 attempts
    assert((System.nanoTime() - t0) / 1e6 >= 25.0, "no backoff between lost rounds")
    // a transient conflict still lands and returns the body's value
    var n = 0
    val out = graft.sources.CommitConflictException.retryConflicts("spec transient", maxAttempts = 5) {
      n += 1
      if (n < 3) throw new graft.sources.CommitConflictException("spec: lost")
      "landed"
    }
    assert(out === "landed" && n === 3)
    // non-conflict exceptions pass straight through (never swallowed)
    intercept[IllegalArgumentException] {
      graft.sources.CommitConflictException.retryConflicts("spec other")(throw new IllegalArgumentException("x"))
    }
  }

  test("a chain whose publish fails leaves no table publishing after persist returns") {
    // a plain file where one table's directory goes fails that chain's
    // publish; every other chain must settle before the failure surfaces
    val schemas = Seq("coarse" -> AnnIndexStore.coarseSchema,
      "codebooks" -> AnnIndexStore.codebookSchema,
      "coded" -> AnnIndexStore.codedSchema, "bands" -> AnnIndexStore.bandSchema)
    def versions(root: String): Map[String, Seq[Long]] = schemas.map { case (n, sc) =>
      n -> new graft.sources.VersionedTable(spark, s"$root/$n", sc).retainedVersions
    }.toMap
    val cases = Seq[(String, (String, String) => Unit, String, Seq[String])](
      ("persist", AnnIndexStore.persist(spark, _, _), "coarse", Seq("codebooks", "bands")),
      ("persistOldTrained", AnnIndexStore.persistOldTrained(spark, _, _), "codebooks",
        Seq("coarse")))
    for ((label, run, blocked, siblings) <- cases) {
      val root = java.nio.file.Files.createTempDirectory("annidx-fail").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(root, blocked), Array[Byte](1))
      intercept[Exception](run(sfDir, root))
      val atReturn = versions(root)
      siblings.foreach(n => assert(atReturn(n).nonEmpty, s"[$label] $n settled before the rethrow"))
      assert(atReturn("coded").isEmpty, s"[$label] coded needs the failed chain's output")
      Thread.sleep(5000)
      assert(versions(root) == atReturn, s"[$label] a table published after $label returned")
    }
  }
}
