package graft.operators

import graft.sources.CommitConflictException.retryConflicts
import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/**
 * Train-once / serve-many persistence for the ANN + dedupe indexes — the
 * reference's config-persistence pattern (A7: settings survive the process
 * that wrote them, reference: src/DedupeLibrary/DedupeLibrary.cs settings
 * round-trip) applied to the index state that actually matters at 100 TB:
 * a production IVF-PQ index is trained ONCE (the expensive Lloyd loops +
 * corpus encode) and then served for months across thousands of sessions,
 * so the centroids, codebooks, coded vectors and the MinHash band index
 * must live in STORAGE, not in a session memo.
 *
 * Storage is [[VersionedTable]] — the same atomic write-then-publish
 * commit protocol the engine's config/table stores already use, so index
 * refreshes (retrain, re-encode) are atomic version bumps: readers either
 * see the old index or the new one, never a torn mix of new centroids
 * with old codes (the corruption mode a plain parquet-overwrite layout
 * invites; mixing quantizer generations silently poisons every distance).
 *
 * Four tables under one root:
 *   - `coarse`    (cell, centroid float64[]) — k×dim, the IVF quantizer;
 *   - `codebooks` (s, cell, centroid float64[]) — M·k' PQ sub-centroids;
 *   - `coded`     (neighbor_id, cell, code_0..3) — the index BODY: one
 *     row of 4 byte-range ints + a cell per corpus vector (the 16× PQ
 *     compression is exactly why this table, not the embeddings, is what
 *     serving reads at scale);
 *   - `bands`     (doc_id, band, band_key) — the MinHash-LSH band index
 *     the cross-run dedupe (x11) and ingest-time rejection (st14) probe.
 *
 * Serving reads the two SMALL tables driver-side (k×dim doubles — the
 * same driver-resident footprint the session memos hold, and the
 * classical serve shape: FAISS loads centroids into RAM, codes stream)
 * and keeps `coded`/`bands` distributed. The scoring core is
 * [[SimilarityQueries.ivfAdcServe]] — the SAME function the in-session
 * path runs — so a reopened index reproduces the memo's results bitwise
 * by construction (AnnIndexStoreSpec proves it across a memo wipe, and
 * the v19 driver row hash-matches v12's oracle verbatim).
 */
object AnnIndexStore {

  private val centroidArr = ArrayType(DoubleType, containsNull = false)
  private[operators] val coarseSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", centroidArr)))
  private[operators] val codebookSchema = StructType(Seq(
    StructField("s", IntegerType), StructField("cell", IntegerType),
    StructField("centroid", centroidArr)))
  private[operators] val codedSchema = StructType(Seq(
    StructField("neighbor_id", LongType), StructField("cell", IntegerType),
    StructField("code_0", IntegerType), StructField("code_1", IntegerType),
    StructField("code_2", IntegerType), StructField("code_3", IntegerType)))
  private[operators] val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("band_key", StringType)))
  private[operators] val tombSchema = StructType(Seq(
    StructField("neighbor_id", LongType)))

  private def table(spark: SparkSession, root: String, name: String,
      schema: StructType): VersionedTable =
    new VersionedTable(spark, s"$root/$name", schema)

  /** Train (via the session memos — one Lloyd sweep, ever) and publish
    * all four index tables atomically-per-table under `root`. Re-running
    * publishes fresh versions; readers flip whole versions, never mixes. */
  def persist(spark: SparkSession, dir: String, root: String): Unit = {
    import spark.implicits._
    // r18, guide §2.6 (overlap independent jobs): the four table builds
    // are THREE independent job chains — the coarse Lloyd loop, the PQ
    // codebook loop, and the MinHash band build — plus `coded`, which
    // needs both quantizer halves. Sequential execution serialized every
    // chain's driver collects (the Lloyd/PQ iterations are inherently
    // sequential WITHIN a chain, and each per-iteration job leaves most
    // cores idle at its tail); a 3-thread pool lets the chains' jobs
    // back-fill each other's stragglers. Safety: each publish targets its
    // OWN VersionedTable directory (per-directory manifests — no shared
    // commit state, so cross-TABLE ordering does not exist to violate);
    // the session memos are CountedMemo — per-key serialization keeps
    // one build per key; `coded` is sequenced after
    // both quantizer futures, so it reads settled memo entries only.
    // AnnIndexStoreSpec pins read-after-persist equivalence.
    runChains(3) { implicit ec =>
      val fCoarse = Future {
        val coarse = SimilarityQueries.trainedCentroids(spark, dir, "full", 10, 3)
          .toDF("cell", "centroid")
        table(spark, root, "coarse", coarseSchema).publish(coarse)
      }
      val fBooks = Future {
        val books = SimilarityQueries.pqCodebooks(spark, dir).zipWithIndex
          .flatMap { case (cb, s) => cb.map { case (c, v) => (s, c, v) } }
          .toDF("s", "cell", "centroid")
        table(spark, root, "codebooks", codebookSchema).publish(books)
      }
      val fBands = Future {
        table(spark, root, "bands", bandSchema)
          .publish(DedupQueries.minhashBands(spark, dir)
            .select("doc_id", "band", "band_key"))
      }
      val fCoded = for {
        _ <- fCoarse
        _ <- fBooks
        _ <- Future {
          table(spark, root, "coded", codedSchema)
            .publish(SimilarityQueries.codedVectors(spark, dir))
        }
      } yield ()
      Seq(fCoarse, fBooks, fBands, fCoded)
    }
  }

  /** Run publish chains on a `threads`-wide pool and return once EVERY
    * chain has settled; the first failure (in `chains`' order) is rethrown
    * only then, so no chain publishes after the caller has seen the error.
    * `chains` returns every future it started — the intermediate ones too,
    * since a dependent future fails as soon as one input does while that
    * input's siblings run on. */
  private def runChains(threads: Int)(
      chains: ExecutionContext => Seq[Future[Any]]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = chains(ExecutionContext.fromExecutorService(pool))
      fs.foreach(Await.ready(_, Duration.Inf))
      fs.flatMap(_.value).collectFirst { case scala.util.Failure(e) => e }
        .foreach(throw _)
    } finally pool.shutdown()
  }

  /** Quantizer-only base for contention probes: publish coarse+codebooks
    * (exactly what [[appendIncrement]] needs to encode arrivals) and
    * leave the coded table EMPTY, so every row an A/B probe lands is a
    * genuinely new row — a full-[[persist]] base made both arms append
    * duplicates of the standing index (r16 advisor finding), which kept
    * the RELATIVE comparison honest but made "rows landed" misleading. */
  private[graft] def persistQuantizer(spark: SparkSession, dir: String,
      root: String): Unit = {
    import spark.implicits._
    val coarse = SimilarityQueries.trainedCentroids(spark, dir, "full", 10, 3)
      .toDF("cell", "centroid")
    val books = SimilarityQueries.pqCodebooks(spark, dir).zipWithIndex
      .flatMap { case (cb, s) => cb.map { case (c, v) => (s, c, v) } }
      .toDF("s", "cell", "centroid")
    table(spark, root, "coarse", coarseSchema).publish(coarse)
    table(spark, root, "codebooks", codebookSchema).publish(books)
  }

  /** Reopen the quantizer halves from storage (k×dim driver-side, the
    * serve shape) — usable from any session with no training state. */
  private[operators] def openQuantizer(spark: SparkSession, root: String)
      : (Seq[(Int, Seq[Double])], IndexedSeq[Seq[(Int, Seq[Double])]]) = {
    import spark.implicits._
    val coarse = table(spark, root, "coarse", coarseSchema).read()
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    val books = table(spark, root, "codebooks", codebookSchema).read()
      .as[(Int, Int, Seq[Double])].collect()
    val m = books.map(_._1).max + 1
    val cents = (0 until m).map(s =>
      books.filter(_._1 == s).map(r => (r._2, r._3)).toSeq.sortBy(_._1))
    (coarse, cents)
  }

  /** The persisted band index, distributed (x11/st14's static probe side). */
  def openBands(spark: SparkSession, root: String): DataFrame =
    table(spark, root, "bands", bandSchema).read()

  /** The persisted coded table, distributed. */
  def openCoded(spark: SparkSession, root: String): DataFrame =
    table(spark, root, "coded", codedSchema).read()

  // ----------------------------------------------------- deletes (F1, vectors)

  /** The DELETE verb on the vector side (the engine's F1 applied to the
    * index lifecycle): deletions land as TOMBSTONES — an O(deleted)
    * append to a side table, never a touch of the corpus-sized coded
    * body. Serving is tombstone-aware ([[servedStream]] anti-joins them
    * INSIDE the candidate path), so a delete is visible at the very next
    * serve; [[compactDeletes]] is the deferred physical rewrite. */
  def deleteIds(spark: SparkSession, root: String, ids: DataFrame): Unit =
    // retried like every other public mutation verb: two deleters racing
    // the same version surface a CommitConflictException from append,
    // and a blind append re-run against the fresh snapshot is always
    // lossless — found by the r15 CasLiveness probe (N=2 writers died
    // here on their first contended commit; the r14 race drill never
    // saw it because its deleter was a single thread)
    retryConflicts("deleteIds tombstone append") {
      table(spark, root, "tombstones", tombSchema)
        .append(ids.select(col("neighbor_id").cast("long").as("neighbor_id")))
    }

  /** The live tombstone set (empty-with-schema before any delete). */
  def openTombstones(spark: SparkSession, root: String): DataFrame =
    table(spark, root, "tombstones", tombSchema).read()

  /** Replace the coded body wholesale (spec scaffolding for the rebuilt-
    * index identity; materializes first in case `df` reads this table). */
  private[operators] def republishCoded(spark: SparkSession, root: String,
      df: DataFrame): Unit =
    table(spark, root, "coded", codedSchema).publish(df.localCheckpoint())

  /** Physically apply accumulated tombstones: republish the coded table
    * without the deleted rows, then subtract EXACTLY the applied set from
    * the tombstone table — both CAS-retried version flips
    * ([[VersionedTable.rewrite]]: claim pinned to the version read;
    * conflict → re-read and retry), so a concurrent
    * reader serves either the (tombstone-masked) old version or the
    * compacted new one, identical answers by construction (the spec
    * asserts the identity), and concurrent deleteIds/appendIncrement
    * commits landing mid-compaction are never lost. At 100 TB
    * the coded table is partitioned by cell and this rewrite touches only
    * the cells holding tombstoned rows; the VersionedTable layout here
    * republishes the body in one commit — same contract, single-segment
    * granularity. Serving never waits for compaction: run it when the
    * tombstone mask's anti-join cost (a broadcast of the deleted-id set)
    * outgrows the rewrite amortization. */
  def compactDeletes(spark: SparkSession, root: String): Unit = {
    val codedT = table(spark, root, "coded", codedSchema)
    val tombsT = table(spark, root, "tombstones", tombSchema)
    // Pin the tombstone set this compaction APPLIES: both writebacks
    // below must see this exact set, not the live table. The pin itself
    // races concurrent deleteIds folds (asConflict, retried like a CAS).
    val applied = retryConflicts("compactDeletes tombstone pin") {
      tombsT.asConflict("tombstone pin")(tombsT.read().localCheckpoint())
    }
    try {
      // Writeback 1 — the coded body without the applied victims. CAS'd
      // against concurrent appendIncrement commits: an unconditional
      // publish re-reads the version at claim time with keepSegs = Nil,
      // so an increment landing mid-compaction would be silently dropped.
      codedT.rewrite("coded compaction") { coded =>
        coded.join(applied, Seq("neighbor_id"), "left_anti") }
      // Writeback 2 — clear ONLY the applied set. Publishing an empty
      // table here was the r12 lost-delete finding: a deleteIds commit
      // landing between the snapshot and the clear would be erased,
      // resurrecting a deleted vector (a lost right-to-erasure delete).
      // Instead publish the anti-join of the CURRENT tombstones against
      // the applied set, CAS'd on the exact version diffed — a concurrent
      // delete that wins the claim re-enters the loop with its ids in the
      // residual.
      tombsT.rewrite("tombstone clear") { cur =>
        cur.join(applied, Seq("neighbor_id"), "left_anti") }
    } finally {
      try applied.unpersist() catch { case _: Throwable => () }
    }
  }

  /** Segment count of the coded table — the append-cost witness the
    * lifecycle spec asserts (base publish + one O(new) append = 2). */
  private[operators] def codedSegmentCount(spark: SparkSession, root: String): Int =
    table(spark, root, "coded", codedSchema).segmentCount

  /** Fold the coded table's commit chain into one segment (the
    * maintenance step after many increments — VersionedTable.compact's
    * atomic rewrite). Serving is manifest-driven, so compaction cannot
    * change an answer; the lifecycle spec asserts exactly that. */
  private[operators] def compactCoded(spark: SparkSession, root: String): Unit =
    table(spark, root, "coded", codedSchema).compact()

  /** v12's exact read path served ENTIRELY from the persisted index: the
    * quantizer halves load driver-side, the coded table streams from its
    * versioned segments, and only the probe queries' raw vectors touch
    * the embeddings table (the query vector always arrives raw at serve
    * time). No Lloyd loop, no corpus encode — reopening costs O(index
    * read), which is the entire point of persisting. */
  def serveTopK(spark: SparkSession, dir: String, root: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("s").desc, col("neighbor_id"))
    servedStream(spark, dir, root)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("s"), 6).as("adc_sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Hard ceiling on [[servedStream]]'s driver-side probe collect: the
    * probe set (id, cell, raw vector) is the ONE driver-resident piece of
    * the serve path, so its size must be bounded by contract, not by an
    * inline literal a refactor could silently widen (the r12 advisor
    * finding). 1024 probes × a few-KB vector ≈ single-digit MB — far
    * under any driver heap; a batch-serve wanting more probes should
    * carve them into capped waves. */
  private[operators] val MaxProbeVectors = 1024

  /** The candidate stream from the persisted index (what [[serveTopK]]
    * ranks) — exposed so the TWO-STAGE read path can also run from
    * storage: [[serveRerank]] feeds it into the shared exact re-rank.
    * `probeLimit` (the v12-shape default: stored probes `vec_id < 10`)
    * bounds the probe collect BOTH ways: validated against
    * [[MaxProbeVectors]] and enforced with a plan-level limit, so the
    * collect stays O(probeLimit) even if the id predicate were wrong. */
  private[operators] def servedStream(spark: SparkSession, dir: String,
      root: String, nprobe: Int = 1, probeLimit: Int = 10): DataFrame = {
    import spark.implicits._
    require(probeLimit > 0 && probeLimit <= MaxProbeVectors,
      s"probeLimit must be in [1, $MaxProbeVectors], got $probeLimit — " +
        "the probe set is collected to the driver")
    val (coarse, cents) = openQuantizer(spark, root)
    // Tombstones mask INSIDE the candidate path — the anti-join lands on
    // the coded table before any scoring or ranking, so a deleted vector
    // can never occupy a shortlist slot that post-filtering would then
    // leave empty (the top-k stays a true top-k over live vectors). The
    // tombstone table is empty-with-schema on an index that never saw a
    // delete: the anti-join broadcasts zero rows and the serve plan is
    // v19's unchanged.
    //
    // ORDERING MATTERS under a concurrent compactDeletes: the two tables'
    // manifests resolve at read() time, not action time, and compaction
    // writes coded-without-victims FIRST, then clears the tombstones. Of
    // the four (coded, tombstones) version pairings a non-atomic two-table
    // read can observe, the only ILLEGAL one is coded-old (victims still
    // present) + tombstones-new (already cleared) — a deleted vector would
    // serve. Resolving TOMBSTONES BEFORE CODED makes that pairing
    // unobservable: a tombstone set missing an applied victim implies the
    // coded table resolved afterwards no longer holds it (and nothing
    // re-adds a deleted id). The race drill in AnnIndexStoreSpec hammers
    // exactly this window.
    val tombstones = openTombstones(spark, root)
    val coded = table(spark, root, "coded", codedSchema).read()
      .join(tombstones, Seq("neighbor_id"), "left_anti")
    val queries = Tables.t(spark, dir, "embeddings")
      .filter(col("vec_id") < probeLimit)
      .join(coded.select(col("neighbor_id").as("vec_id"), col("cell")), "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"))
      .limit(probeLimit)
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1).toSeq
    // An empty probe set is a LEGAL index state, not an error: every
    // probe id can be deleted (the rc liveness probe hit exactly this),
    // or the id predicate can simply miss a sparse corpus. ivfAdcServe
    // would build explode(array()) — a NullType literal whose "u.query_id"
    // extraction dies in the analyzer with an unrelated-looking
    // INVALID_EXTRACT_BASE_FIELD_TYPE. Return the empty candidate stream
    // with the serve schema instead; serveTopK/serveRerank rank it to an
    // empty (and correct) answer.
    if (queries.isEmpty) Seq.empty[(Long, Long, Double)]
      .toDF("query_id", "neighbor_id", "s")
    else SimilarityQueries.ivfAdcServe(coarse, cents, coded, queries, nprobe)
  }

  /** Materialize a serve UNDER CONCURRENT WRITERS — the read-side half of
    * the multi-writer contract (r17). [[serveTopK]] hands back a lazy plan
    * whose coded-segment paths were resolved at call time; the commit
    * protocol's one-version grace window keeps those files alive across a
    * SINGLE concurrent version flip, but two compactions landing before
    * the caller's action retire them and the action dies with a raw
    * FileNotFoundException — a READ failing because maintenance ran.
    * This wrapper folds that race into the same clean conflict the write
    * side uses (asConflict → read_conflict counter) and re-enters with a
    * fresh resolve, so a serve under any amount of concurrent compaction
    * either returns a legal answer or surfaces the bounded-retry
    * diagnostic. At 100 TB the equivalent knob is snapshot retention
    * (Delta/Iceberg hold N days of manifests so readers never lag out);
    * with a one-version grace window the retry IS the retention policy;
    * BASELINE.md's r17 section prices what it costs. */
  def serveTopKPinned(spark: SparkSession, dir: String, root: String)
      : Array[org.apache.spark.sql.Row] =
    retryConflicts("serve under concurrent writers") {
      table(spark, root, "coded", codedSchema).asConflict("serve materialize") {
        serveTopK(spark, dir, root).collect()
      }
    }

  /** v16's two-stage serve (quantized shortlist → exact raw-vector
    * re-rank) ENTIRELY from the persisted index — the production read
    * path reopened cold. Spec-proven identical to the session-memo v16. */
  def serveRerank(spark: SparkSession, dir: String, root: String,
      nprobe: Int = 1, shortlistK: Int = 20): DataFrame =
    SimilarityQueries.rerankOver(spark, dir,
      servedStream(spark, dir, root, nprobe), shortlistK)

  /** Persist an index TRAINED ON THE STANDING CORPUS ONLY (the
    * `vec_id % 7 ≠ 0` remainder — v8/x11's old slice): quantizer halves
    * from the old-slice Lloyd/PQ training, coded table = the old vectors.
    * This is the base state of the index-maintenance lifecycle v21
    * exercises; [[appendIncrement]] is the arrival path. */
  def persistOldTrained(spark: SparkSession, dir: String, root: String): Unit = {
    import spark.implicits._
    // r18: same guide §2.6 overlap as [[persist]] — the old-slice Lloyd
    // and PQ chains are independent job chains; the coded encode needs
    // both. Distinct table dirs, memo-serialized builds (see persist).
    runChains(2) { implicit ec =>
      val fCoarse = Future {
        val coarse = SimilarityQueries.trainedCentroids(spark, dir, "old", 10, 3)
        table(spark, root, "coarse", coarseSchema)
          .publish(coarse.toDF("cell", "centroid"))
        coarse
      }
      val fBooks = Future {
        val cents = SimilarityQueries.pqCodebooks(spark, dir, "old")
        table(spark, root, "codebooks", codebookSchema).publish(
          cents.zipWithIndex
            .flatMap { case (cb, s) => cb.map { case (c, v) => (s, c, v) } }
            .toDF("s", "cell", "centroid"))
        cents
      }
      val fCoded = for (coarse <- fCoarse; cents <- fBooks) yield {
        val old = Tables.t(spark, dir, "embeddings").filter(col("vec_id") % 7 =!= 0)
        table(spark, root, "coded", codedSchema)
          .publish(SimilarityQueries.encodeWith(old, coarse, cents))
      }
      Seq(fCoarse, fBooks, fCoded)
    }
  }

  /** The index-maintenance ARRIVAL path: encode `pred`'s vectors with the
    * quantizer REOPENED FROM STORAGE (no training state anywhere — the
    * production constraint: the ingest job that encodes increments is not
    * the job that trained the index) and APPEND them to the coded table —
    * an O(increment) VersionedTable commit, never a table rewrite. */
  def appendIncrement(spark: SparkSession, dir: String, root: String,
      pred: org.apache.spark.sql.Column): Unit = {
    val (coarse, cents) = openQuantizer(spark, root)
    val nw = Tables.t(spark, dir, "embeddings").filter(pred)
    // same multi-writer retry as deleteIds: the encode is deterministic
    // and the append blind, so re-running against the fresh snapshot
    // after a lost claim is lossless (r15 CasLiveness finding)
    retryConflicts("appendIncrement coded append") {
      table(spark, root, "coded", codedSchema)
        .append(SimilarityQueries.encodeWith(nw, coarse, cents))
    }
  }

  /** Staging root memo for the v19/v21/v23/v24 driver rows: one persist
    * per (session, corpus, variant), after which every serve is
    * storage-only. A clear deletes the superseded roots at once: the
    * bench's warm→timed cycle re-persists, and a corpus-sized coded table
    * held twice doubles the suite's disk footprint at sf1. */
  private[graft] val memo = new graft.BenchMemos.CountedMemo("AnnIndexStore")

  /** v21: the full index-maintenance lifecycle as a driver query —
    * train-on-standing-corpus → persist → the increment arrives and is
    * encoded FROM the persisted codebooks → appended (an O(new) commit)
    * → served. The serve ranks over old+new coded rows under the
    * old-trained quantizer (v8's no-retrain semantic carried through the
    * storage layer); the oracle re-derives the old-trained Lloyd + PQ
    * chains and scores the full corpus against them. Scale: the append
    * writes only the increment's (id, cell, 4 codes) rows; nothing else
    * in the index is touched — which is the entire point of the
    * manifest-based table under it. */
  def v21IndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val root = memo.withScratch(spark, dir, "graft-annidx-incr", tag = "incr") { d =>
      persistOldTrained(spark, dir, d.toString)
      appendIncrement(spark, dir, d.toString, col("vec_id") % 7 === 0)
      d.toString
    }
    serveTopK(spark, dir, root)
  }

  /** v23: the index-DELETE lifecycle as a driver query — persist the
    * full-trained index, delete a deterministic corpus slice
    * (`vec_id % 11 = 3`) as tombstones (an O(deleted) commit), then
    * serve. Deleted vectors vanish from BOTH sides of the candidate
    * join: never a neighbor, and a deleted stored query loses its coded
    * row (production queries arrive raw; stored-probe rows are index
    * rows like any other). The oracle is v12's chain with the same
    * predicate excluding deleted ids from neighbors and the stored
    * probe set — a hash match proves tombstone-masked serve ≡ the
    * answer an index built WITHOUT those vectors gives (the spec proves
    * the same identity against an actually-rebuilt index, plus the
    * compaction no-op). Scale: the delete writes |deleted| longs; the
    * serve adds one broadcast anti-join on an id set — the index body
    * is never rewritten until [[compactDeletes]] chooses to. */
  def v23IndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = memo.withScratch(spark, dir, "graft-annidx-del", tag = "del") { d =>
      persist(spark, dir, d.toString)
      deleteIds(spark, dir, d.toString)
      d.toString
    }
    serveTopK(spark, dir, root)
  }

  /** The v23 delete set, in one place for the query, the oracle predicate
    * and the spec: every 11th vector starting at 3. */
  private[graft] val V23DeleteSql = "vec_id % 11 = 3"

  private def deleteIds(spark: SparkSession, dir: String, root: String): Unit =
    deleteIds(spark, root, Tables.t(spark, dir, "embeddings")
      .filter(expr(V23DeleteSql)).select(col("vec_id").as("neighbor_id")))

  /** v24: TIME-TRAVEL over the index lifecycle — the manifest IS the
    * snapshot, so each retained version of the coded table reads back as
    * the exact row set its commit published (segments are immutable;
    * newer commits only add manifests). The row replays v21's lifecycle
    * (old-trained persist → increment append) and reads the coded table
    * AS OF each retained version: version 0 must hold ONLY the standing
    * slice, version 1 the full corpus — per-version totals and slice
    * splits the oracle re-derives from the embeddings table, so a
    * time-travel read that leaked post-append rows into version 0 (or
    * lost the increment from version 1) breaks the hash. Scale: an AS-OF
    * read costs exactly a current read (resolve one manifest, scan its
    * segments); the retention horizon is the commit loop's grace-window
    * constant, widened by policy on a production lake. */
  def v24TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = memo.withScratch(spark, dir, "graft-annidx-tt", tag = "tt") { d =>
      persistOldTrained(spark, dir, d.toString)
      appendIncrement(spark, dir, d.toString, col("vec_id") % 7 === 0)
      d.toString
    }
    val codedT = table(spark, root, "coded", codedSchema)
    codedT.retainedVersions.map { v =>
      codedT.readVersion(v)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("neighbor_id") % 7 =!= 0, 1L).otherwise(0L)).as("n_standing"),
          sum(when(col("neighbor_id") % 7 === 0, 1L).otherwise(0L)).as("n_increment"))
        .select(lit(v).as("version"), col("n_rows"), col("n_standing"),
          col("n_increment"))
    }.reduce(_ unionAll _).orderBy("version")
  }

  /** v19: the persisted-index serve as a driver query — persist on first
    * touch (memoized), then answer v12's query from STORAGE. The oracle
    * is v12's SQL verbatim: a hash-match proves the whole
    * persist→reopen→serve cycle loses nothing. */
  def v19PersistedServe(spark: SparkSession, dir: String): DataFrame = {
    val root = memo.withScratch(spark, dir, "graft-annidx") { d =>
      persist(spark, dir, d.toString)
      d.toString
    }
    serveTopK(spark, dir, root)
  }
}
