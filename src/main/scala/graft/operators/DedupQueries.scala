package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/**
 * Training-data deduplication operators over the `documents` table —
 * the LLM-pipeline surface (BASELINE.json north_star).
 *
 * Scale design: every document row is self-contained, so signatures
 * (shingle-hash sets, MinHash, SimHash) are computed in ONE narrow pass —
 * a JIT'd flatMap per partition, zero shuffles until the (tiny) signature
 * rows hit the band-key join. At 100 TB the only wide exchanges are over
 * `(doc_id, hash)` / `(band, band_key)` longs, never over document text.
 * Shingles shuffle as xxhash64 longs (seed 42 — bit-identical to Spark's
 * `xxhash64` column function via catalyst XXH64): 8 bytes/row instead of
 * ~20-char strings, and the Jaccard equi-join compares longs, not strings.
 */
object DedupQueries {
  import Tables._

  /** Distinct 3-word-shingle xxhash64s of a document, SORTED ascending,
    * one tight loop (same truncating tail slices + distinct as the DuckDB
    * oracle's list comprehension; hashing preserves set identity, so
    * Jaccard values are unchanged barring 64-bit collisions). The sort
    * costs one primitive Arrays.sort per doc and buys the verification
    * stage its zero-allocation two-pointer intersect
    * ([[graft.functions.SortedIntersectSize]]) — every consumer is
    * order-independent (set semantics).
    */
  private[graft] def shingleHashes(text: String): Array[Long] = {
    val toks = text.split(' ')
    val n = math.max(toks.length - 2, 1)
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, n * 2))
    val out = new Array[Long](n)
    var m = 0
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      sb.append(toks(i))
      var j = i + 1
      val end = math.min(i + 3, toks.length)
      while (j < end) { sb.append(' '); sb.append(toks(j)); j += 1 }
      val b = sb.toString.getBytes(UTF_8)
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    val trimmed = if (m == n) out else java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(trimmed)
    trimmed
  }

  /** [[shingleHashes]] with the 60-bit-md5 hash (y4's `h60`): the first
    * 15 hex chars of md5, i.e. the top 8 digest bytes big-endian >>> 4 —
    * exactly SQL's `('0x' || substr(md5(g), 1, 15))::BIGINT`. Slower than
    * xxhash64, so it backs ONLY x5, where the hash BITS are the output
    * contract (simhash majorities) and oracle parity demands a
    * cross-engine hash; the shared memoized pass (x3/x4/x8/…) keeps
    * xxhash64 — their outputs are set-identity-based and hash-agnostic. */
  private[graft] def shingleHashesMd5(text: String): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = text.split(' ')
    val n = math.max(toks.length - 2, 1)
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, n * 2))
    val out = new Array[Long](n)
    var m = 0
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      sb.append(toks(i))
      var j = i + 1
      val end = math.min(i + 3, toks.length)
      while (j < end) { sb.append(' '); sb.append(toks(j)); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes(UTF_8))
      val h = java.nio.ByteBuffer.wrap(d).getLong >>> 4
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }

  /** Session-scoped memo of the expensive shared stages — the per-doc
    * shingle-set arrays and the verified near-dup pair set — tagged by
    * stage. A real dedupe sweep computes pairs AND clusters in one session
    * (the bench does too); without sharing, x7 re-ran x3's whole candidate
    * build — the costliest narrow stage in the repo — doubling the corpus
    * pass. Entries are localCheckpointed (an un-materialized DataFrame
    * would re-execute per action, memoizing only the plan) and tiny
    * relative to the corpus (arrays of longs / verified pairs). Correctness
    * assumes a corpus dir is immutable within a session — the testdata
    * contract, and the safe default for an immutable-input batch pipeline. */
  private[graft] val memo = new graft.BenchMemos.CountedMemo("DedupQueries")

  /** MinHash family parameters (x4/x11's banding contract): k signatures,
    * 4 bands × 4 rows, affine over the Mersenne prime 2^61−1. m1 + 15·m2
    * < 2^63, so the fold never overflows on either engine. */
  private val MinhashK = 16
  private val MinhashRowsPerBand = 4
  private val MinhashP = 2305843009213693951L // 2^61 - 1

  /** The ONE tokenize+shingle pass over the corpus, memoized: per doc the
    * sorted xxhash64 shingle set `hs` (the set-identity/verification lane
    * — x3/x7/x8/x12 and every exact-Jaccard rerank) AND the 16 md5-affine
    * MinHash signatures `sigs` (the SQL-re-derivable banding lane — x4/
    * x11/z2/x15). Until r9 these were two separate memoized stages, each
    * re-reading documents and re-running split+shingle-string building —
    * the costliest narrow stage in the repo, paid twice per sweep (the r8
    * ADVICE finding). One pass computes both hash lanes per shingle
    * string: the tokenize/StringBuilder/UTF-8 work is shared, and only 16
    * extra longs per doc ride the checkpoint (NOT the per-shingle md5
    * lanes — minimums fold inline, so the artifact stays node-sized).
    * Signature semantics are unchanged: minimums fold over ALL shingle
    * occurrences (min over a multiset equals min over its set), while
    * `hs` dedupes — exactly the two prior stages' behaviors. */
  /** The per-doc computation of the one pass: (sorted xxhash64 shingle
    * set, 16 md5-affine minhash signatures). Factored out so the
    * STREAMING ingest-dedupe (st14) runs the bit-identical arithmetic
    * per micro-batch row that the batch memo runs per corpus row. */
  private[graft] def shingleStats(text: String): (Array[Long], Array[Long]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = text.split(' ')
    val n = math.max(toks.length - 2, 1)
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, n * 2))
    val out = new Array[Long](n)
    var m = 0
    val sigs = Array.fill(MinhashK)(Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      sb.append(toks(i))
      var j = i + 1
      val end = math.min(i + 3, toks.length)
      while (j < end) { sb.append(' '); sb.append(toks(j)); j += 1 }
      val b = sb.toString.getBytes(UTF_8)
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      if (seen.add(h)) { out(m) = h; m += 1 }
      md.reset()
      val d = md.digest(b)
      val bb = java.nio.ByteBuffer.wrap(d)
      val m1 = bb.getLong(0) >>> 4 // SQL: ('0x'||substr(md5(g),1,15))::BIGINT
      val m2 = bb.getLong(8) >>> 6 // SQL: ('0x'||substr(md5(g),17,15))::BIGINT >> 2
      var hh = 0
      while (hh < MinhashK) {
        val v = (m1 + hh * m2) % MinhashP
        if (v < sigs(hh)) sigs(hh) = v
        hh += 1
      }
      i += 1
    }
    val trimmed = if (m == n) out else java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(trimmed)
    (trimmed, sigs)
  }

  private def docShingleStats(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "docShingleStats") {
      import spark.implicits._
      // fan out before the tokenize+md5 map — the costliest narrow stage
      // in the repo ran on ONE task at bench SFs (r17, Tables.fanOutSmallScan)
      Tables.fanOutSmallScan(
          t(spark, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
        .as[(Long, String)]
        .map { case (id, text) =>
          val (hs, sigs) = shingleStats(text)
          (id, hs, hs.length, sigs)
        }.toDF("doc_id", "hs", "n", "sigs").localCheckpoint()
    }

  /** One row per doc: `(doc_id, hs ARRAY<LONG>, n)` — the verification-side
    * shape, shared by x3/x4/x7: a projection of [[docShingleStats]] (the
    * checkpointed parent holds the bytes; this plan is column pruning).
    * Joining candidate pairs to these arrays and intersecting with
    * `array_intersect` is O(|cands| * shingles), versus exploding every
    * candidate into its shingle rows and re-aggregating (which was 50x the
    * rows and dominated the pair-verification cost). */
  private def docSets(spark: SparkSession, dir: String): DataFrame =
    docShingleStats(spark, dir).select("doc_id", "hs", "n")

  /** Exact-Jaccard verification of candidate `(doc_a, doc_b)` pairs against
    * per-doc shingle-set arrays; emits pairs at or above `threshold`.
    * Intersection via the codegen'd two-pointer merge over the sorted
    * arrays — `size(array_intersect(...))` builds a boxed hash set per row
    * and dominated the sweep once candidates reached ~10^5. */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    verifyJaccardUnordered(cands, sets, threshold).orderBy("doc_a", "doc_b")

  /** [[verifyJaccard]] without the output sort — for consumers that
    * aggregate or window the verified pairs next (x11's best-match window
    * re-partitions by doc_a anyway): the plan audit showed the trailing
    * orderBy surviving as an extra range exchange + sort on the pair set. */
  private def verifyJaccardUnordered(cands: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"), col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"), col("n").as("nb")), "doc_b")
      .withColumn("inter",
        graft.functions.SortedIntersectSize.sortedIntersectSize(col("ha"), col("hb")))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Exact dedupe summary: total vs content-distinct docs by sha256(text)
    * (the classic hash-groupBy exact dedupe at corpus scale). */
  def x1ExactDupStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .agg(
        count(lit(1)).as("total_docs"),
        countDistinct(sha2(col("text").cast("binary"), 256)).as("distinct_docs"))
      .withColumn("duplicate_docs", col("total_docs") - col("distinct_docs"))

  /** Normalized exact dedupe: case-folded, whitespace-collapsed content key.
    * Finds near-dups that differ only in formatting. */
  def x2NormalizedDup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary"))
        .as("norm_key"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
      .orderBy("norm_key")

  /** Exact n-gram Jaccard near-dup pairs: distinct 3-word shingle sets,
    * candidate pairs from PREFIX FILTERING (SSJoin/PPJoin principle: for
    * J >= t, two sets must share a shingle inside each one's first
    * `n - ceil(t*n) + 1` shingles under a global rarest-first order, given
    * the length filter `min >= t*max`), then exact inter/union verification.
    * Exact — no false negatives — but blocks on ~half the rows and drops
    * frequent shingles out of prefixes, so the candidate join stays small.
    * The frequency table holds repeated shingles only: small and
    * broadcastable at any corpus size; absent shingles order as rare.
    * x4 MinHash-LSH is the approximate alternative with per-doc signatures.
    */
  def x3NgramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "x3pairs") {
      x3Build(spark, dir).localCheckpoint() // verified pairs: tiny; shared with x7
    }

  /** Exposed to [[graft.tools.ExplainDump]]: the memoized query returns a
    * checkpointed-RDD scan, so only the pre-checkpoint build shows the
    * real candidate/verify plan. */
  private[graft] def x3Build(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val threshold = 0.5
    // per-doc shingle-set arrays: verification side + frequency source
    val sets = docSets(spark, dir)
    // global heavy-hitter frequencies -> broadcast rarest-first order.
    // f >= 2 because singleton shingles cannot produce a join collision:
    // ordering every repeated shingle after them packs prefixes with
    // collision-free singletons. The table is HARD-CAPPED to the top
    // maxFreqTable entries so driver/broadcast memory stays bounded on any
    // corpus — ordering correctness needs only consistency, and pruning
    // quality degrades gracefully to "most frequent shingles leave prefixes
    // first", exactly what matters.
    val maxFreqTable = 1 << 20
    val freqRows = sets.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("f"))
      .filter(col("f") >= 2)
      .orderBy(col("f").desc, col("h"))
      .limit(maxFreqTable)
      .as[(Long, Long)].collect()
    // two key-sorted primitive arrays + binary search instead of a boxed
    // Map[Long, Long]: at the 2^20 cap that is 16 MB flat per executor
    // instead of ~10x that in boxed map entries
    val byKey = freqRows.sortBy(_._1)
    val fKeys = byKey.map(_._1)
    val fFreqs = byKey.map(_._2)
    val bcFreq = spark.sparkContext.broadcast((fKeys, fFreqs))
    // per-doc prefix rows (token + its rank in the global order) derived
    // from the cached arrays (narrow pass)
    val prefix = sets.select(col("doc_id"), col("hs"), col("n")).as[(Long, Array[Long], Int)]
      .flatMap { case (id, hs, n) =>
        val (ks, fs) = bcFreq.value
        def freqOf(h: Long): Long = {
          val i = java.util.Arrays.binarySearch(ks, h)
          if (i >= 0) fs(i) else 1L
        }
        val p = n - math.ceil(threshold * n).toInt + 1
        val sorted = hs.sortBy(h => (freqOf(h), h))
        sorted.iterator.take(p).zipWithIndex.map { case (h, i) => (id, h, n, i) }
      }.toDF("doc_id", "h", "n", "pos")
      // no checkpoint: deriving the prefix from the cached arrays is a
      // cheap narrow map, cheaper to recompute per join side than to
      // materialize (one fewer job + write barrier)
    // PPJoin positional filter: a match at ranks (i, j) bounds the overlap
    // by 1 + min(na-i-1, nb-j-1); J >= t needs inter >= t/(1+t)*(na+nb).
    // Exact — prunes pairs whose BEST-case overlap cannot reach threshold.
    val interLb = ceil(lit(threshold / (1 + threshold)) * (col("a.n") + col("b.n")))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * threshold <= least(col("a.n"), col("b.n")) &&
          lit(1) + least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1) >= interLb)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cands, sets, threshold)
  }

  /** MinHash + LSH banding near-dup candidates — the sub-quadratic scale
    * path: k=16 signatures per doc, 4 bands x 4 rows; docs colliding in
    * any band are candidates, then exact-Jaccard verified. Signatures are
    * computed per-row inside the scan (no shuffle); at 100 TB only the
    * per-doc band-key join shuffles.
    *
    * ROUND-8 ORACLE MIGRATION (found by the full-surface sf0.1 gate): the
    * original xxhash64 signatures were not SQL-computable, so the x4/x11
    * oracles compared against the EXACT all-pairs answer — which only
    * matches while banding recall happens to be total. At sf0.1 a J=0.8
    * pair (docs 1568/2466) missed all 4 bands (P(miss) ≈ (1−J⁴)⁴ ≈ 12% —
    * expected LSH behavior, not a bug) and the gate went red. The hash
    * family is now the md5-affine scheme (x5/x6/y4's r7 pattern): per
    * shingle ONE md5 yields two lanes m1 (60-bit, hex chars 1–15) and m2
    * (58-bit, chars 17–31 >> 2), and signature j is
    * min over shingles of (m1 + j·m2) mod (2^61−1) — the classic
    * one-strong-hash affine minhash family, in PURE nonneg long
    * arithmetic that cannot overflow on either engine (m1 + 15·m2 <
    * 2^63). Band keys are the comma-joined 4 signatures, which
    * `string_agg(... ORDER BY j)` rebuilds verbatim in SQL, so the
    * oracles now re-derive the SAME candidate set at every scale and the
    * LSH recall boundary is inside the contract, not outside it. */
  /** The MinHash band rows `(doc_id, band, band_key)` — a cheap expression
    * projection over [[docShingleStats]]' signature column (the r9 shared-
    * scan refactor: the tokenize+md5 work lives in the ONE memoized corpus
    * pass; this just comma-joins each band's 4 signatures — `Long.toString`
    * on both paths, which `string_agg(... ORDER BY j)` rebuilds verbatim
    * in SQL). Not separately checkpointed: the parent holds the bytes, and
    * x4's self-join reuses the one band-key exchange (same keys both
    * sides). x4's self-join and x11's incremental new-vs-old join consume
    * the same signature pass, so a sweep running both pays it once. */
  private[operators] def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandRowsOf(docShingleStats(spark, dir).select(col("doc_id"), col("sigs")))

  /** `(doc_id, sigs)` → `(doc_id, band, band_key)` — the band-key
    * expression projection, shared with the streaming ingest-dedupe
    * (st14), whose per-batch band rows must be byte-identical to the
    * static index's. `Long` renders via cast-to-string on both paths. */
  private[graft] def bandRowsOf(df: DataFrame): DataFrame = {
    val numBands = MinhashK / MinhashRowsPerBand
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until MinhashRowsPerBand).map(r =>
          col("sigs")(b * MinhashRowsPerBand + r).cast("string")): _*).as("band_key"))
    }
    df.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** The STATIC sides of the ingest-time dedupe (st14): the existing
    * corpus' band index and shingle sets (the doc_id % 7 ≠ 0 remainder,
    * x11's old slice), both projections of the session memo — a stream
    * joins these per micro-batch without ever rebuilding them. */
  private[graft] def oldBandIndex(spark: SparkSession, dir: String): DataFrame =
    minhashBands(spark, dir).filter(col("doc_id") % 7 =!= 0)

  private[graft] def oldShingleSets(spark: SparkSession, dir: String): DataFrame =
    docSets(spark, dir).filter(col("doc_id") % 7 =!= 0)

  def x4MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sets = docSets(spark, dir)
    val banded = minhashBands(spark, dir)
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // exact-Jaccard verification against the same cached shingle-set arrays
    verifyJaccard(cands, sets, 0.5)
  }

  /** Embedding-cosine near-dup: a 64-dim feature-hashed embedding per doc
    * (hashing trick: each shingle hash lands in dimension h mod 64 with a
    * hash-derived sign; kept as exact INTEGER counts — cosine normalizes
    * at rerank), LSH-bucketed by 32 hyperplane sign bits (2 x 16-bit
    * bands), exact cosine >= 0.9 verification. The corpus' embeddings table holds random
    * vectors with no near-dups, so the operator derives its vectors from
    * document content — where duplicate clusters actually exist — while
    * exercising the exact shape an embedding-dedupe pipeline runs: one
    * narrow pass for vectors+buckets, band join, cosine rerank.
    *
    * 16-bit bands (65k buckets each), NOT 8-bit: the round-7 sf1 (10x)
    * scale run measured the earlier 2 x 8-bit form at 22x wall time for
    * 10x docs — 256 fixed buckets per band make band occupancy, and so
    * the candidate join, grow QUADRATICALLY with the corpus (the same
    * collapse x5's scaladoc documents for simhash blocks). With 65k
    * buckets the join is back to ~linear at this scale; at true corpus
    * scale bucket bits keep growing with log2(N) (band keys are already
    * longs). Recall: identical/near-identical docs (cosine ~= 1, the
    * dedupe target) still collide with near-certainty — exact copies have
    * IDENTICAL sign vectors in every band (spec-pinned); mid-similarity
    * pairs (cosine ~0.9) trade some recall for the quadratic fix, the
    * standard LSH precision/recall dial. */
  /** x6's banding stage, memoized so the bucket-profile query (x15) reads
    * the SAME structure the candidate join uses — one row per (doc, band)
    * with the doc's integer count vector, its squared norm, and the
    * 16-bit hyperplane band key.
    *
    * Round-7 oracle upgrade: INTEGER count vectors (projection signs are
    * scale-invariant, so skipping the old float L2-normalize changes no
    * bucket) + md5 shingle hashes and md5-derived planes — every vector
    * component, sign bit, band key and rerank cosine is re-derived in
    * SQL. Cosine normalizes at rerank instead: intdot / (√nn_a · √nn_b),
    * exact integer dots and correctly-rounded IEEE sqrt on both engines.
    * The md5 pass is x6-local (x5's rationale); the xxhash64 memo still
    * backs the set-identity consumers. */
  private[operators] def hyperplaneBanded(spark: SparkSession, dir: String): DataFrame =
   memo(spark, dir, "hyperplaneBanded") {
    import spark.implicits._
    val dim = 64
    val numPlanes = 32
    Tables.fanOutSmallScan(
        t(spark, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions { it =>
        val planes = Array.tabulate(numPlanes, dim)((p, i) =>
          SimilarityQueries.planeWeight(p, i))
        it.flatMap { case (id, text) =>
          val hs = shingleHashesMd5(text)
          val vec = new Array[Long](dim)
          var k = 0
          while (k < hs.length) {
            val h = hs(k)
            val d = (h % dim).toInt // h is 60-bit non-negative
            vec(d) += (if (((h >>> 17) & 1L) == 1L) 1L else -1L)
            k += 1
          }
          var nn = 0L
          var i = 0
          while (i < dim) { nn += vec(i) * vec(i); i += 1 }
          var sig = 0
          var p = 0
          while (p < numPlanes) {
            val pl = planes(p)
            var s = 0.0
            i = 0
            while (i < dim) { s += vec(i).toDouble * pl(i); i += 1 }
            if (s > 0) sig |= (1 << p)
            p += 1
          }
          Iterator((id, vec, nn, 0, sig & 0xffff), (id, vec, nn, 1, (sig >>> 16) & 0xffff))
        }
      }.toDF("doc_id", "vec", "nn", "band", "band_key")
      .filter(col("nn") > 0) // a fully-cancelled vector has no direction
      .localCheckpoint() // embedding pipeline runs once, not per join side
   }

  def x6EmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    val banded = hyperplaneBanded(spark, dir)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.vec").as("va"), col("b.vec").as("vb"),
        col("a.nn").as("nna"), col("b.nn").as("nnb"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("ca",
        aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y), lit(0L), (a, x) => a + x))
      .withColumn("cosine", round(col("ca").cast("double") /
        (sqrt(col("nna").cast("double")) * sqrt(col("nnb").cast("double"))), 4))
      .filter(col("cosine") >= 0.9)
      .select("doc_a", "doc_b", "cosine")
      .orderBy("doc_a", "doc_b")
  }

  /** x15: LSH bucket-occupancy profile — the OPERATIONAL tuning query an
    * LSH deployment runs before every candidate join: per band, the
    * histogram of bucket sizes and each size class's candidate-pair
    * contribution `n_buckets · C(size, 2)`. The sum of `cand_pairs` IS the
    * band join's row count, and the max bucket is the hot partition — the
    * numbers that decide whether bucket bits must grow before the join is
    * safe to run (x6's own scaladoc records the 22x blowup a fixed 8-bit
    * band caused at 10x corpus; THIS query is how that's caught from a
    * cheap profile instead of a blown-up join). Reads the memoized x6
    * banding, so profiling adds one narrow agg over (band, key) longs —
    * no text, no vectors, no join. Oracled by the same md5 re-derivation
    * as x6, extended with the two-level rollup. */
  def x15LshBucketProfile(spark: SparkSession, dir: String): DataFrame =
    hyperplaneBanded(spark, dir)
      .groupBy(col("band").cast("long").as("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy("band", "bucket_size")
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("cand_pairs",
        expr("n_buckets * bucket_size * (bucket_size - 1) DIV 2"))
      .orderBy("band", "bucket_size")

  /** Near-duplicate CLUSTERS: connected components over the exact-Jaccard
    * pair graph (x3), by min-label propagation with POINTER HALVING — every
    * doc converges to the smallest doc_id reachable from it, which becomes
    * the cluster id (the canonical keep-doc of a training-data dedupe
    * sweep). Each iteration is two edge/label-local joins + a min-agg over
    * the EDGE set only (pairs, never the corpus), with a localCheckpoint
    * truncating lineage like the v5 k-means loop. The halving step follows
    * each label's own label (`doc -> label -> label-of-label`), doubling
    * the propagated distance per pass, so convergence is O(log diameter)
    * iterations, not O(diameter) — a 10^6-long chain needs ~20 passes, the
    * same shape Hash-to-Min / large-star-small-star CC algorithms use
    * (Rastogi et al., "Finding Connected Components in Map-Reduce in
    * Logarithmic Rounds", ICDE'13). */
  def x7DupClusters(spark: SparkSession, dir: String): DataFrame =
    // the labels are memoized like the pair set: x10's keep-table consumes
    // them in the same sweep, and without sharing it would re-run the whole
    // propagation loop (finding from the round-6 review)
    memo(spark, dir, "x7Labels") { x7Propagate(spark, dir) }
      .select(col("doc").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  private def x7Propagate(spark: SparkSession, dir: String): DataFrame = {
    // the pair set arrives MATERIALIZED from the session memo — running
    // pairs then clusters costs ONE candidate build, and x7 alone costs
    // little more than its propagation loop
    val pairs = x3NgramJaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val und = pairs.union(pairs.select(col("doc_b"), col("doc_a"))).toDF("src", "dst")
      .localCheckpoint()
    var labels = und.select(col("src").as("doc")).distinct()
      .withColumn("cluster_id", col("doc")).localCheckpoint()
    var changed = 1L
    var iter = 0
    val maxIters = 64 // labels strictly decrease and halving doubles reach
    // per pass, so 64 covers any component diameter up to ~2^64; past the
    // cap the result would silently disagree with the transitive-closure
    // oracle — fail loudly instead (see the guard below the loop)
    while (changed > 0 && iter < maxIters) {
      val viaNeighbor = und.join(labels, und("dst") === labels("doc"))
        .select(col("src").as("doc"), col("cluster_id"))
      // materialized: `hop` appears THREE times in `next`'s plan (the union
      // arm and both sides of the halving self-join) — un-checkpointed, the
      // edge join + min-agg would re-execute per occurrence, tripling each
      // iteration's cost and eroding the O(log d) win halving buys
      val hop = labels.select(col("doc"), col("cluster_id")).union(viaNeighbor)
        .groupBy("doc").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint()
      // pointer halving: adopt the label's OWN label. Every label is a doc
      // present in `hop` (labels start as self and only ever move to other
      // docs' ids via min), so the inner self-join is total; composing
      // doc->label with label->label propagates 2^iter hops by pass `iter`.
      val viaLabel = hop.as("l").join(hop.as("p"), col("l.cluster_id") === col("p.doc"))
        .select(col("l.doc").as("doc"), col("p.cluster_id").as("cluster_id"))
      val next = hop.union(viaLabel)
        .groupBy("doc").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("cluster_id", "prev"), Seq("doc"))
        .filter(col("cluster_id") < col("prev")).count()
      labels = next
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"x7DupClusters did not converge in $maxIters iterations — a component has a longer diameter; raise the cap")
    labels // (doc, cluster_id), localCheckpointed by the loop's last pass
  }

  /** Benchmark DECONTAMINATION: which training documents leak n-grams into
    * the held-out eval slice (here: every 50th doc_id — a stand-in for an
    * external benchmark set)? Emits (train_id, eval_id, n_shared) for every
    * train/eval pair sharing >= 3 distinct 3-word shingles — the standard
    * n-gram-overlap contamination test run before training.
    *
    * Scale design: in a REAL decontamination run the eval side is a
    * bounded external benchmark set (thousands of docs against billions),
    * and Spark/AQE broadcasts it on its own; this stand-in slice is
    * doc_id %% 50 — 2% OF THE CORPUS, which grows with it — so the join
    * carries no broadcast hint: small eval corpora broadcast anyway, and a
    * corpus-proportional one falls back to a shuffled hash join instead of
    * OOMing the driver. The train side streams through the memoized
    * shingle pass (shared with x3/x4/x7 — a sweep tokenizes the corpus
    * once); only gram-matched (train_id, eval_id) long pairs reach the
    * aggregation exchange — no text, ever. */
  def x8Contamination(spark: SparkSession, dir: String): DataFrame = {
    val sets = docSets(spark, dir)
    val evalGrams = sets.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
    val trainGrams = sets.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), explode(col("hs")).as("h"))
    trainGrams.join(evalGrams, "h")
      // hs arrays are distinct per doc, so the match count IS the distinct
      // shared-gram count (hashing preserves set identity, as in x3)
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("train_id", "eval_id")
  }

  /** Bloom-prefiltered decontamination — x8's EXACT output through the
    * physical strategy a 100 TB run wants (the w1/w3 precedent: same
    * answer, different plan). The eval side of a decontamination join is a
    * bounded benchmark set; a Bloom filter over its distinct shingle
    * hashes (~1.2 MB per million grams at 1% fpp) is built distributed via
    * `DataFrameStatFunctions.bloomFilter` and broadcast, and the
    * corpus-side gram stream drops non-members MAP-SIDE — the shuffle for
    * the confirm join then carries only grams that might match, ~fpp of
    * the corpus instead of all of it. Bloom membership has NO false
    * negatives and the exact join eliminates the false positives, so the
    * output is bit-identical to x8 (spec-pinned; the oracle SQL is shared
    * verbatim). Spark's own runtime bloom-filter injection
    * (spark.sql.optimizer.runtime.bloomFilter.*) does this implicitly for
    * selective JOIN KEYS; building it explicitly also covers the
    * cross-run form, where the sketch is persisted beside the eval set
    * and reused by every training batch without rescanning the benchmark.
    * The membership probe is a boxed-Long UDF — fine for a prefilter that
    * only feeds an exchange; keeping it out of the post-shuffle hot path
    * preserves the aggregation's codegen. */
  def x12BloomDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val sets = docSets(spark, dir)
    val evalGrams = sets.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
      .localCheckpoint() // two consumers: the sketch build and the confirm join
    val bf = evalGrams.stat.bloomFilter("h", math.max(evalGrams.count(), 1L), 0.01)
    val bc = spark.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    sets.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), explode(col("hs")).as("h"))
      .filter(mightContain(col("h")))
      .join(evalGrams, "h")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("train_id", "eval_id")
  }

  /** Cross-document boilerplate spans: the 20 most widespread 3-word
    * shingles by DOCUMENT frequency (each doc votes once per distinct
    * span — `array_distinct` before the explode), with ties broken by the
    * span string so the top-k is deterministic. The "find the template /
    * license header / nav bar" pass that runs before span-level scrubbing
    * in a web-scale pipeline. Scale: the exploded rows aggregate with
    * map-side partial combine, so the exchange carries one row per
    * DISTINCT span per partition (bounded by vocabulary, not corpus), and
    * the top-k is `TakeOrderedAndProject` — k rows per partition to the
    * driver, no global sort. Spans stay strings here because the output IS
    * the span text; the hash-shuffled variant (group by xxhash64, carry
    * `min(span)` as exemplar) only matters when the distinct-span set
    * itself is shuffle-bound. */
  def x9CommonSpans(spark: SparkSession, dir: String): DataFrame = {
    // fanOutSmallScan (r18): the tokenize+shingle explode ran on the ONE
    // scan partition at bench SFs; no-op at many-file scale
    Tables.fanOutSmallScan(t(spark, dir, "documents"), "doc_id")
      .select(explode(array_distinct(wordShingles(col("text")))).as("span"))
      .groupBy("span").agg(count(lit(1)).as("doc_freq"))
      .orderBy(desc("doc_freq"), col("span"))
      .limit(20)
  }

  /** X14 exact-substring span dedup — the ExactSubstr method of the
    * "Deduplicating Training Data" line of work, re-expressed for Spark at
    * word granularity: any 8-word gram occurring >= 2 times ANYWHERE in the
    * corpus (cross-doc or within-doc) marks its span duplicated; per
    * document the overlapping marked spans merge into maximal ranges and
    * the report is the actionable table — how many merged spans, how many
    * words they cover, what fraction of the doc that is. The paper uses a
    * suffix array (single-machine); the Spark-native shape is a
    * positional-gram hash-group: ONE exchange keyed on the 16-byte md5
    * digest (count-over-partition window, not a groupBy + join-back — the
    * same shuffle serves both the frequency and the occurrence rows), then
    * one exchange by doc_id where the classic running-max-end window merges
    * overlapping intervals exactly. Shuffles carry (digest, doc_id, pos)
    * — never text — and the second exchange holds only duplicated
    * occurrences, typically a small corpus fraction. At 100 TB the gram
    * exchange is the honest dominant cost; it partitions uniformly (md5)
    * and AQE splits any boilerplate-gram skew. */
  def x14SubstringSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val toks = split(col("text"), " ")
    val grams = transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => md5(concat_ws(" ", slice(toks, i, lit(k)))))
    // fanOutSmallScan (r18): the 8-gram md5 generation stage ran on the
    // ONE scan partition at bench SFs; no-op at many-file scale
    val occ = Tables.fanOutSmallScan(t(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), size(toks).cast("long").as("total_words"),
        posexplode(grams))
      .select(col("doc_id"), col("total_words"),
        col("pos").cast("long").as("pos"), col("col").as("g"))
    val dup = occ
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("cnt") >= 2)
      .withColumn("e", col("pos") + (k - 1))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    dup
      .withColumn("pm", max(col("e")).over(wd))
      .select(col("doc_id"), col("total_words"),
        when(col("pm").isNull || col("pos") > col("pm"), 1L).otherwise(0L).as("ns"),
        greatest(lit(0L),
          col("e") - greatest(col("pos") - 1, coalesce(col("pm"), lit(-1L)))).as("contrib"))
      .groupBy("doc_id")
      .agg(sum("ns").as("n_dup_spans"), sum("contrib").as("dup_words"),
        max("total_words").as("total_words"))
      .withColumn("dup_frac",
        round(col("dup_words").cast("double") / col("total_words"), 4))
      .orderBy("doc_id")
  }

  /** The dedupe pipeline's LAST step: per near-dup cluster (x7's
    * components), pick the canonical survivor (min doc_id — which IS the
    * min-label cluster_id) and account for what gets dropped: member count
    * and the non-survivor character volume. This is the table a curation
    * run actually executes against ("keep these, delete those, reclaim
    * this many chars"). Scale: the cluster labels cover only docs with at
    * least one near-dup edge — often tiny, but on a crawl-heavy corpus
    * near-dup membership can be a LARGE fraction, so the join carries no
    * broadcast hint: AQE size-gates the build side at runtime (broadcast
    * when the labels are small, shuffled hash join when they are not —
    * never a driver/broadcast OOM). The per-cluster rollup exchanges only
    * labeled rows. */
  def x10DedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val clusters = x7DupClusters(spark, dir) // (doc_id, cluster_id), memoized pair graph
    t(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
      .join(clusters, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min("doc_id").as("keep_doc_id"),
        (count(lit(1)) - 1).as("n_removed"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("n_chars"))
          .otherwise(0)).as("chars_removed"))
      .orderBy("cluster_id")
  }

  /** The curation pipeline COMPOSED end to end: which documents survive
    * the three standard pre-training filters together — (1) y2's stopword
    * quality gate (medium band or better), (2) y8's intra-doc repetition
    * gate (rep ratio ≤ 0.2), (3) x10's near-dup drop (cluster members that
    * are not the canonical keeper) — rolled up per source. This is the
    * query a curation run signs off on: per-feed totals, survivors, and
    * surviving token volume. One corpus pass computes both text gates as
    * codegen'd column arithmetic; the dup-drop list (non-keeper cluster
    * members, from the session memo) joins WITHOUT a broadcast hint — on a
    * near-dup-heavy corpus the drop list is a large corpus fraction, and
    * AQE size-gating picks broadcast vs shuffled hash join at runtime, so
    * composing all three filters degrades gracefully instead of OOMing the
    * driver. */
  def z1CurationSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val dropped = x7DupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1L).as("is_dup"))
    val sh = wordShingles(col("text"))
    t(spark, dir, "documents")
      .join(dropped, Seq("doc_id"), "left")
      .withColumn("n_tokens", TextQueries.tokenCount(col("text")))
      .withColumn("stop_ratio",
        round((TextQueries.wordCount(col("text"), "the") +
          TextQueries.wordCount(col("text"), "a")).cast("double") / col("n_tokens"), 4))
      .withColumn("rep_ratio",
        round((size(sh) - size(array_distinct(sh))).cast("double") / size(sh), 4))
      .withColumn("kept",
        (col("stop_ratio") >= 0.05 && col("rep_ratio") <= 0.2 && col("is_dup").isNull)
          .cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("kept").as("kept_docs"),
        sum(when(col("kept") === 1L, col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** CROSS-RUN incremental dedupe — the shape a real pipeline runs daily:
    * near-dup-check a NEW batch of documents against the EXISTING corpus
    * (x3/x4 dedupe one snapshot against itself; here only new x old pairs
    * are candidates, never old x old). The stand-in slice for "today's
    * crawl" is `doc_id % 7 == 0`; everything else is the already-ingested
    * index. Emits ONE row per new doc: keep (no near-dup among the old
    * docs) or drop, with the best old match (highest verified Jaccard,
    * ties to the smallest doc_id) as the dedupe evidence.
    *
    * Scale design: the existing corpus' band rows are exactly the index a
    * production system PERSISTS between runs (4 longs per doc); the new
    * batch computes its signatures in one narrow pass and joins new-side
    * band rows against the index — candidate volume scales with the NEW
    * batch, not the corpus, and verification touches only candidate pairs'
    * shingle arrays. Here both sides derive from one memoized signature
    * pass (shared with x4); the new/old split is a filter on it. The
    * keep/drop verdict is banding-recall-dependent exactly like x4
    * (DedupSweepSpec pins band recall = total on this corpus' near-identical
    * clusters), and the emitted columns are the exact-Jaccard-verified
    * values, so the DuckDB oracle reproduces them hash-exactly. */
  def x11IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupAgainst(spark, dir, col("doc_id") % 7 =!= 0)

  /** The x16 retraction slice — standing docs withdrawn from the corpus
    * (opt-out/right-to-erasure): one rendering for Spark, oracle, spec. */
  private[graft] val X16RetractSql = "doc_id % 5 = 2"

  /** x16: dedupe-index RETRACTION — the F1 verb on the DEDUPE side,
    * completing the lifecycle symmetry v23 gave the vector index: when
    * standing documents are withdrawn (opt-out, takedown, expiry), the
    * admission index must stop blocking new documents on their account —
    * a new doc whose only near-dup was retracted is now a KEEP, and one
    * whose best match was retracted re-matches to its next-best LIVE
    * twin. The mask applies INSIDE the band join (the retracted side
    * never produces candidates — v23's never-post-verdict argument: a
    * post-hoc fixup of x11's output could not re-match to second-best
    * evidence, because that evidence was never verified). Scale: the
    * retraction is an anti-join/filter of the persisted band index
    * (4 longs per doc) against a broadcast retracted-id set — O(index
    * scan), no signature recompute, and candidate volume still scales
    * with the new batch. Spec proves the three-way contract: unaffected
    * verdicts identical to x11, no retracted id ever surfaces as
    * evidence, and the affected rows actually change. */
  def x16IndexRetract(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupAgainst(spark, dir,
      col("doc_id") % 7 =!= 0 && !expr(X16RetractSql))

  /** x11's engine parameterized on the standing (old) side — the LIVE
    * index membership predicate. Both lanes of the pair (band join side
    * b AND the verification set reads) see only the predicate's docs,
    * since cands can only reference ids the filtered band rows produced. */
  private def incrementalDedupAgainst(spark: SparkSession, dir: String,
      oldPred: Column): DataFrame = {
    val sets = docSets(spark, dir)
    val banded = minhashBands(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    val cands = banded.filter(isNew).as("a")
      .join(banded.filter(oldPred).as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // (doc_a = new doc, doc_b = old doc, jaccard) — verified exact pairs,
    // unordered: the best-match window below re-partitions by doc_a
    val matches = verifyJaccardUnordered(cands, sets, 0.5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a").orderBy(col("jaccard").desc, col("doc_b"))
    val best = matches
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"), col("jaccard"))
    t(spark, dir, "documents").filter(isNew).select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("dup_of").isNull.cast("long").as("keep"),
        col("dup_of"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** The INCREMENT of z1: curation sign-off for ONE new batch (x11's
    * doc_id % 7 slice) against the existing corpus — per-source totals of
    * the new docs, how many pass all three gates (y2's stopword quality,
    * y8's repetition bound, x11's not-a-near-dup-of-the-index), and the
    * admitted token volume. z1 answers "what survives a full-corpus
    * sweep"; z2 answers the question a daily pipeline actually asks:
    * "of today's batch, what do we admit?". One narrow pass over the NEW
    * slice computes both text gates as codegen'd arithmetic; the dedupe
    * verdicts come from x11 (whose candidate volume scales with the batch,
    * not the corpus), joined without a broadcast hint (AQE size-gates —
    * the verdict table is one row per new doc). */
  def z2IncrementalCuration(spark: SparkSession, dir: String): DataFrame = {
    val verdicts = x11IncrementalDedup(spark, dir).select(col("doc_id"), col("keep"))
    val sh = wordShingles(col("text"))
    t(spark, dir, "documents").filter(col("doc_id") % 7 === 0)
      .join(verdicts, "doc_id")
      .withColumn("n_tokens", TextQueries.tokenCount(col("text")))
      .withColumn("stop_ratio",
        round((TextQueries.wordCount(col("text"), "the") +
          TextQueries.wordCount(col("text"), "a")).cast("double") / col("n_tokens"), 4))
      .withColumn("rep_ratio",
        round((size(sh) - size(array_distinct(sh))).cast("double") / size(sh), 4))
      .withColumn("admitted",
        (col("stop_ratio") >= 0.05 && col("rep_ratio") <= 0.2 && col("keep") === 1L)
          .cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_new_docs"),
        sum("admitted").as("admitted_docs"),
        sum(when(col("admitted") === 1L, col("n_tokens")).otherwise(0L))
          .as("admitted_tokens"))
      .orderBy("source")
  }

  /** SimHash fingerprint + near-dup pairs by Hamming distance: 64-bit
    * fingerprint from shingle-hash bit votes (computed per-row in the scan —
    * shuffle-free, unlike an aggregator-over-exploded-shingles shape), banded
    * into 4 x 16-bit blocks for sub-quadratic candidate generation, verified
    * with bit_count(xor). 16-bit bands (65k buckets) over 8-bit ones: with
    * one shared vocabulary the per-bit votes correlate across docs, so 256
    * coarse buckets collapse and the candidate join quadratically explodes.
    * Recall contract: 4 disjoint blocks GUARANTEE (pigeonhole) every pair
    * at hamming <= 3 — which covers the near-identical pairs dedupe targets
    * (their distance concentrates at 0-2) — and find pairs in (3, 12] only
    * best-effort (some differing-bit placements evade all four blocks); the
    * hamming <= 12 output filter bounds precision, not recall.
    *
    * Features are 3-word shingles, not unigrams: this corpus shares one
    * small vocabulary, so unigram simhashes collapse to near-identical
    * values.
    *
    * Round-7 oracle upgrade: the shingle hash is [[shingleHashesMd5]]
    * (60-bit md5) instead of the shared xxhash64 memo, so DuckDB
    * re-derives every fingerprint bit, band key and Hamming distance —
    * x5 moves from justified-Spark-only to fully hash-oracled. Bits
    * 60–63 never vote positive (the hash is 60-bit), which costs 4 of 64
    * simhash positions — immaterial to the recall contract above. The
    * extra corpus pass (md5 per shingle) is x5-local; the memoized
    * xxhash64 pass still backs every set-identity consumer. */
  def x5SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val banded = t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, shingleHashesMd5(text)) }
      .flatMap { case (id, hs) =>
        val votes = new Array[Int](64)
        var k = 0
        while (k < hs.length) {
          val h = hs(k)
          var i = 0
          while (i < 64) {
            votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
            i += 1
          }
          k += 1
        }
        var sim = 0L
        var i = 0
        while (i < 64) { if (votes(i) > 0) sim |= (1L << i); i += 1 }
        (0 until 4).iterator.map(b => (id, sim, b, (sim >>> (b * 16)) & 0xffffL))
      }.toDF("doc_id", "simhash", "band", "band_key")
      .localCheckpoint() // simhash pipeline runs once, not per join side
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= 12)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------- p6: KMV overlap

  /** KMV sketch size for p6. */
  private[graft] val KmvK = 256

  /** The portable 3-gram shingle hash both engines compute verbatim:
    * whitespace tokens → 3-gram strings (x3's oracle idiom) → the first
    * 15 hex digits of md5 as a 60-bit non-negative BIGINT (the v2/x6
    * cross-engine hash idiom). Rendered as one SQL expression text used
    * by expr() on the Spark side and inlined in the DuckDB oracle —
    * different list-comprehension spellings, identical values. */
  private[graft] val ShingleHashSparkSql =
    """transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
      |  i -> cast(conv(substr(md5(concat_ws(' ', slice(split(text, ' '), i, 3))), 1, 15), 16, 10) as bigint))""".stripMargin

  /** The p6 side split, one rendering for Spark and the staging path. */
  private[graft] val KmvSideASql = "cast(substring(source, 4, 10) as int) < 10"

  /** p6: CROSS-CORPUS overlap estimation by KMV (bottom-k) sketch — the
    * question a training-data owner asks two corpora ("how much does
    * crawl B duplicate crawl A?") answered WITHOUT the exact
    * distinct-set join: each side keeps only its k smallest 60-bit
    * shingle hashes (k = 256 — KBs per corpus, mergeable, the classic
    * KMV/bottom-k summary), the merged bottom-k estimates the union
    * cardinality from its k-th smallest value ((k−1)·2⁶⁰ / kth — order
    * statistics of uniform hashes) and the Jaccard from the fraction of
    * merged survivors present in BOTH sketches. The estimator is
    * DETERMINISTIC given the hash, so unlike p2/q6 the oracle is an
    * exact hash MATCH: DuckDB re-derives the same shingles, the same
    * md5-60-bit values, the same bottom-k, the same arithmetic. Exact
    * union/intersection columns ride along as the AUDIT lanes (v17's
    * measure-against-truth move) — a 100 TB run drops them and keeps
    * the sketch path: one map-side-combinable (side, hash) distinct,
    * two TakeOrderedAndProject bottom-k passes (map-side k-capped, no
    * global sort), then k-row broadcast merges. */
  def p6KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val hashes = kmvSideHashes(spark, dir)
    val skA = hashes.filter(col("side") === "a").select("h")
      .orderBy("h").limit(KmvK)
    kmvAssemble(spark, dir, skA)
  }

  /** The distinct (side, h) shingle-hash table both p6 lanes read.
    * Memoized (not just checkpointed) so p6KmvOverlap's skA build and
    * kmvAssemble share ONE checkpointed pass — before r12 each call
    * checkpointed the identical lineage separately, running p6's
    * dominant scan twice per invocation. */
  private def kmvSideHashes(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "kmvSideHashes") {
      kmvHashesBuild(spark, dir)
        .localCheckpoint() // five consumers (2 sketches, 2 exact lanes, union)
    }

  /** The pre-checkpoint (side, h) build plan — exposed to
    * [[graft.tools.ExplainDump]] like x3Build: the memoized frame is a
    * checkpoint scan, so only this shows the real build. */
  private[graft] def kmvHashesBuild(spark: SparkSession, dir: String): DataFrame =
    // fanOutSmallScan (r18): the md5-per-shingle explode is the p6/st18
    // memo's dominant cost and ran on documents.parquet's ONE scan
    // partition — single-threaded at bench SFs (the r17 fan-out pass
    // covered the tokenize/decode sites but missed this one); no-op at
    // many-file scale
    Tables.fanOutSmallScan(Tables.t(spark, dir, "documents"), "doc_id")
      .withColumn("side", when(expr(KmvSideASql), "a").otherwise("b"))
      .select(col("side"), explode(expr(ShingleHashSparkSql)).as("h"))
      .distinct()

  /** Everything downstream of side A's sketch: side B's sketch, the
    * merged bottom-k, the estimator row, and the exact audit lanes.
    * Parameterized on `skA` so the STREAMED sketch (st18 — the running
    * bottom-k maintained per micro-batch) assembles through the
    * identical arithmetic and shares p6's oracle verbatim: if the
    * streamed sketch differed from the batch bottom-k in any element,
    * kth/matches/union_est would shift and the hash compare would
    * break. */
  private[graft] def kmvAssemble(spark: SparkSession, dir: String,
      skA: DataFrame): DataFrame = {
    val k = KmvK
    val hashes = kmvSideHashes(spark, dir)
    val skB = hashes.filter(col("side") === "b").select("h").orderBy("h").limit(k)
    val merged = skA.union(skB).distinct().orderBy("h").limit(k)
      .localCheckpoint() // k rows; read by the kth and matches lanes
    val kth = merged.agg(max("h").as("kth_union"))
    val matches = merged
      .join(skA, Seq("h"), "left_semi")
      .join(skB, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("matches"))
    val aSet = hashes.filter(col("side") === "a").select("h")
    val bSet = hashes.filter(col("side") === "b").select("h")
    val exactU = aSet.union(bSet).distinct().agg(count(lit(1)).as("exact_union"))
    val exactI = aSet.intersect(bSet).agg(count(lit(1)).as("exact_inter"))
    kth.crossJoin(matches).crossJoin(exactU).crossJoin(exactI)
      .withColumn("k", lit(k.toLong))
      .withColumn("union_est", expr(
        s"round(cast(${k - 1} as double) * cast(1152921504606846976 as double) / cast(kth_union as double), 2)"))
      .withColumn("inter_est", expr(
        s"round(cast(matches as double) / $k.0 * (cast(${k - 1} as double) * cast(1152921504606846976 as double) / cast(kth_union as double)), 2)"))
      .withColumn("jaccard_est", expr(s"round(cast(matches as double) / $k.0, 4)"))
      .withColumn("jaccard_exact", expr(
        "round(cast(exact_inter as double) / exact_union, 4)"))
      .select("k", "exact_union", "exact_inter", "kth_union", "matches",
        "union_est", "inter_est", "jaccard_est", "jaccard_exact")
  }

  /** The p6 oracle: the same shingle hash (x3's tokenization + the
    * md5-60-bit idiom), the same bottom-k order statistics, the same
    * estimator arithmetic in the same evaluation order. */
  def p6OracleSql: String = {
    val k = KmvK
    s"""WITH t AS (SELECT CASE WHEN substr(source, 4)::INT < 10 THEN 'a' ELSE 'b' END AS side,
       |    string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT side, unnest([array_to_string(toks[i:i+2], ' ')
       |  for i in generate_series(1, greatest(len(toks) - 2, 1))]) AS g FROM t),
       |hs AS (SELECT DISTINCT side, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM sh),
       |ska AS (SELECT h FROM hs WHERE side = 'a' ORDER BY h LIMIT $k),
       |skb AS (SELECT h FROM hs WHERE side = 'b' ORDER BY h LIMIT $k),
       |merged AS (SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
       |  ORDER BY h LIMIT $k),
       |kth AS (SELECT max(h) AS kth_union FROM merged),
       |mt AS (SELECT count(*) AS matches FROM merged
       |  WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
       |eu AS (SELECT count(DISTINCT h) AS exact_union FROM hs),
       |ei AS (SELECT count(*) AS exact_inter FROM
       |  (SELECT DISTINCT a.h FROM hs a JOIN hs b ON a.h = b.h
       |    AND a.side = 'a' AND b.side = 'b'))
       |SELECT CAST($k AS BIGINT) AS k,
       |  CAST(exact_union AS BIGINT) AS exact_union,
       |  CAST(exact_inter AS BIGINT) AS exact_inter,
       |  CAST(kth_union AS BIGINT) AS kth_union,
       |  CAST(matches AS BIGINT) AS matches,
       |  round(CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth_union AS DOUBLE), 2) AS union_est,
       |  round(CAST(matches AS DOUBLE) / $k.0 * (CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth_union AS DOUBLE)), 2) AS inter_est,
       |  round(CAST(matches AS DOUBLE) / $k.0, 4) AS jaccard_est,
       |  round(CAST(exact_inter AS DOUBLE) / exact_union, 4) AS jaccard_exact
       |FROM kth CROSS JOIN mt CROSS JOIN eu CROSS JOIN ei""".stripMargin
  }
}
