package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iterative graph analytics (north_star additions beyond x7's connected
 * components): n1 RANKS (PageRank over the part co-purchase graph), n2
 * SCORES a bipartite graph (HITS hubs/authorities over customer↔part),
 * n3 TRAVERSES (k-hop BFS reachability). The shared scale discipline:
 * the EDGE SET materializes once per session (memoized + checkpointed —
 * x7's reuse lesson, DedupQueries' memo pattern) and every iteration
 * moves only the node-sized side (ranks/scores/frontiers); numeric
 * iterations quantize per-edge contributions to decimal BEFORE summing
 * so accumulation is exact and partition-order-free on every engine.
 */
object GraphOps {
  import Tables._

  /** Session memo for the weighted part co-purchase edge set — n1 and n3
    * consume the same graph, and the basket-agg build is the expensive
    * part (basket-bounded fan-out, but a full corpus pass). The memoized
    * frame materializes through the CACHE layer (persist MEMORY_AND_DISK
    * + eager count, r17): every iteration of every consumer re-reads it
    * materialized, never re-running the build, AND the InMemoryRelation
    * reports MEASURED sizes — a localCheckpoint would carry the build
    * plan's ~2 MB size estimate for a ~70 MB table and lure every
    * downstream unhinted join into auto-broadcasting the corpus-scale
    * edge set (the r17 stats hazard; see coPurchaseEdges). Frames that
    * coPartitionedCheckpoint persists per gated run are not memoized, but
    * the memo holds them, so the same clear unpersists them (without
    * that they would accumulate CacheManager entries across bench
    * warm→timed cycles — the r8 sf1 OOM class shifted into the cache
    * layer). */
  private[graft] val memo = new graft.BenchMemos.CountedMemo("GraphOps")

  /** Size gate for the iterative joins' node-sized side (ranks/scores).
    * At or below this many node rows the side is forced-broadcast (a
    * (long, double) row is ~32 B on the wire, so the default 2M rows ≈
    * 64 MB — the upper bound of a sane per-executor broadcast). ABOVE the
    * gate the hint would tax every executor with a linearly-growing table
    * every iteration, so instead the checkpointed edge set is
    * co-partitioned by its join key ONCE (one exchange total, paid inside
    * the checkpoint build) and every iteration ships only the node-sized
    * side through that partitioning — the production form for a graph
    * whose node count outgrows broadcast range. Overridable per session
    * via `graft.graph.broadcastNodeLimit` (specs set 0 to force the
    * co-partitioned regime at test scale). */
  private[graft] def broadcastNodeLimit(spark: SparkSession): Long =
    spark.conf.getOption("graft.graph.broadcastNodeLimit")
      .map(_.toLong).getOrElse(2000000L)

  /** Repartition by `key` and materialize WITH the partitioning preserved.
    * Under AQE the physical plan a localCheckpoint captures is an
    * AdaptiveSparkPlan whose outputPartitioning is Unknown(0) (measured —
    * tools/R8Probe, retired to git history), so a checkpoint would forget the co-partitioning and
    * every later iteration join would re-exchange the edge set: exactly
    * the cost this path exists to avoid. The r8 build toggled
    * `spark.sql.adaptive.enabled` off around the checkpoint — correct but
    * NOT thread-safe (a concurrently-planning query in the same session
    * would silently lose AQE). This build uses the cache layer instead:
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults
    * to false, so an InMemoryRelation over the repartition keeps
    * HashPartitioning(key) and EnsureRequirements honors it in every
    * downstream join — tools/R9Probe (retired to git history) showed the final SMJ plan reading
    * TableCacheQueryStage with a partition-local Sort and ZERO exchanges
    * on the cached side, AQE on throughout (GraphScaleSpec asserts the
    * same on the shipped plans, plus conf-untouched under concurrency).
    * DISK_ONLY: edge-scale blocks never tax the heap (the r8 sf1 OOM
    * lesson); the eager count populates the cache exactly once. */
  private def coPartitionedCheckpoint(
      spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val cached = df.repartition(col(key))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    cached.count()
    memo.hold(cached)
  }

  /** `(src, dst, w)` — directed both ways (symmetric), `w` = number of
    * orders containing both parts. Built as ONE basket aggregation
    * (collect_set of parts per order — dedup happens inside the agg) and
    * an in-row double explode of each basket's ordered pairs, instead of
    * the r16 distinct + self-join on l_orderkey: same edge set row for
    * row, but 2 exchanges instead of 4 and no sort-merge sort (r17, guide
    * §2.4 — two operations keyed the same way share one exchange; here
    * the "join" collapses into the basket array entirely). Safe in-row:
    * baskets are order-bounded (≤7 lineitems in this corpus shape), so
    * the pair fan-out is ≤ |basket|² rows from one array, never a
    * shuffled wedge stream. */
  private[graft] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir) {
      // Materialized through the CACHE layer, not localCheckpoint (r17):
      // a LogicalRDD checkpoint carries the BUILD plan's size estimate,
      // and the basket-agg build estimates ~2 MB where the edge set is
      // really ~70 MB — under the auto-broadcast threshold, so every
      // downstream unhinted join (n1's out-weight join, n3/n4's frontier
      // joins) silently broadcast the CORPUS-SCALE edge table (measured:
      // n1's iteration jobs 0.9→3.5 s at sf0.1; at 100 TB it is a driver
      // OOM). InMemoryRelation reports MEASURED block sizes once built,
      // so the planner sees the honest edge-scale number. Storage level
      // matches what the old localCheckpoint used (MEMORY_AND_DISK) —
      // every iteration re-reads this table, and the r8 DISK_ONLY rule
      // was for the oriented DERIVED copy, not this base.
      val e = edgeBuild(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }

  /** The pre-checkpoint edge-build plan (exposed to
    * [[graft.tools.ExplainDump]] like DedupQueries.x3Build: the memoized
    * frame is a checkpoint scan, so only this shows the real build). */
  private[graft] def edgeBuild(spark: SparkSession, dir: String): DataFrame =
    // fanOutSmallScan (r18): the scan+partial-collect_set stage ran on
    // lineitem's ONE scan partition at bench SFs; hash-clustering on
    // l_orderkey feeds the basket agg with no second exchange (the
    // repartition REPLACES the agg exchange, it does not add one).
    // No-op at many-file scale.
    Tables.fanOutSmallScan(
        t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** n1: PageRank over the part co-purchase graph — the iterative graph
    * verb beyond x7's connected components: parts are nodes, co-occurrence
    * in an order is a (symmetric, count-weighted) edge, and two damped
    * power iterations rank parts by network centrality (the
    * recommendation-seed / influence table). Each iteration is ONE
    * edges⋈ranks join + dst aggregation — the classic Pregel step as
    * DataFrame algebra, no driver loop over nodes. Determinism: the
    * per-edge contribution (a double) is cast to decimal(38,12) BEFORE the
    * sum, so accumulation is exact and partition-order-independent; at
    * scale 12 both engines round the SAME digit sequence (double shortest-
    * repr and binary expansion agree through the 17th significant digit,
    * and |term| ≤ 1 keeps the rounding digit at ≤ 13 significant), so the
    * quantization — documented, ~1e-12 — is bitwise-reproducible. Scale:
    * edges come from the session memo (built once per sweep, shared with
    * n3); ranks are (part, 1 double) rows; the per-iteration shuffle
    * carries longs + one decimal; N reaches the driver as one bounded
    * scalar; the iteration join is SIZE-GATED (`broadcastNodeLimit`) —
    * forced broadcast of the rank rows only while they fit, one reused
    * src co-partitioning of the edges above that. */
  def n1Pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = coPurchaseEdges(spark, dir)
    // bounded scalar (moved above the build so the out-weight join can
    // take the same gate): the graph's node count — it seeds the uniform
    // prior, decides the iteration regime, AND gates the build join below.
    val n = e.select(col("src")).distinct().count()
    if (n == 0) return Seq.empty[(Long, Double)].toDF("part", "pagerank")
    val useBroadcast = n <= broadcastNodeLimit(spark)
    val outw = e.groupBy("src").agg(sum("w").as("s"))
    // out-weight side is provably node-bounded (one row per src), so it
    // takes the same size gate as the rank rows (r18): the r17 honest-
    // stats fix stopped the EDGE memo auto-broadcasting here, which was
    // correct — but it left this unhinted join planning a full SMJ
    // (edge-set exchange + sort) where a node-sized broadcast build is
    // safe below the gate. Above the gate the SMJ is the right shape.
    val edges0 = e.join(if (useBroadcast) broadcast(outw) else outw, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("s")).as("p"))
    // Size-gate the iteration join (NOTE: counts — Spark actions — run at
    // DataFrame-CONSTRUCTION time here, so plan-only consumers of this
    // query trigger real jobs). Below the gate, ranks are (part, double)
    // rows orders of magnitude under the edge set, so they BROADCAST onto
    // the checkpointed edges and the big side never re-shuffles per
    // iteration (an un-hinted SMJ re-exchanges + re-sorts all edges every
    // pass: measured 78 -> 62 s at sf1). Above the gate a per-iteration
    // broadcast of a linearly-growing table is the scale trap, so the
    // edges co-partition by src ONCE via the cache layer (one exchange
    // total — see coPartitionedCheckpoint: an InMemoryRelation keeps
    // HashPartitioning under AQE where a localCheckpoint would forget it)
    // and every iteration ships only the rank rows through that preserved
    // partitioning — no later plan ever exchanges the edge set again
    // (spec-asserted: zero `hashpartitioning(src` exchanges).
    val edges =
      if (useBroadcast) edges0.localCheckpoint()
      else coPartitionedCheckpoint(spark, edges0, "src")
    val nodes = edges.select(col("src").as("part")).distinct()
    var ranks = nodes.withColumn("r", lit(1.0 / n))
    for (_ <- 1 to 2) {
      val rside = if (useBroadcast) broadcast(ranks) else ranks
      val contrib = edges.join(rside, edges("src") === rside("part"))
        .select(col("dst"),
          (col("r") * col("p") * 0.85).cast("decimal(38,12)").as("c"))
      ranks = contrib.groupBy("dst")
        .agg((lit(0.15 / n) + sum(col("c")).cast("double")).as("r"))
        .withColumnRenamed("dst", "part")
    }
    ranks.orderBy(col("r").desc, col("part"))
      .limit(20)
      .select(col("part"), round(col("r"), 8).as("pagerank"))
  }

  /** n2: HITS hubs/authorities over the BIPARTITE customer↔part purchase
    * graph — the second iterative graph verb, structurally different from
    * n1: alternating half-steps over a two-sided edge set (hub(cust) =
    * Σ auth(part); auth(part) = Σ hub(cust)), the recommendation-
    * bootstrap ranking for "influential buyers / sought-after parts".
    * L1 normalization each half-step replaces the classical L2 (which
    * needs sqrt — libm, not bitwise-portable): rank order is unchanged
    * and scores stay ≤ 1, which ALSO keeps every quantized contribution
    * inside the decimal(38,12) agreement zone (n1's determinism
    * contract — terms cast to decimal before the sum, so accumulation is
    * exact and order-free; the global L1 mass is an exact decimal sum
    * and each node divides once in IEEE). Scale: the small side moves —
    * score tables are |custs| / |parts| rows and, under the
    * `broadcastNodeLimit` size gate, broadcast onto the checkpointed edge
    * set; past the gate the edges hold two checkpointed co-partitions
    * (by part / by cust — one exchange each, total, across all
    * iterations) and only score rows move; the 1-row mass is a
    * PlanLint-whitelisted O(1) cross join; per half-step cost is one
    * edge-set pass. */
  def n2Hits(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // fanOutSmallScan (r18): the bipartite build's map stage (broadcast
    // join probe + partial distinct over the full fact) ran on lineitem's
    // ONE scan partition at bench SFs; no-op at many-file scale
    val e = Tables.fanOutSmallScan(
        t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()
      .localCheckpoint()
    // Each normalized score table localCheckpoints: `raw` appears TWICE
    // in the normalized plan (once as itself, once under the 1-row mass
    // agg), so four lazily-chained half-steps nest into a 2^4-duplicated
    // logical tree — the x7 self-reference lesson (r17: the executed n2
    // plan dump was 115 KB of nested repeats; analysis/codegen time rode
    // in the bench row). The checkpoint TRUNCATES the logical plan (a
    // cache-layer persist would not — analysis still walks the nested
    // tree). Score tables are node-sized and hint-broadcast below the
    // gate, so the checkpoint's estimate-derived stats carry no
    // broadcast hazard here (unlike the edge memo — see coPurchaseEdges).
    def l1Normalize(raw: DataFrame, id: String): DataFrame = {
      val mass = raw.agg(sum(col("rawd")).as("m"))
      raw.join(mass)
        .select(col(id),
          (col("rawd").cast("double") / col("m").cast("double")).as("score"))
        .localCheckpoint()
    }
    // Size gate (n1's contract; counted once off the checkpointed edge
    // set — a bounded 2-long scalar): below it the node-sized score
    // tables broadcast onto the edges each half-step; above it the edge
    // set is co-partitioned ONCE PER JOIN KEY — the bipartite iteration
    // alternates between joining on `part` and on `cust`, so the
    // production form keeps two checkpointed co-partitions (two exchanges
    // total across ALL iterations) and each half-step ships only the
    // score rows. (The score side DOES re-exchange each half-step in that
    // regime: l1Normalize's localCheckpoint captures Unknown
    // outputPartitioning under AQE — the R8Probe lesson — so the previous
    // half-step's groupBy partitioning does not survive the checkpoint.
    // That node-sized re-exchange is the accepted price of truncating the
    // 2^k-nested logical plan; only the EDGE set must never re-shuffle.)
    val cnt = e.agg(countDistinct(col("cust")).as("nc"),
                    countDistinct(col("part")).as("np")).head()
    val useBroadcast =
      math.max(cnt.getLong(0), cnt.getLong(1)) <= broadcastNodeLimit(spark)
    val (eByPart, eByCust) =
      if (useBroadcast) (e, e)
      else (coPartitionedCheckpoint(spark, e, "part"),
            coPartitionedCheckpoint(spark, e, "cust"))
    def side(df: DataFrame) = if (useBroadcast) broadcast(df) else df
    var auth = eByPart.select(col("part")).distinct()
      .withColumn("score", lit(1.0))
    var hub: DataFrame = null
    for (_ <- 1 to 2) {
      hub = l1Normalize(
        eByPart.join(side(auth), Seq("part"))
          .groupBy("cust")
          .agg(sum(col("score").cast("decimal(38,12)")).as("rawd")), "cust")
      auth = l1Normalize(
        eByCust.join(side(hub), Seq("cust"))
          .groupBy("part")
          .agg(sum(col("score").cast("decimal(38,12)")).as("rawd")), "part")
    }
    auth.orderBy(col("score").desc, col("part"))
      .limit(20)
      .select(col("part"), round(col("score"), 8).as("authority"))
  }

  /** n3: k-hop reachability — BFS frontier expansion over the part
    * co-purchase graph from a deterministic seed (the lowest part key in
    * the graph): how much of the catalog is 1, 2, 3 co-purchase hops
    * away — the blast-radius / lineage-traversal query shape (and the
    * third iterative graph verb: n1 ranks, n2 scores a bipartite graph,
    * n3 TRAVERSES). Each hop is one edges⋈frontier join, a distinct, and
    * a left-anti against the visited set — all exact set algebra, so the
    * per-hop counts are deterministic with no numeric contract needed.
    * Scale: the edge set comes from the session memo (shared with n1);
    * the frontier/visited tables are node-sized and take the
    * `broadcastNodeLimit` size gate on their EXACT per-hop counts (r18 —
    * known for free, since the per-hop count is the query's output):
    * broadcast below it, unhinted above it (hop 2 can be most of a
    * small-world graph, where AQE's runtime choice is right);
    * each frontier localCheckpoints because three consumers reuse it
    * (count, anti-join, next visited — x7's lesson). Output is the
    * per-hop reach table. NOTE: like n1, this query executes Spark
    * actions (seed lookup, per-hop counts, eager checkpoints) at
    * DataFrame-CONSTRUCTION time — plan-only consumers (explain tooling,
    * PlanLint) trigger real jobs for the n* entries. A degenerate empty
    * edge set returns the empty hop table rather than NPE-ing on the
    * seed lookup. */
  def n3KhopReach(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = coPurchaseEdges(spark, dir).select("src", "dst")
    val seedRow = e.agg(min(col("src"))).head()
    if (seedRow.isNullAt(0))
      return Seq.empty[(Int, Long)].toDF("hop", "n_parts")
    val seed = seedRow.getLong(0)
    var frontier = Seq(seed).toDF("part").localCheckpoint()
    var visited = frontier
    val counts = scala.collection.mutable.Buffer((0, 1L))
    // Size gate (r18, n1's contract — VERDICT r17 item 2): the frontier
    // and visited tables are node-bounded, and their EXACT row counts are
    // already known each hop (the per-hop count IS the query's output),
    // so the gate costs nothing extra. Below it they broadcast onto the
    // cached edge set — without the hint, the frontier/visited
    // localCheckpoints carry UNKNOWN stats and the honest-sized (r17)
    // edge memo plans an SMJ that re-exchanges the edge set EVERY hop
    // (the r17 anchor regression's mechanism). Above the gate the joins
    // stay unhinted: hop-2 frontiers on a small-world graph can be most
    // of the catalog, and AQE's runtime choice is the right one there.
    val gate = broadcastNodeLimit(spark)
    var frontierCnt = 1L
    var visitedCnt = 1L
    for (h <- 1 to 3) {
      frontier = n3HopExpand(e, frontier, visited, frontierCnt, visitedCnt, gate)
        .localCheckpoint()
      frontierCnt = frontier.count()
      counts += ((h, frontierCnt))
      visited = visited.union(frontier).localCheckpoint()
      visitedCnt += frontierCnt
    }
    counts.toSeq.toDF("hop", "n_parts").orderBy("hop")
  }

  /** One BFS hop: expand the frontier over the edges, dedup, drop
    * visited. Named (rather than inlined in the loop) so the committed
    * evidence plans dump THIS code path — n3's returned frame is the
    * local per-hop count table, which shows no join to audit. */
  private[graft] def n3HopExpand(e: DataFrame, frontier: DataFrame,
      visited: DataFrame, frontierCnt: Long, visitedCnt: Long,
      gate: Long): DataFrame = {
    val fside = frontier.withColumnRenamed("part", "src")
    e.join(if (frontierCnt <= gate) broadcast(fside) else fside, Seq("src"))
      .select(col("dst").as("part")).distinct()
      .join(if (visitedCnt <= gate) broadcast(visited) else visited,
        Seq("part"), "left_anti")
  }

  /** n4: weighted single-source shortest paths — bounded-hop Bellman-Ford
    * relaxation over the part co-purchase graph, completing the graph
    * quartet (n1 ranks, n2 scores, n3 traverses, n4 MEASURES distance).
    * Edge length is the EXACT integer `1000000 div w` (stronger
    * co-purchase → shorter edge; integer floor-division, so no float ever
    * enters the metric and both engines walk identical BIGINTs — the n*
    * family's determinism discipline without even needing the decimal
    * quantization contract). Three relaxation rounds from n3's
    * deterministic seed (the lowest part key) give the exact ≤3-edge
    * shortest distance d_3(v) = min over paths with at most 3 edges; the
    * 20 nearest parts (dist asc, part asc — a total order) are returned.
    *
    * Scale: classic Bellman-Ford relaxes EVERY settled node each round —
    * O(hops·|E|) work even when almost nothing changed. This is the
    * DELTA-relaxed form: round k fans out only from nodes whose distance
    * IMPROVED in round k−1 (inductively sufficient — a non-improved
    * node's out-edges were already relaxed at its final distance in an
    * earlier round, so re-relaxing them cannot lower any neighbor), which
    * on a small-world graph collapses late rounds to the shrinking
    * improvement frontier. The edge set comes from the session memo
    * (built once, shared with n1/n3); the dist/improved tables are
    * node-sized (two longs) and take the `broadcastNodeLimit` size gate
    * on their tracked counts (r18, n3's discipline): broadcast below the
    * gate, unhinted above it — the frontier swings from 1 row (hop 1) to
    * most of the graph (hop 2 on a dense catalog), and an UNGATED hint
    * in either direction is the n1 round-7 trap. Each round's dist table
    * localCheckpoints because two consumers reuse it (the improvement
    * anti-join and the next round's relax). Like the other n* entries,
    * construction executes Spark actions (seed lookup, eager
    * checkpoints); an empty edge set returns the empty distance table.
    * Distances are bounded by 3·10^6 — no overflow surface. */
  def n4Sssp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = coPurchaseEdges(spark, dir)
      .select(col("src"), col("dst"), expr("1000000 div w").as("cost"))
    val seedRow = e.agg(min(col("src"))).head()
    if (seedRow.isNullAt(0))
      return Seq.empty[(Long, Long)].toDF("part", "dist")
    val seed = seedRow.getLong(0)
    var dist = Seq((seed, 0L)).toDF("part", "dist").localCheckpoint()
    var improved = dist
    // Size gate (r18, n3's pattern): the improvement frontier's exact
    // count is read off its materialized checkpoint (a metadata-cheap
    // job), and the dist table is bounded by the running frontier sum —
    // both node-bounded. Below the gate they broadcast onto the cached
    // edge set; the former "stay unhinted, let AQE choose" discipline
    // predates the r17 honest-stats fix, under which these joins plan an
    // SMJ whose edge-set exchange runs BEFORE AQE can see the frontier's
    // runtime size (a localCheckpoint leaf has no stats to replan from).
    // Above the gate the joins stay unhinted — AQE's per-round choice is
    // still the right call when the frontier outgrows broadcast range.
    val gate = broadcastNodeLimit(spark)
    var improvedCnt = 1L
    var distBound = 1L
    for (_ <- 1 to 3) {
      improved = n4Relax(e, improved, dist, improvedCnt, distBound, gate)
        .localCheckpoint()
      improvedCnt = improved.count()
      val ipart = improved.select("part")
      dist = dist.join(
          if (improvedCnt <= gate) broadcast(ipart) else ipart,
          Seq("part"), "left_anti")
        .union(improved).localCheckpoint()
      distBound += improvedCnt
    }
    dist.orderBy(col("dist"), col("part")).limit(20)
  }

  /** One delta-relaxation round: fan out from last round's improved set,
    * keep strict improvements over the settled distances. Named so the
    * committed evidence plans dump THIS code path — n4's returned frame
    * is a chain of localCheckpoints that shows no join to audit. */
  private[graft] def n4Relax(e: DataFrame, improved: DataFrame,
      dist: DataFrame, improvedCnt: Long, distBound: Long,
      gate: Long): DataFrame = {
    val iside = improved.select(col("part").as("src"), col("dist").as("d0"))
    val cand = e
      .join(if (improvedCnt <= gate) broadcast(iside) else iside, Seq("src"))
      .select(col("dst").as("part"), (col("d0") + col("cost")).as("nd"))
      .groupBy("part").agg(min(col("nd")).as("nd"))
    cand.join(
        if (distBound <= gate) broadcast(dist) else dist, Seq("part"), "left")
      .filter(col("dist").isNull || col("nd") < col("dist"))
      .select(col("part"), col("nd").as("dist"))
  }

  /** n5: triangle counting over the co-purchase graph — the clustering /
    * community-density verb (n1 ranks, n2 scores, n3 traverses, n4
    * measures, n5 counts CLOSED WEDGES). Output: the 20 parts in the most
    * triangles, each triangle {a,b,c} crediting all three members.
    *
    * Scale: the naive wedge join on a symmetric edge set is Σ deg(u)² —
    * quadratic in the hub degree, the classic triangle trap. Two
    * standard moves compose here. (1) DEGREE ORIENTATION: every
    * undirected edge orients from its (degree, id)-smaller endpoint to
    * the larger, a DAG along a total order, so each triangle a≺b≺c is
    * found exactly once and every node's ORIENTED out-degree is ≤ √(2m)
    * however skewed the raw degrees (a hub keeps only its ≥-degree
    * neighbors out-bound). (2) EDGE-ITERATOR over adjacency ARRAYS:
    * materializing the 82M-wedge stream (sf0.1; 10× that at sf1) and
    * shuffling it by (v,w) to close wedges OOM'd the sf1 probe — the
    * measured form of the trap — so instead each node's out-neighbors
    * pack into ONE sorted array (≤ √(2m) longs), both endpoints' arrays
    * join onto each oriented edge (two edge-sized exchanges against the
    * node-sized adj table), and the triangle set through edge (u,v) is
    * the in-row `array_intersect` — never shuffled, never wider than
    * two bounded arrays. The canonical edge (u,v) of triangle {u,v,w}
    * credits u and v by |W| and each w ∈ W once, so the only
    * wedge-scale data that ever moves is the 3·T credit stream, partial-
    * aggregated map-side before its one exchange (T = 1.9M at sf0.1 vs
    * 82M wedges). All-integer set algebra — no numeric contract; the
    * oracle unrolls the same orientation (its row counts are DuckDB's
    * problem, and the canonical-wedge join is fine at oracle SFs). */
  /** The degree-oriented edge DAG, memoized + DISK_ONLY (shared by n5 and
    * n7): every undirected co-purchase edge oriented from its
    * (degree, id)-smaller endpoint, so each triangle appears exactly once
    * and oriented out-degrees stay ≤ √(2m) however skewed the raw graph.
    * Tagged `oriented` in the edge memo, beside the base entry it reads. */
  private[operators] def orientedEdges(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "oriented") {
      val e = coPurchaseEdges(spark, dir).select("src", "dst")
      // Materialized CO-PARTITIONED by src through the cache layer
      // (r18; the coPartitionedCheckpoint mechanism — an
      // InMemoryRelation keeps HashPartitioning under AQE): n5's
      // adjacency build (groupBy src) AND its first adjacency join
      // (on src) both consume this partitioning, so neither plans an
      // exchange — before this, the honest-stats fix (r17) made both
      // re-exchange the edge-scale table (the adjacency side is
      // Σ out-degree ≈ |E| longs, EDGE-scale in bytes, so the n1-style
      // broadcast gate is the wrong recovery here — co-location is).
      // One exchange paid once inside the memo build, at every scale.
      val oriented = orientedBuild(e)
        .repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      oriented.count()
      oriented
    }

  /** The pre-persist orientation plan (evidence seam for ExplainDump's
    * co-partitioned vs r17-unpartitioned n5 comparison). Takes the
    * symmetric (src, dst) edge set WITH its degree table derived inline. */
  private[graft] def orientedBuild(e: DataFrame): DataFrame = {
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
      .withColumnRenamed("src", "node")
    e.join(deg.select(col("node").as("src"), col("d").as("ds")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("d").as("dd")), Seq("dst"))
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select("src", "dst")
  }

  def n5Triangles(spark: SparkSession, dir: String): DataFrame = {
    // Memoized + persisted at DISK_ONLY (see orientedEdges): r8 shipped
    // `ed` unmaterialized after its localCheckpoint OOM'd the sf1
    // full-suite heap, but that left the two consumers (adj build, edge
    // probe) racing to recompute it under whatever memory pressure the
    // suite had accumulated — BENCH_HISTORY shows 2.8 s vs 17.4 s on
    // identical code/scale back-to-back (the r8 `weak`). DISK_ONLY is the
    // point the r8 fix missed: zero heap cost AND zero recompute.
    n5Body(orientedEdges(spark, dir))
  }

  /** The n5 consumer body over a materialized oriented-edge table (named
    * so ExplainDump can run it over the co-partitioned memo AND the r17
    * unpartitioned shape for the evidence pair). */
  private[graft] def n5Body(ed: DataFrame): DataFrame = {
    val adj = ed.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // inner joins prune edges whose dst has no out-neighbors — they
    // cannot close a canonical wedge, so dropping them is both correct
    // and the cheap path
    val withAdj = ed
      .join(adj.select(col("src"), col("nbrs").as("un")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("vn")), Seq("dst"))
    val credits = withAdj
      .select(col("src"), col("dst"),
        array_intersect(col("un"), col("vn")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(explode(concat(
        array_repeat(col("src"), size(col("ws"))),
        array_repeat(col("dst"), size(col("ws"))),
        col("ws"))).as("part"))
    credits.groupBy("part").agg(count(lit(1)).as("triangles"))
      .orderBy(col("triangles").desc, col("part"))
      .limit(20)
  }

  /** n7's deterministic vertex sample: the [[N7SampleCap]] lowest
    * partkeys in the residue class `p_partkey % 13 = 7` — fixed SIZE at
    * every corpus scale, which is the whole point (see n7's scaladoc). */
  private[operators] val N7SampleSql = "p_partkey % 13 = 7"
  private[operators] val N7SampleCap = 25

  /** n7: EXACT local triangle counts for a fixed deterministic vertex
    * sample — the n-family's affordable scale gate (the r11 gap: n5's
    * oracle is intrinsic wedge enumeration, ~9 min of DuckDB at sf1, so
    * no n-row could join the 30× gate). The operator itself is the
    * standard production audit: you never enumerate every triangle to
    * check clustering around 25 vertices of interest — each sampled
    * vertex p's incident triangles are exactly the ORIENTED edges between
    * its undirected neighbors (the degree-oriented DAG holds each
    * undirected edge once, so triangle {p,a,b} is counted once by the
    * a→b orientation). Spark side: the sample broadcasts into the shared
    * oriented-edge memo ([[orientedEdges]], n5's DISK_ONLY table) twice —
    * neighbor harvest, then the neighbor-pair probe — all broadcast hash
    * joins against edge scans, nothing corpus-sized shuffles. Oracle
    * side: the same algebra costs |sample|·deg·√(2m) join lookups instead
    * of Σdeg² wedges, FLAT in corpus scale because the sample is capped —
    * n7 re-gates at sf1/sf3 for minutes, not hours. Isolated sampled
    * vertices surface as triangles = 0 (a left join keeps them honest). */
  def n7LocalTriangles(spark: SparkSession, dir: String): DataFrame = {
    val ed = orientedEdges(spark, dir)
    val sample = Tables.t(spark, dir, "part")
      .filter(expr(N7SampleSql))
      .select(col("p_partkey").cast("long").as("p"))
      .orderBy("p").limit(N7SampleCap)
      .localCheckpoint() // 25 rows, four consumers
    // undirected neighbors of sampled vertices (the DAG holds each
    // undirected edge once, in one direction — read both)
    val np = ed.join(broadcast(sample), col("src") === col("p"))
      .select(col("p"), col("dst").as("nbr"))
      .union(ed.join(broadcast(sample), col("dst") === col("p"))
        .select(col("p"), col("src").as("nbr")))
      .localCheckpoint() // sample-bounded: ≤ 25 × deg rows
    val tri = np.as("a")
      .join(ed, col("a.nbr") === col("src"))
      .join(broadcast(np.as("b")),
        col("b.p") === col("a.p") && col("b.nbr") === col("dst"))
      .groupBy(col("a.p").as("part"))
      .agg(count(lit(1)).as("t"))
    sample.join(tri, col("p") === col("part"), "left")
      .select(col("p").as("part"), coalesce(col("t"), lit(0L)).as("triangles"))
      .orderBy("part")
  }

  /** n6: community detection by synchronous label propagation over the
    * weighted co-purchase graph — the sixth graph verb (n1 ranks, n2
    * scores, n3 traverses, n4 measures, n5 counts, n6 CLUSTERS): after
    * seeding every part with its own id, each round reassigns each node
    * the label carrying the largest incident edge-weight mass, and two
    * rounds later the label histogram is the community table (top 20 by
    * size). Classical async LPA is nondeterministic by design (visit
    * order decides ties); this is the SYNCHRONOUS variant with a total
    * tie order — (mass desc, label asc), folded into one exact
    * `max(struct(mass, -label))` aggregate — so the fixpoint prefix it
    * computes is a pure function of the data, like every other n* entry.
    * All arithmetic is exact integer (edge weights are co-purchase
    * counts; masses are bounded by a node's order participation), so
    * there is no numeric contract to defend — the oracle unrolls the
    * same two rounds with a row_number tie-break, provably the same
    * argmax. Scale: per round ONE edges⋈labels join and two map-side-
    * combined aggregations; label tables carry two longs; the memoized
    * edge set is shared with n1/n3/n4/n5 and never rebuilt. Unlike
    * n3/n4's SWINGING frontiers (where AQE's per-round choice is the
    * point), the label side is always exactly node-sized, so the join
    * takes n1/n2's SIZE-GATE: below `broadcastNodeLimit` the labels
    * broadcast onto the checkpointed edges; above it the edges
    * co-partition by dst ONCE (one exchange total, inside the
    * checkpoint build) and both rounds ship only label rows through
    * that preserved partitioning — never the edge set (spec-asserted,
    * n1's contract). Like n1/n2, the gate's node count runs at
    * DataFrame-construction time. */
  def n6LabelProp(spark: SparkSession, dir: String): DataFrame = {
    val e0 = coPurchaseEdges(spark, dir)
    val n = e0.select(col("src")).distinct().count()
    val useBroadcast = n <= broadcastNodeLimit(spark)
    val e = if (useBroadcast) e0 else coPartitionedCheckpoint(spark, e0, "dst")
    var labels = e.select(col("src").as("part")).distinct()
      .withColumn("lbl", col("part"))
    for (_ <- 1 to 2) {
      val lside = labels.select(col("part").as("dst"), col("lbl"))
      val mass = e
        .join(if (useBroadcast) broadcast(lside) else lside, Seq("dst"))
        .groupBy("src", "lbl").agg(sum("w").as("s"))
      labels = mass.groupBy("src")
        .agg(max(struct(col("s"), (-col("lbl")).as("nl"))).as("b"))
        .select(col("src").as("part"), (-col("b.nl")).as("lbl"))
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)
  }
}
