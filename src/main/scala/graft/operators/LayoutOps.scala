package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Data-layout operators: the write-side clustering that makes 100 TB
 * READS cheap. A parquet lake prunes with per-file min/max statistics;
 * pruning quality is decided by how tightly each file's value ranges hug
 * the rows it holds. Z-order (Morton) interleaving is the standard
 * multi-dimension clustering key (Delta/Iceberg `OPTIMIZE ZORDER BY`):
 * sorting by interleaved bits gives every contiguous run of rows a tight
 * RECTANGLE in (dim1, dim2) space, so predicates on EITHER dimension —
 * not just the leading sort key — skip most files.
 *
 * No counterpart in the reference (single-node SQLite index scans); this
 * is greenfield scale surface like the k1/j-family operators.
 */
object LayoutOps {
  import Tables._

  /** Fixed epoch-day base of the corpus date range (probed 9132..11630 at
    * every SF — the generator's range is scale-invariant); div 10 then an
    * 8-bit clamp quantizes to 0..249. */
  private val DayBase = 9132L

  /** Morton interleave of two 8-bit-quantized ints, bit b of x → bit 2b,
    * bit b of y → bit 2b+1 — built as one flat 16-term integer sum so the
    * whole key is a single codegen'd projection (and the SQL twin below
    * is the same formula verbatim). */
  private def zInterleave(x: Column, y: Column): Column =
    (0 until 8).map { b =>
      (shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)): Column
    }.reduce(_ + _)

  /** The same interleave as SQL text, for the DuckDB oracle: one formula,
    * two renderings, built from the same loop bounds. */
  def zInterleaveSql(x: String, y: String): String =
    (0 until 8).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")

  /** z5: Z-order clustering audit over lineitem on (quantity, ship-day).
    * Quantize both dims to 8 bits, Morton-interleave, and roll up the 256
    * coarse z-buckets (top 8 bits = a 16×16 grid cell): row count plus
    * each bucket's min/max extent in BOTH dimensions. The extents ARE the
    * min/max stats a writer laying files out in z-order would give every
    * file — tight rectangles (≤ ~16 units per dim per bucket, vs the full
    * 50×250 range a date-sorted layout gives the quantity dim) are what
    * turn per-file stats into real two-dimensional scan pruning.
    * The z-key scales quantity by 5 (1..50 → 5..250) before interleaving
    * so both dimensions spend their full 8-bit budget — z7's audit
    * MEASURED the unscaled form scanning more rows than a plain
    * qty-sort (2+ wasted bit positions widen every grid cell to 16 qty
    * units), and until r9 z5 shipped that inferior key while z7 audited
    * the scaled one (the r8 ADVICE mismatch); now layout and audit are
    * the same key. Integer-exact end to end; one scan, one 256-group
    * rollup — at 100 TB the map-side partial agg reduces each task to
    * ≤256 rows before the shuffle. */
  def z5ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val li = t(spark, dir, "lineitem")
      .withColumn("qx", col("l_quantity").cast("long"))
      // integer div end to end — `/` is IEEE double division in Spark SQL
      .withColumn("qy", least(lit(255L), greatest(lit(0L), expr(
        s"(unix_micros(cast(l_shipdate as timestamp)) div $dayUs - $DayBase) div 10"))))
    li.withColumn("zbucket", shiftright(zInterleave(col("qx") * 5, col("qy")), 8))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"),
        min("qx").as("qty_lo"), max("qx").as("qty_hi"),
        min("qy").as("day_lo"), max("qy").as("day_hi"))
      .orderBy("zbucket")
  }

  // ---------------------------------------------------------------- Hilbert

  /** One fold step of the order-8 Hilbert index (the textbook xy2d
    * iteration): at bit level b, quadrant bits (rx, ry) contribute
    * 4^b·((3·rx) XOR ry) to the index — rendered as the xor-free
    * arithmetic identity 3·rx + ry − 2·rx·ry so both engines run pure
    * +/−/× — and the frame then rotates/reflects for the next level
    * (ry=0 ∧ rx=1: (x,y) ← (255−y, 255−x); ry=0 ∧ rx=0: swap; ry=1:
    * unchanged — the complement form over the full 8-bit frame).
    * Returned as (x', y', dterm) Columns. [[hilbertStepSql]] is the same
    * step rendered as SQL text for the DuckDB oracle; the two renderings
    * are pinned together by the spec (Column chain ≡ an independent
    * imperative reference on all 65,536 cells) plus the oracle
    * hash-match (SQL chain ≡ Column chain on real data). */
  private def hilbertStep(b: Int, x: Column, y: Column): (Column, Column, Column) = {
    val rx = shiftright(x, b).bitwiseAND(lit(1L))
    val ry = shiftright(y, b).bitwiseAND(lit(1L))
    val dterm = lit(1L << (2 * b)) * (lit(3L) * rx + ry - lit(2L) * rx * ry)
    val xN = when(ry === 0, when(rx === 1, lit(255L) - y).otherwise(y)).otherwise(x)
    val yN = when(ry === 0, when(rx === 1, lit(255L) - x).otherwise(x)).otherwise(y)
    (xN, yN, dterm)
  }

  /** The same step as SQL text over column names `x`, `y` (DuckDB oracle
    * twin of [[hilbertStep]]). */
  private def hilbertStepSql(b: Int, x: String, y: String): (String, String, String) = {
    val rx = s"(($x >> $b) & 1)"
    val ry = s"(($y >> $b) & 1)"
    val dterm = s"(${1L << (2 * b)} * (3 * $rx + $ry - 2 * $rx * $ry))"
    val xN = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN 255 - $y ELSE $y END) ELSE $x END)"
    val yN = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN 255 - $x ELSE $x END) ELSE $y END)"
    (xN, yN, dterm)
  }

  /** Append `out` = the order-8 Hilbert index (0..65535) of the 8-bit
    * cell (`x`, `y`) — 8 chained projections, one per bit level, kept as
    * SEPARATE withColumns so Catalyst's CollapseProject keeps each level's
    * CASE expressions single-copy instead of inlining the whole chain into
    * one exponentially-duplicated tree. Pure integer column arithmetic:
    * codegen-friendly, no UDF, nothing shuffles. */
  private[graft] def withHilbertIndex(df: DataFrame, x: Column, y: Column,
      out: String): DataFrame = {
    // the fold threads state through fixed working names; a caller column
    // with the same name would be silently consumed as fold state
    require(!df.columns.exists(Set("_hx", "_hy", "_hx2", "_hy2")),
      "withHilbertIndex: input columns _hx/_hy/_hx2/_hy2 are reserved")
    val seed = df.withColumn("_hx", x.cast("long")).withColumn("_hy", y.cast("long"))
      .withColumn(out, lit(0L))
    val chained = (7 to 0 by -1).foldLeft(seed) { (cur, b) =>
      val (xN, yN, dterm) = hilbertStep(b, col("_hx"), col("_hy"))
      cur.withColumn(out, col(out) + dterm)
        .withColumn("_hx2", xN).withColumn("_hy2", yN)
        .drop("_hx", "_hy")
        .withColumnRenamed("_hx2", "_hx").withColumnRenamed("_hy2", "_hy")
    }
    chained.drop("_hx", "_hy")
  }

  /** The Hilbert chain as DuckDB CTE steps: `SELECT` bodies (so the
    * materialize fence engages on every level), threading (hx, hy, hd)
    * through `steps` levels from seed columns `x0`, `y0`. Returns the CTE
    * list text `h0 AS (…), …, h8 AS (…)`; the final level's `hd` is the
    * index. `carry` names the pass-through columns. */
  private def hilbertCtesSql(from: String, x0: String, y0: String,
      carry: Seq[String]): String = {
    val keep = carry.mkString(", ")
    val seed = s"h0 AS (SELECT $keep, $x0 AS hx, $y0 AS hy, 0 AS hd FROM $from)"
    val steps = (7 to 0 by -1).zipWithIndex.map { case (b, i) =>
      val (xN, yN, dterm) = hilbertStepSql(b, "hx", "hy")
      s"h${i + 1} AS (SELECT $keep, $xN AS hx, $yN AS hy, hd + $dterm AS hd FROM h$i)"
    }
    (seed +: steps).mkString(",\n")
  }

  /** The query rectangles z9 audits — constants shared by both renderings
    * (a single rectangle can flatter one curve; four shapes — the z7
    * rectangle, a qty-slice, a day-slice, and a point probe — make the
    * comparison honest). Bounds are in RAW (qty 1..50, day-bucket 0..249)
    * coordinates like z7's. */
  private[operators] final case class Rect(name: String, qlo: Long, qhi: Long,
      dlo: Long, dhi: Long)
  // lazy: QtyLo..DayHi are declared later in this object — a strict val
  // here would capture their pre-init zeros
  private[operators] lazy val Z9Rects = Seq(
    Rect("mid_square", QtyLo, QtyHi, DayLo, DayHi),
    Rect("narrow_qty", 10, 12, 0, 249),
    Rect("narrow_day", 1, 50, 200, 219),
    Rect("point_probe", 42, 42, 50, 59))

  /** Zone size (curve cells per zone) for z9 — deliberately NOT a power
    * of four: a writer cutting fixed-budget files along the sort key lands
    * file boundaries mid-curve, and with quadrant-ALIGNED zones (e.g.
    * index >> 8) both curves' zones collapse to the same 16×16 grid
    * blocks, merely visited in different order — measured: the two audits
    * coincide row-for-row at sf0.01. At 192 the misaligned cut exposes the
    * real difference: every Hilbert run of 192 cells is spatially compact
    * (unit-step adjacency), while Morton runs straddle quadrant seams with
    * long jumps — measured overhang 4,579 vs 7,463 rows at sf0.01. */
  private[graft] val Z9ZoneCells = 192L

  /** z9: HILBERT-curve clustering vs z-order, audited head-to-head — the
    * layout decision a 100 TB lake actually faces: Morton interleaving is
    * cheap but every bit-level seam makes long jumps, while the Hilbert
    * curve's rotations keep EVERY consecutive pair of cells adjacent, so
    * its zones tile query rectangles with less overhang. Same quantization
    * and ×5 qty scaling as z5/z7; zones are runs of [[Z9ZoneCells]]
    * consecutive curve cells (the fixed-file-budget cut a real writer
    * makes — see the constant's scaladoc for why NOT quadrant-aligned);
    * for each (layout, rectangle) the audit reports zone count, zones/rows
    * a min-max-pruned scan must touch, and true matches — rows_scanned −
    * rows_matched is exactly the read amplification the curve choice
    * costs. One scan, one 2-way explode, ≤684-group rollup with map-side
    * partials, then an 8-row result: the z7 scale discipline with the
    * curve swapped in. Integer-exact end to end. The measured winner is
    * SHIPPED: [[z10HilbertExport]] writes real parquet shards cut along
    * exactly this Hilbert key and zone width (r12 — audits must get
    * adopted, the r8 z5-key lesson). */
  def z9HilbertLayout(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val base = t(spark, dir, "lineitem")
      .withColumn("qx", col("l_quantity").cast("long"))
      .withColumn("qy", least(lit(255L), greatest(lit(0L), expr(
        s"(unix_micros(cast(l_shipdate as timestamp)) div $dayUs - $DayBase) div 10"))))
      .withColumn("kx", col("qx") * 5)
    val marked = withHilbertIndex(base, col("kx"), col("qy"), "hd")
      .withColumn("hbucket", expr(s"hd div $Z9ZoneCells"))
      .withColumn("zv", zInterleave(col("kx"), col("qy")))
      .withColumn("zbucket", expr(s"zv div $Z9ZoneCells"))
    val exploded = marked.select(col("qx"), col("qy"), explode(array(
      struct(lit("hilbert").as("layout"), col("hbucket").as("shard")),
      struct(lit("zorder").as("layout"), col("zbucket").as("shard")))).as("m"))
      .select(col("m.layout").as("layout"), col("m.shard").as("shard"),
        col("qx"), col("qy"))
    val matchCols = Z9Rects.zipWithIndex.map { case (r, i) =>
      sum(when(col("qx").between(r.qlo, r.qhi) && col("qy").between(r.dlo, r.dhi),
        1L).otherwise(0L)).as(s"m$i")
    }
    val aggs = Seq(count(lit(1)).as("n"),
      min("qx").as("qlo"), max("qx").as("qhi"),
      min("qy").as("dlo"), max("qy").as("dhi")) ++ matchCols
    val zones = exploded.groupBy("layout", "shard").agg(aggs.head, aggs.tail: _*)
    val rectRows = zones.select(col("layout") +: col("n") +:
      Seq("qlo", "qhi", "dlo", "dhi").map(col) :+
      explode(array(Z9Rects.zipWithIndex.map { case (r, i) =>
        struct(lit(r.name).as("rect"),
          lit(r.qlo).as("rqlo"), lit(r.qhi).as("rqhi"),
          lit(r.dlo).as("rdlo"), lit(r.dhi).as("rdhi"),
          col(s"m$i").as("matched"))
      }: _*)).as("r"): _*)
    val scanned = col("qhi") >= col("r.rqlo") && col("qlo") <= col("r.rqhi") &&
      col("dhi") >= col("r.rdlo") && col("dlo") <= col("r.rdhi")
    rectRows.groupBy(col("layout"), col("r.rect").as("rect"))
      .agg(count(lit(1)).as("zones_total"),
        sum(when(scanned, 1L).otherwise(0L)).as("zones_scanned"),
        sum(when(scanned, col("n")).otherwise(0L)).as("rows_scanned"),
        sum(col("r.matched")).as("rows_matched"))
      .orderBy("layout", "rect")
  }

  /** The z9 oracle: the Hilbert chain as 9 fenced CTE levels (same step
    * text generator), z-interleave twin, and the same zone→rect audit —
    * rect constants rendered from the SAME [[Z9Rects]] list. */
  def z9OracleSql: String = {
    val matchSums = Z9Rects.zipWithIndex.map { case (r, i) =>
      s"sum(CASE WHEN qx BETWEEN ${r.qlo} AND ${r.qhi} AND qy BETWEEN ${r.dlo} AND ${r.dhi} THEN 1 ELSE 0 END) AS m$i"
    }.mkString(",\n    ")
    val rectSelects = Z9Rects.zipWithIndex.map { case (r, i) =>
      s"SELECT layout, '${r.name}' AS rect, n, qlo, qhi, dlo, dhi, ${r.qlo} AS rqlo, ${r.qhi} AS rqhi, ${r.dlo} AS rdlo, ${r.dhi} AS rdhi, m$i AS matched FROM zn"
    }.mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qx,
       |    least(255, greatest(0, (epoch_us(l_shipdate) // 86400000000 - $DayBase) // 10)) AS qy,
       |    CAST(l_quantity AS BIGINT) * 5 AS kx
       |  FROM lineitem),
       |${hilbertCtesSql("b", "kx", "qy", Seq("qx", "qy", "kx"))},
       |z AS (SELECT qx, qy, hd // $Z9ZoneCells AS hb,
       |    (${zInterleaveSql("kx", "qy")}) // $Z9ZoneCells AS zb
       |  FROM h8),
       |u AS (SELECT 'hilbert' AS layout, hb AS shard, qx, qy FROM z
       |  UNION ALL SELECT 'zorder' AS layout, zb AS shard, qx, qy FROM z),
       |zn AS (SELECT layout, shard, count(*) AS n,
       |    min(qx) AS qlo, max(qx) AS qhi, min(qy) AS dlo, max(qy) AS dhi,
       |    $matchSums
       |  FROM u GROUP BY 1, 2),
       |rr AS ($rectSelects)
       |SELECT layout, rect, count(*) AS zones_total,
       |  CAST(sum(CASE WHEN qhi >= rqlo AND qlo <= rqhi AND dhi >= rdlo AND dlo <= rdhi
       |    THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
       |  CAST(sum(CASE WHEN qhi >= rqlo AND qlo <= rqhi AND dhi >= rdlo AND dlo <= rdhi
       |    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST(sum(matched) AS BIGINT) AS rows_matched
       |FROM rr GROUP BY 1, 2 ORDER BY layout, rect""".stripMargin
  }

  /** Target shard payload for z6's bin-pack plan (chars per output shard). */
  private[operators] val ShardChars = 50000L

  /** z6: output-shard bin-packing — the shard-writer PLAN a corpus export
    * runs before materializing files: documents concatenate per source in
    * doc_id order and a doc belongs to the shard its START offset falls
    * in (whole-doc units — the file-writer convention, vs z3's token-level
    * chop where documents SPLIT across sequences). Emits the per-shard
    * manifest (doc count, char payload, id range) that becomes the file
    * plan; the payload hovers just over [[ShardChars]] because the
    * straddling doc stays whole. Scale: the window partitions by source —
    * embarrassing parallelism across sources; ONE pathological mega-source
    * re-ranks through the ExactOffsets scaffold instead (same output,
    * y9/z3's discipline). Only (id, source, n_chars) rows shuffle. */
  def z6ShardBinpack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    t(spark, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("fin", sum("n_chars").over(w))
      .withColumn("shard", expr(s"(fin - n_chars) DIV $ShardChars"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("shard_chars"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("source", "shard")
  }

  /** z7's fixed audit predicate: qty ∈ [30,35] (12% of the 1..50 range) ×
    * ship-decade ∈ [100,149] (20% of 0..249) — ~2.4% row selectivity, the
    * shape where layout decides whether a scan reads 2% or 20% of files. */
  private val QtyLo = 30L
  private val QtyHi = 35L
  private val DayLo = 100L
  private val DayHi = 149L

  /** z7: zone-map skip audit — the quantified case for z5's layout. Every
    * warehouse prunes scans with per-file min/max stats; how much they
    * prune is a pure function of LAYOUT. This query plays one fixed
    * two-dimensional predicate against three shardings of the same
    * corpus — z5's Morton z-buckets, a day-sorted layout (qy), a
    * qty-sorted layout (qx) — and reports, per layout, the zone count,
    * the zones a stats-pruning reader must scan (zone rectangle
    * intersects the predicate box), the rows inside those zones (the
    * actual I/O), and the true matching rows (the floor any layout is
    * chasing). Single-dimension sorts prune ONLY their own dimension
    * (day-sorted reads ~20%, qty-sorted ~12% of rows); the z-order grid
    * prunes both — the measured reason z5 exists. One pitfall is itself
    * part of the audit: interleaving the RAW 1..50 quantity against the
    * 0..249 day code wastes 2+ of quantity's 8 bit positions and widens
    * every grid cell to 16 qty units (a first z7 run measured that form
    * scanning MORE rows than the plain qty-sort), so the z-key scales
    * quantity by 5 (5..250) before interleaving — equal per-dimension
    * resolution, the textbook z-order practice. Scale: ONE corpus
    * pass — each row explodes into its three (layout, shard)
    * memberships and the map-side partial agg collapses every task to
    * ≤ ~560 zone rows before the only exchange; the second agg is 3
    * groups. Exact integers end to end. */
  def z7ZoneSkip(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val base = t(spark, dir, "lineitem")
      .withColumn("qx", col("l_quantity").cast("long"))
      .withColumn("qy", least(lit(255L), greatest(lit(0L), expr(
        s"(unix_micros(cast(l_shipdate as timestamp)) div $dayUs - $DayBase) div 10"))))
      .withColumn("zbucket",
        shiftright(zInterleave(col("qx") * 5, col("qy")), 8))
    val exploded = base.select(col("qx"), col("qy"), explode(array(
      struct(lit("zorder").as("layout"), col("zbucket").as("shard")),
      struct(lit("linear_day").as("layout"), col("qy").as("shard")),
      struct(lit("linear_qty").as("layout"), col("qx").as("shard")))).as("m"))
      .select(col("m.layout").as("layout"), col("m.shard").as("shard"),
        col("qx"), col("qy"))
    val matches = col("qx").between(QtyLo, QtyHi) && col("qy").between(DayLo, DayHi)
    val zones = exploded.groupBy("layout", "shard")
      .agg(count(lit(1)).as("n"),
        min("qx").as("qlo"), max("qx").as("qhi"),
        min("qy").as("dlo"), max("qy").as("dhi"),
        sum(when(matches, 1L).otherwise(0L)).as("m"))
    val scanned = col("qhi") >= QtyLo && col("qlo") <= QtyHi &&
      col("dhi") >= DayLo && col("dlo") <= DayHi
    zones.groupBy("layout")
      .agg(count(lit(1)).as("zones_total"),
        sum(when(scanned, 1L).otherwise(0L)).as("zones_scanned"),
        sum(when(scanned, col("n")).otherwise(0L)).as("rows_scanned"),
        sum(col("m")).as("rows_matched"))
      .orderBy("layout")
  }

  /** The z7 oracle: the same three audits, rendered as three explicit
    * zone rollups over the shared quantization (UNION ALL instead of the
    * explode — DuckDB scans thrice, the decision logic is identical). */
  def z7OracleSql: String = {
    def audit(layout: String, shard: String): String =
      s"""SELECT '$layout' AS layout, $shard AS shard, count(*) AS n,
         |  min(qx) AS qlo, max(qx) AS qhi, min(qy) AS dlo, max(qy) AS dhi,
         |  sum(CASE WHEN qx BETWEEN $QtyLo AND $QtyHi AND qy BETWEEN $DayLo AND $DayHi
         |      THEN 1 ELSE 0 END) AS m
         |FROM z GROUP BY 2""".stripMargin
    s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qx,
       |    least(255, greatest(0, (epoch_us(l_shipdate) // 86400000000 - $DayBase) // 10)) AS qy
       |  FROM lineitem),
       |z AS (SELECT qx, qy, (${zInterleaveSql("(qx * 5)", "qy")}) >> 8 AS zbucket FROM b),
       |u AS (${audit("zorder", "zbucket")}
       |  UNION ALL ${audit("linear_day", "qy")}
       |  UNION ALL ${audit("linear_qty", "qx")})
       |SELECT layout, count(*) AS zones_total,
       |  CAST(sum(CASE WHEN qhi >= $QtyLo AND qlo <= $QtyHi AND dhi >= $DayLo AND dlo <= $DayHi
       |    THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
       |  CAST(sum(CASE WHEN qhi >= $QtyLo AND qlo <= $QtyHi AND dhi >= $DayLo AND dlo <= $DayHi
       |    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST(sum(m) AS BIGINT) AS rows_matched
       |FROM u GROUP BY 1 ORDER BY layout""".stripMargin
  }

  // ------------------------------------------------------- z10: the writer

  /** Export root memo for z10 — one write per (session, corpus), the z8
    * discipline: the driver row reads back what is actually on disk. */
  private[graft] val memo = new graft.BenchMemos.CountedMemo("LayoutOps")

  /** Write lineitem sharded along the HILBERT curve (idempotent per
    * session) and return the root: `<root>/hshard=<n>/part-*.parquet`.
    * The shard key is the z9-audited cut — [[Z9ZoneCells]] consecutive
    * curve cells per shard — and the landed columns are the row identity
    * plus the quantized dims (4 longs/row, never wide payloads: the z8
    * manifest discipline). One hash-cluster shuffle on the shard key groups rows by
    * shard so each write task lands a handful of shard directories. */
  /** The quantized (l_orderkey, qx, qy, kx) projection of lineitem — the
    * z5/z7/z9/z10 key math in one place, shared with the streamed writer's
    * staging so both writers cut the identical key. */
  private[graft] def quantizedLineitem(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    t(spark, dir, "lineitem")
      .withColumn("qx", col("l_quantity").cast("long"))
      .withColumn("qy", least(lit(255L), greatest(lit(0L), expr(
        s"(unix_micros(cast(l_shipdate as timestamp)) div $dayUs - $DayBase) div 10"))))
      .withColumn("kx", col("qx") * 5)
      .select("l_orderkey", "qx", "qy", "kx")
  }

  /** One frame of quantized rows → Hilbert-sharded parquet appended under
    * `out` — the per-batch body of the streamed writer and the whole-corpus
    * body of the batch writer (same fold, same shard key, same landed
    * columns). HASH-clustered on the shard key, not range: every hshard
    * value still lands wholly in one task (one file per shard per write,
    * same as range clustering), but `repartitionByRange` additionally runs
    * a range-boundary SAMPLING job that re-executes the whole upstream —
    * the 16-level Hilbert fold over every row — once per call (r17
    * measured: one extra job per micro-batch in st20 and per export in
    * z10, ~2× the fold work). Shard-to-file grouping is what the write
    * needs; inter-shard ORDER across tasks is irrelevant to a
    * `partitionBy` write, so the sample pass bought nothing. */
  private[graft] def landHilbertShards(rows: DataFrame, out: String,
      mode: String): Unit =
    hilbertShardFrame(rows)
      .write.partitionBy("hshard").mode(mode).parquet(out)

  /** The pre-write shard frame (factored so ExplainDump can show the
    * writer's exchange shape — the r17 range→hash evidence). The
    * partition count is PINNED to the cluster's default parallelism:
    * without it AQE coalesces this (bytes-tiny) exchange to ~1 task,
    * and that one task then opens all ~342 per-shard parquet writers
    * SEQUENTIALLY — measured ~3.5 s/batch of pure writer init at sf0.1,
    * the dominant streamed-lake cost. AQE optimizes for shuffle bytes
    * and cannot see the downstream per-FILE cost; the explicit width
    * spreads writer init across cores and stays scale-adaptive (derived
    * from the session's core count, not a constant). Each hshard still
    * hashes wholly into one task — one file per shard per write. */
  private[graft] def hilbertShardFrame(rows: DataFrame): DataFrame =
    withHilbertIndex(rows, col("kx"), col("qy"), "hd")
      .withColumn("hshard", expr(s"hd div $Z9ZoneCells"))
      .select("hshard", "l_orderkey", "qx", "qy", "hd")
      .repartition(rows.sparkSession.sparkContext.defaultParallelism,
        col("hshard"))

  private[operators] def hilbertExportRoot(spark: SparkSession, dir: String): String =
    memo.withScratch(spark, dir, "graft-z10-export") { d =>
      val out = d.resolve("shards").toString
      landHilbertShards(quantizedLineitem(spark, dir), out, "overwrite")
      out
    }

  /** z10: the Hilbert sharded WRITER — z9 measured the Hilbert curve
    * reading ~1.6× fewer overhang rows than Morton at the misaligned
    * 192-cell zone cut, and this operator SHIPS that winner instead of
    * leaving it an audit (the r8 z5-key lesson: a measured superior that
    * nothing adopts is a finding, not a feature). lineitem lands as real
    * partitioned parquet cut along the curve ([[hilbertExportRoot]]), and
    * the driver row is z7's zone-skip audit replayed over the WRITTEN
    * files: per shard directory, the min/max stats a pruning reader keeps,
    * then per z9 rectangle the files/rows such a reader must touch vs the
    * true matches. The oracle re-derives every number from the BASE table
    * through the same Hilbert CTE chain — a hash match proves the landed
    * layout is exactly the claimed curve cut (wrong shard key, dropped
    * rows, or a partition-encoding slip all break it). Scale: the write
    * is one shard-key hash shuffle + streaming parquet write (≤342 shard dirs at
    * any corpus size — a 100 TB run subdivides shards by file budget, the
    * z8 SeqsPerShard move); the audit is one scan of the landed files
    * with a ≤342-group map-side rollup. */
  def z10HilbertExport(spark: SparkSession, dir: String): DataFrame =
    hilbertTreeAudit(spark, hilbertExportRoot(spark, dir))

  /** The from-disk zone-skip audit over ANY Hilbert-sharded tree rooted at
    * `root` — z10's read side, shared with the STREAMED writer (st20):
    * whoever landed the files, the audit derives every number from what is
    * actually on disk, and the z10 oracle re-derives it from the base
    * table — so batch and streamed writers are held to the identical
    * contract. */
  private[graft] def hilbertTreeAudit(spark: SparkSession, root: String): DataFrame = {
    val landed = spark.read.parquet(root)
      // partition-directory values read back via type inference (INT for
      // these magnitudes); the audit keys on the landed LONG
      .withColumn("shard", col("hshard").cast("long"))
    val matchCols = Z9Rects.zipWithIndex.map { case (r, i) =>
      sum(when(col("qx").between(r.qlo, r.qhi) && col("qy").between(r.dlo, r.dhi),
        1L).otherwise(0L)).as(s"m$i")
    }
    val aggs = Seq(count(lit(1)).as("n"),
      min("qx").as("qlo"), max("qx").as("qhi"),
      min("qy").as("dlo"), max("qy").as("dhi")) ++ matchCols
    val zones = landed.groupBy("shard").agg(aggs.head, aggs.tail: _*)
    val rectRows = zones.select(col("n") +:
      Seq("qlo", "qhi", "dlo", "dhi").map(col) :+
      explode(array(Z9Rects.zipWithIndex.map { case (r, i) =>
        struct(lit(r.name).as("rect"),
          lit(r.qlo).as("rqlo"), lit(r.qhi).as("rqhi"),
          lit(r.dlo).as("rdlo"), lit(r.dhi).as("rdhi"),
          col(s"m$i").as("matched"))
      }: _*)).as("r"): _*)
    val scanned = col("qhi") >= col("r.rqlo") && col("qlo") <= col("r.rqhi") &&
      col("dhi") >= col("r.rdlo") && col("dlo") <= col("r.rdhi")
    rectRows.groupBy(col("r.rect").as("rect"))
      .agg(count(lit(1)).as("files_total"),
        sum(when(scanned, 1L).otherwise(0L)).as("files_scanned"),
        sum(when(scanned, col("n")).otherwise(0L)).as("rows_scanned"),
        sum(col("r.matched")).as("rows_matched"))
      .orderBy("rect")
  }

  /** The z10 oracle: the base table through the same Hilbert CTE chain,
    * zones = `hd // Z9ZoneCells`, then the z9 rect audit for the single
    * hilbert layout — covering the WRITTEN layout because the Spark side
    * read every number back from the landed files. */
  def z10OracleSql: String = {
    val matchSums = Z9Rects.zipWithIndex.map { case (r, i) =>
      s"sum(CASE WHEN qx BETWEEN ${r.qlo} AND ${r.qhi} AND qy BETWEEN ${r.dlo} AND ${r.dhi} THEN 1 ELSE 0 END) AS m$i"
    }.mkString(",\n    ")
    val rectSelects = Z9Rects.zipWithIndex.map { case (r, i) =>
      s"SELECT '${r.name}' AS rect, n, qlo, qhi, dlo, dhi, ${r.qlo} AS rqlo, ${r.qhi} AS rqhi, ${r.dlo} AS rdlo, ${r.dhi} AS rdhi, m$i AS matched FROM zn"
    }.mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qx,
       |    least(255, greatest(0, (epoch_us(l_shipdate) // 86400000000 - $DayBase) // 10)) AS qy,
       |    CAST(l_quantity AS BIGINT) * 5 AS kx
       |  FROM lineitem),
       |${hilbertCtesSql("b", "kx", "qy", Seq("qx", "qy", "kx"))},
       |zn AS (SELECT hd // $Z9ZoneCells AS shard, count(*) AS n,
       |    min(qx) AS qlo, max(qx) AS qhi, min(qy) AS dlo, max(qy) AS dhi,
       |    $matchSums
       |  FROM h8 GROUP BY 1),
       |rr AS ($rectSelects)
       |SELECT rect, count(*) AS files_total,
       |  CAST(sum(CASE WHEN qhi >= rqlo AND qlo <= rqhi AND dhi >= rdlo AND dlo <= rdhi
       |    THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |  CAST(sum(CASE WHEN qhi >= rqlo AND qlo <= rqhi AND dhi >= rdlo AND dlo <= rdhi
       |    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST(sum(matched) AS BIGINT) AS rows_matched
       |FROM rr GROUP BY 1 ORDER BY rect""".stripMargin
  }

  /** The z5 oracle: same quantization constants and the SAME generated
    * interleave formula (one loop renders both engines' expressions). */
  def z5OracleSql: String =
    s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qx,
       |    least(255, greatest(0, (epoch_us(l_shipdate) // 86400000000 - $DayBase) // 10)) AS qy
       |  FROM lineitem),
       |z AS (SELECT qx, qy, ${zInterleaveSql("(qx * 5)", "qy")} AS zv FROM b)
       |SELECT zv >> 8 AS zbucket, count(*) AS n_rows,
       |  min(qx) AS qty_lo, max(qx) AS qty_hi, min(qy) AS day_lo, max(qy) AS day_hi
       |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin
}
