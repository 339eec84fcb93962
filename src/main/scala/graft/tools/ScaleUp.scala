package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build an sf1-equivalent corpus by replicating sf0.1 `copies` times with
  * shifted keys — the empirical ground for the "would this plan survive a
  * 10x scale-up" claims (VERDICT r6 item 3). Copies are DISJOINT worlds:
  *
  *   - every key column shifts by `i * offset` (offsets far above the sf0.1
  *     maxima, asserted), so joins/sessions/clusters never link copies and
  *     the workload scales LINEARLY — the honest scale test. Replicating
  *     documents verbatim would instead multiply near-dup cluster sizes by
  *     `copies` and pair counts by `copies`^2: a different (quadratic)
  *     workload, not a bigger one.
  *   - document text gets a copy-specific token prefix (`c3tok`), keeping
  *     each copy's shingle/dup structure identical to the original while
  *     making vocabularies disjoint across copies; n_chars is recomputed.
  *   - dimension tables (region, nation) stay single-copy, like real dims.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [copies]
  * Cores come from `SPARK_GRAFT_CPUS` (default 4, as Bench, Verify, QTime).
  * Then:  SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val K = 10L * 1000 * 1000 // key shift unit, >> every sf0.1 key maximum

    def load(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    def assertBound(df: DataFrame, colName: String): Unit = {
      val m = df.agg(max(col(colName))).head().getLong(0)
      require(m < K, s"$colName max $m exceeds shift unit $K — raise K")
    }

    /** Replicate with the given per-copy column transforms (i = copy id). */
    def replicate(name: String, transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = load(name)
      val all = (0 until copies).map(i => transform(base, i)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${base.count()} -> ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    def shift(c: String, i: Int) = col(c) + lit(i * K)

    // dims: single copy
    Seq("region", "nation").foreach { nm =>
      load(nm).write.mode("overwrite").parquet(s"$out/$nm.parquet")
      println(s"[scaleup] $nm: dims copied once")
    }
    Seq("customer" -> "c_custkey", "supplier" -> "s_suppkey", "part" -> "p_partkey",
      "orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach { case (nm, k) =>
      assertBound(load(nm), k)
    }
    replicate("customer", (df, i) => df.withColumn("c_custkey", shift("c_custkey", i)))
    replicate("supplier", (df, i) => df.withColumn("s_suppkey", shift("s_suppkey", i)))
    replicate("part", (df, i) => df.withColumn("p_partkey", shift("p_partkey", i)))
    replicate("orders", (df, i) => df
      .withColumn("o_orderkey", shift("o_orderkey", i))
      .withColumn("o_custkey", shift("o_custkey", i)))
    replicate("lineitem", (df, i) => df
      .withColumn("l_orderkey", shift("l_orderkey", i))
      .withColumn("l_partkey", shift("l_partkey", i))
      .withColumn("l_suppkey", shift("l_suppkey", i)))
    replicate("events", (df, i) => df
      .withColumn("event_id", shift("event_id", i))
      .withColumn("user_id", shift("user_id", i)))
    replicate("documents", (df, i) => {
      val prefixed =
        if (i == 0) df
        else df.withColumn("text", regexp_replace(col("text"), "(^|\\s)", s"$$1c$i"))
      prefixed
        .withColumn("doc_id", shift("doc_id", i))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    replicate("embeddings", (df, i) => df.withColumn("vec_id", shift("vec_id", i)))
    spark.stop()
  }
}
