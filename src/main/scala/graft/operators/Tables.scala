package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Shared table loaders + oracle-parity helpers for the driver queries. */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // NOTE: nanosAsLong is a session-global conf and deliberately stays set
      // (the lazy plans built here consult it again at execution time); any
      // TIMESTAMP(NANOS) parquet read in the session will see nanos as BIGINT,
      // which normalizeEventTs then converts.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped as different physical encodings across testdata
    * generations: TIMESTAMP(NANOS) parquet (unrepresentable in Spark — read
    * as BIGINT nanos under `spark.sql.legacy.parquet.nanosAsLong` and
    * truncated to micros, the same truncation a µs-writing producer would
    * apply) and TIMESTAMP_NTZ micros (pandas `timestamp[us]` without tz).
    * Normalize every shape to the native session-tz TIMESTAMP — sessions
    * here run UTC, so the NTZ cast is a pure reinterpretation — so all
    * downstream event consumers (and their DuckDB oracles via `epoch_us`)
    * see one type regardless of which generation wrote the file. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  /**
   * Exact money aggregation: sum in DECIMAL (order-independent, exact)
   * and surface as DOUBLE so results are bitwise-identical across Spark
   * partitionings AND across engines (DuckDB oracle uses the same cast
   * chain). Never sum raw doubles in an oracle-checked query — partition
   * order would change the last ulp.
   */
  def moneySum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Same trick for a derived money expression with more scale. */
  def moneySumExpr(c: Column): Column = sum(c.cast("decimal(28,6)")).cast("double")

  /** Truncating-tail 3-word shingles of a space-tokenized text column —
    * the ONE formula every shingle consumer (x9/y4/y8 column-side, x3's
    * JVM `shingleHashes`, and all their DuckDB oracles' list
    * comprehensions) must agree on: `toks[i..i+2]` for
    * `i in 1..max(len-2, 1)`. Keep the copies in sync by not having
    * copies. */
  def wordShingles(text: Column): Column = {
    val toks = split(text, " ")
    transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(3))))
  }

  /** Spread a small scan across the session's cores before an expensive
    * per-row JVM stage (decode, hash, tokenize). A sub-128 MB single-file
    * parquet plans as ONE scan partition (and `openCostInBytes`/row-group
    * granularity keep it that way however the split confs are tuned), so
    * every downstream mapPartitions decode pass ran single-threaded
    * regardless of core count (r17: the m-family decode passes and the
    * dedupe family's tokenize pass were serialized on one task at bench
    * SFs — documents.parquet is 0.6 MB at sf0.1). CONDITIONAL by
    * partition count: when the scan already has >= parallelism partitions
    * (the 100 TB shape — many files), this is a no-op and payload bytes
    * never shuffle, preserving the m-family discipline; only the
    * small-corpus/expensive-row regime pays the (tiny) one-pass shuffle.
    * Hash-clustered on the row key: deterministic row→partition
    * assignment (retry-safe — no round-robin, so no sort-before-
    * repartition pass and no SPARK-38388 exposure). */
  def fanOutSmallScan(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // The partition count is read from the physical plan's file-scan
    // leaves, NOT via df.rdd (r18, advisor finding): .rdd compiles a
    // SECOND physical lineage per call and — under AQE, if a caller ever
    // passed a frame containing an exchange — would materialize upstream
    // query stages (real Spark jobs) at plan-construction time.
    // sparkPlan.collectLeaves() never executes anything; a file scan —
    // DSv1 FileSourceScanExec, or DSv2 BatchScanExec when a source is
    // dropped from spark.sql.sources.useV1SourceList — packs its splits
    // driver-side from the (cached) file index. Callers pass narrow
    // scan-lineage frames, so the leaf scan count IS the frame's partition
    // count. Any other leaf means the frame is not the single-small-parquet
    // regime this helper exists for — leave it alone (the scale-safe
    // default: no shuffle).
    val leaves = df.queryExecution.sparkPlan.collectLeaves()
    val scanParts = leaves.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().map(_.getNumPartitions).sum
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDDs().map(_.getNumPartitions).sum
    }
    if (scanParts.size != leaves.size || scanParts.sum >= target) df
    else df.repartition(target, col(key))
  }

  /** Sequential double fold dot-product over two float arrays.
    * Matches DuckDB `list_dot_product(a::DOUBLE[], b::DOUBLE[])` bitwise
    * (verified: both are a left fold in double over float32-widened values).
    * Backed by the native codegen'd DotProductF expression (one fused loop,
    * no per-element lambda dispatch); FunctionsSpec asserts it is bitwise
    * equal to the zip_with/aggregate fold.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProductF.dotF(a, b)
}
