package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import java.nio.file.Files

class TablesSpec extends SparkSpec {

  test("fanOutSmallScan fans a one-partition parquet scan out under DSv1 and DSv2 reads alike") {
    val path = Files.createTempDirectory("graft-fanout").toString + "/docs.parquet"
    spark.range(0, 1000).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .coalesce(1).write.parquet(path)
    val target = spark.sparkContext.defaultParallelism
    assert(target > 1, "the fan-out needs more than one core to show")
    def fanOut(df: DataFrame): Option[Int] =
      Tables.fanOutSmallScan(df, "doc_id").queryExecution.logical.collectFirst {
        case r: RepartitionByExpression => r.numPartitions
      }
    assert(fanOut(spark.read.parquet(path)) === Some(target), "DSv1 scan")
    val conf = "spark.sql.sources.useV1SourceList"
    val saved = spark.conf.getOption(conf)
    spark.conf.set(conf, "")
    try {
      val v2 = spark.read.parquet(path)
      assert(v2.queryExecution.sparkPlan.collectLeaves().exists(_.isInstanceOf[BatchScanExec]),
        "with no v1 sources the read must plan as a DSv2 BatchScanExec")
      assert(fanOut(v2) === Some(target), "DSv2 scan")
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }
}
