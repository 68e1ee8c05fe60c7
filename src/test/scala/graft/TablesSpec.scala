package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

class TablesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private object Stages extends AdaptiveSparkPlanHelper

  private def docs(n: Int) =
    (1 to n).map(i => (i.toLong, s"document $i says ${i % 7} things about ${i * 31 % 101}"))
      .toDF("doc_id", "text")

  private def nonEmptyPartitions(df: DataFrame): Int =
    df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)

  private def exchanges(df: DataFrame): Int =
    Stages.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size

  test("documents: a single-row-group file under a multi-split session fills its splits") {
    val dir = Files.createTempDirectory("graft-docs-1rg").toString
    docs(3000).coalesce(1).write.parquet(s"$dir/documents.parquet")
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try {
      val plain = spark.read.parquet(s"$dir/documents.parquet")
      assert(plain.rdd.getNumPartitions > 1, "the session must plan several splits")
      assert(nonEmptyPartitions(plain) == 1, "one row group fills one split")
      val spread = Tables.documents(spark, dir)
      assert(nonEmptyPartitions(spread) >= 2)
      assert(spread.collect().toSet == plain.collect().toSet)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("documents: files holding as many row groups as planned splits keep the plain scan") {
    val dir = Files.createTempDirectory("graft-docs-nrg").toString
    docs(400).repartition(4).write.parquet(s"$dir/documents.parquet")
    val plain = spark.read.parquet(s"$dir/documents.parquet")
    assert(plain.rdd.getNumPartitions > 1, "the session must plan several splits")
    val df = Tables.documents(spark, dir)
    assert(exchanges(df) == 0, s"no Exchange above the scan:\n${df.queryExecution.executedPlan}")
    assert(df.count() == 400)
  }
}
