package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{text => T}
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

  /** Runs `body` with splits small enough that the session plans several
    * for a few-KB file. */
  private def smallSplits[A](body: => A): A = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

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

  test("documents: a filter over the spread stays above the exchange and runs on every split") {
    val dir = Files.createTempDirectory("graft-docs-fence").toString
    docs(3000).coalesce(1).write.parquet(s"$dir/documents.parquet")
    smallSplits {
      // a text-kernel gate whose every evaluation records its task's split
      val splits = spark.sparkContext.collectionAccumulator[Int]("gate splits")
      val gate = udf { (t: String) =>
        splits.add(TaskContext.getPartitionId()); !t.contains(" 3 things")
      }
      val docsDf = Tables.documents(spark, dir)
      val gated = docsDf.filter(gate(T.normKey(col("text"))) && length(col("text")) > 10)
      val kept = gated.collect()
      assert(kept.length == docsDf.filter(!col("text").contains(" 3 things")).count())
      val plan = gated.queryExecution.executedPlan
      val spreads = Stages.collect(plan) {
        case e: ShuffleExchangeLike if e.child.exists(_.isInstanceOf[FileSourceScanExec]) => e
      }
      assert(spreads.size == 1, s"one redistribution exchange above the scan:\n$plan")
      assert(!spreads.head.child.exists(_.isInstanceOf[FilterExec]),
        s"no Filter between the scan and the redistribution:\n$plan")
      assert(spreads.head.child.collect { case s: FileSourceScanExec => s.dataFilters }
        .forall(_.isEmpty), s"no filter pushed into the scan:\n$plan")
      val ran = splits.value.asScala.groupBy(identity).view.mapValues(_.size).toMap
      assert(ran.size >= 2, s"the gate must run on at least 2 splits: $ran")
      assert(ran.values.sum == 3000, s"the gate runs once per document: $ran")
    }
  }
}
