package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.{Dedup, Graph}
import graft.util.{Fixpoint, Lineage, Side}

/** Lineage cuts as round state: exact ownership of checkpoint blocks. */
class LineageSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a cut whose final stage fails surfaces the error and leaks no block") {
    val boom = udf((x: Long) =>
      if (x == 7L) throw new IllegalStateException("boom at row 7") else x)
    // one stage: the row that throws runs in the job that fills the cut
    val failing = spark.range(0, 20, 1, 4).select(boom(col("id")).as("x"))
    val before = persisted
    val ex = intercept[Exception](Lineage.cut(failing))
    val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("boom at row 7")), ex)
    assert((persisted -- before).isEmpty, "a failed cut must not leave its blocks persisted")
  }

  test("two round loops run at once in one session, each as it runs alone") {
    // a long chain (connectedComponents needs ~log2(400) rounds) and a
    // many-round labelPropagation over a ring with chords, so the two
    // loops' cuts and releases interleave
    val n = 400L
    val chainNodes = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    val ring = (0L until 60L).map(i => (i, (i + 1) % 60)) ++
      (0L until 60L by 7).map(i => (i, (i + 20) % 60))
    val ringEdges = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    def components() = Dedup.connectedComponents(chainNodes, "id", chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def communities() = Graph.labelPropagation(ringEdges, 24)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (ccAlone, lpAlone) = (components(), communities())
    assert(ccAlone == (0L until n).map(_ -> 0L).toMap)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val (ccTogether, lpTogether) =
        Await.result(Future(components()).zip(Future(communities())), 5.minutes)
      assert(ccTogether == ccAlone)
      assert(lpTogether == lpAlone)
    } finally pool.shutdown()
  }

  test("a side aggregate folded by the cut's job equals the separate aggregate") {
    val big = Long.MaxValue - 3
    // nulls, a sum past Long.MaxValue, and more partitions than rows
    val df = Seq[(Option[Long], Option[Long])]((Some(big), Some(3L)), (Some(big), None),
      (Some(-5L), Some(3L)), (None, Some(-1L)), (Some(7L), Some(11L)))
      .toDF("v", "b").repartition(8)
    val (c1, total) = Lineage.measured(df, Side.sum("v"))
    val (c2, rows) = Lineage.measured(df, Side.rows)
    val (c3, buckets) = Lineage.measured(df, Side.distinct("b"))
    try {
      val exactSum = df.agg(sum(col("v").cast("decimal(38,0)"))).head.getDecimal(0)
      assert(total == BigInt(exactSum.toBigInteger))
      assert(rows == df.count())
      assert(buckets == df.filter(col("b").isNotNull).select("b").distinct()
        .collect().map(_.getLong(0)).toSet)
      assert(c1.df.collect().toSet == df.collect().toSet)
      // an integer column sums the same way
      val (c4, intSum) = Lineage.measured(spark.range(0, 100, 1, 3).select(col("id").cast("int").as("i")),
        Side.sum("i"))
      c4.release()
      assert(intSum == BigInt(4950))
    } finally Seq(c1, c2, c3).foreach(_.release())
  }

  test("a cut whose side aggregate throws surfaces the error and leaks no block") {
    val df = spark.range(0, 20, 1, 4).toDF("id")
    val boom = Side[Long](schema => {
      val i = schema.fieldIndex("id")
      it => it.map { r =>
        if (r.getLong(i) == 13L) throw new IllegalStateException("side boom at 13") else 1L
      }.sum
    }, 0L, _ + _)
    val before = persisted
    val ex = intercept[Exception](Lineage.measured(df, boom))
    val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("side boom at 13")), ex)
    assert(persisted == before, "a failed side aggregate must not leave its cut persisted")
    // so does a side that cannot bind to the cut's schema
    intercept[IllegalArgumentException](Lineage.measured(df, Side.sum("missing")))
    assert(persisted == before)
  }

  test("a local Fixpoint loop runs exactly one job per cut: the measure rides the cut's job") {
    val sc = spark.sparkContext
    val group = "lineage-spec-fixpoint"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    var cuts = 1 // the initial state's
    try {
      sc.setJobGroup(group, "fixpoint loop")
      // map-only rounds that count every value down to 0: the label sum
      // stops changing once the largest value (9) is spent
      val out = try {
        Lineage.iterate(spark.range(0, 10, 1, 4).toDF("v"), 20,
          fixpoint = Some(Fixpoint(Side.sum("v"), "did not converge"))) { df =>
          cuts += 1
          df.select(greatest(col("v") - 1, lit(0L)).as("v"))
        }
      } finally sc.clearJobGroup()
      assert(out.collect().forall(_.getLong(0) == 0L))
      assert(cuts == 11, "9 rounds to reach all zeros, one more to see no change")
      eventually(timeout(Span(30, Seconds))) { assert(jobs.get == cuts) }
      Thread.sleep(200)
      assert(jobs.get == cuts, "every round must cost exactly its cut's job")
    } finally sc.removeSparkListener(listener)
  }
}
