package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}
import graft.util.Lineage

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
}
