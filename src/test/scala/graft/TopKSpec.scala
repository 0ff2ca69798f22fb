package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TopKByScore

class TopKSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("TopKByScore: bounded buffer returns (score desc, id asc) " +
    "top-k with ties broken like the rank window") {
    import spark.implicits._
    val rows = Seq(
      // group 1: ties on 0.9 must order by ascending id
      (1L, 30L, 0L, 0.9), (1L, 10L, 0L, 0.9), (1L, 20L, 1L, 0.9),
      (1L, 5L, 1L, 0.8), (1L, 6L, 0L, 0.99),
      // group 2: fewer than k rows → all kept, in order
      (2L, 7L, 3L, 0.1), (2L, 8L, 3L, 0.2))
      .toDF("qid", "id", "cell", "cos_sim")
    val got = rows.groupBy("qid")
      .agg(TopKByScore.topk(3, col("id"), col("cell"),
        col("cos_sim")).as("t"))
      .select(col("qid"), col("t"))
      .as[(Long, Seq[(Long, Long, Double)])].collect().toMap
    assert(got(1L) === Seq((6L, 0L, 0.99), (10L, 0L, 0.9),
      (20L, 1L, 0.9)))
    assert(got(2L) === Seq((8L, 3L, 0.2), (7L, 3L, 0.1)))
  }

  test("TopKByScore matches the rank-window top-k on randomized " +
    "tie-heavy data (seeded)") {
    import spark.implicits._
    // few distinct scores FORCE ties so the id tie-break is actually
    // exercised, not just the score ordering; many partitions force
    // real partial/merge traffic through the bounded buffer
    val rnd = new scala.util.Random(42)
    val rows = (0 until 5000).map { i =>
      (rnd.nextInt(20).toLong, i.toLong, rnd.nextInt(8).toLong,
        rnd.nextInt(7) / 10.0)
    }
    val df = rows.toDF("qid", "id", "cell", "cos_sim").repartition(16)
    val k = 5
    val viaAgg = df.groupBy("qid")
      .agg(TopKByScore.topk(k, col("id"), col("cell"),
        col("cos_sim")).as("t"))
      .select(col("qid"), posexplode(col("t")).as(Seq("rank", "e")))
      .select(col("qid"), col("rank"), col("e.id"), col("e.cell"),
        col("e.cos_sim"))
      .as[(Long, Int, Long, Long, Double)].collect().sorted.toSeq
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("id").asc)
    val viaWin = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), (col("rn") - 1).cast("int").as("rank"),
        col("id"), col("cell"), col("cos_sim"))
      .as[(Long, Int, Long, Long, Double)].collect().sorted.toSeq
    assert(viaAgg === viaWin)
  }

  test("TopKByScore prints its bound, not an identity hash, in plans") {
    import spark.implicits._
    val rows = Seq((1L, 10L, 0L, 0.9), (1L, 20L, 1L, 0.8))
      .toDF("qid", "id", "cell", "cos_sim")
    // two separately built aggregates: two aggregator instances
    def plan(): String = rows.groupBy("qid")
      .agg(TopKByScore.topk(3, col("id"), col("cell"),
        col("cos_sim")).as("t"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      .replaceAll("#[0-9]+L?", "#").replaceAll("plan_id=[0-9]+", "plan_id=")
    val (first, second) = (plan(), plan())
    assert(first.contains("TopKByScore(3)"), first)
    assert(!first.contains("TopKByScore@"), first)
    assert(first === second)
  }

  test("TopKByScore refuses k past the buffer guard") {
    val e = intercept[IllegalArgumentException] {
      new TopKByScore(TopKByScore.MaxK + 1)
    }
    assert(e.getMessage.contains("MaxK"))
  }
}
