package graft

import graft.operators.{GraphBuild, GraphExpand}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The single-read faithful expansion (one seeds⨝edges left-outer join,
  * each row fanned out into seed and discovery) against the union form it
  * replaced, kept here as the reference: seed rows unioned with the
  * discoveries of the seeds ranked at most `depth`, deduplicated on
  * (qid, id) by step then score, ranked per query. At depth 1 the
  * reference is the former `expandFaithful` body; on canonical edges it
  * is also the former `expandFaithfulDepth` body, whose dedup ordered on
  * step alone. */
class ExpandParitySpec extends SparkSpec {
  import spark.implicits._

  private def unionForm(seeds: DataFrame, edges: DataFrame, k: Int, depth: Int): DataFrame = {
    val sym = GraphBuild.symmetric(edges)
    val seedRows = seeds
      .select(col("qid"), col("id"), col("sim").as("score"), lit(0).as("prio"))
    val parents = seeds.filter(col("rank") <= depth)
      .select(col("qid").as("h_qid"), col("id").as("h_id"),
        col("sim").as("h_sim"), col("rank").cast("int").as("prio"))
    val discoveries = parents.join(sym, col("h_id") === col("u"))
      .select(col("h_qid").as("qid"), col("v").as("id"),
        (col("h_sim") * col("score") * lit(GraftConf.default.expansionDecay)).as("score"),
        col("prio"))
    val wDedup = Window.partitionBy("qid", "id").orderBy(col("prio"), col("score").desc)
    val wRank = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    seedRows.unionByName(discoveries)
      .withColumn("_rn", row_number().over(wDedup))
      .filter(col("_rn") === 1)
      .withColumn("origin", when(col("prio") === 0, "seed").otherwise("expanded"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select("qid", "id", "score", "origin", "rnk")
  }

  private def rows(df: DataFrame): Set[Row] =
    df.select("qid", "id", "score", "origin", "rnk").collect().toSet

  private def seedsDf(rs: (String, String, Double, Int)*): DataFrame =
    rs.toDF("qid", "id", "sim", "rank")

  private def edgesDf(rs: (String, String, Double)*): DataFrame =
    rs.toDF("src", "dst", "score")

  private val rawLog = ("duplicate raw-log edges with different scores",
    seedsDf(("q1", "a", 0.9, 1), ("q1", "b", 0.8, 2), ("q1", "c", 0.7, 3)),
    edgesDf(("a", "x", 0.5), ("a", "x", 0.9), ("x", "a", 0.7), ("b", "x", 0.95),
      ("b", "y", 0.2), ("b", "y", 0.6), ("c", "y", 0.99)))

  private val cases: Seq[(String, DataFrame, DataFrame)] = Seq(
    ("head seed with no neighbours",
      seedsDf(("q1", "a", 0.9, 1), ("q1", "b", 0.8, 2), ("q1", "c", 0.7, 3)),
      edgesDf(("b", "x", 0.5), ("y", "c", 0.6))),
    ("a neighbour that is also a seed",
      seedsDf(("q1", "a", 0.9, 1), ("q1", "b", 0.8, 2), ("q1", "c", 0.7, 3)),
      edgesDf(("a", "b", 0.9), ("a", "z", 0.5), ("b", "c", 0.4), ("a", "c", 0.3),
        ("c", "w", 0.2))),
    ("two seed rows sharing (qid, id)",
      seedsDf(("q1", "dup", 0.9, 1), ("q1", "dup", 0.9, 2), ("q1", "e", 0.5, 3),
        ("q2", "n1", 0.6, 1), ("q2", "dup", 0.5, 2), ("q2", "f", 0.4, 3)),
      edgesDf(("dup", "n1", 0.7), ("e", "n2", 0.8), ("f", "dup", 0.9))),
    rawLog,
    ("an empty seed frame",
      seedsDf(),
      edgesDf(("a", "b", 0.5))))

  for ((name, seeds, edges) <- cases) {
    test(s"single-read expansion == union form: $name") {
      for (k <- Seq(3, 10)) {
        val expected = rows(unionForm(seeds, edges, k, depth = 1))
        assert(rows(GraphExpand.expandFaithful(seeds, edges, k)) == expected,
          s"expandFaithful, k=$k")
        for (depth <- 1 to 3) {
          val ref = rows(unionForm(seeds, edges, k, depth))
          assert(rows(GraphExpand.expandFaithfulDepth(seeds, edges, k, depth)) == ref,
            s"expandFaithfulDepth, k=$k depth=$depth")
        }
      }
    }
  }

  test("duplicate raw-log edges: the highest-scoring discovery wins") {
    val (_, seeds, edges) = rawLog
    val x = GraphExpand.expandFaithful(seeds, edges, k = 10).collect()
      .find(_.getAs[String]("id") == "x").get
    assert(x.getAs[Double]("score") == 0.9 * 0.9 * 0.9)
    assert(x.getAs[String]("origin") == "expanded")
  }
}
