package graft

import graft.operators.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the r19 spread-for-scoring behavior (Knn.spreadForScoring,
  * guide §2.6): an under-split small corpus is repartitioned to
  * defaultParallelism before the exact-scoring cross join, results are
  * bit-identical to the unspread plan, and the gate's three regions
  * (under floor / spreadable / already-split) plan as documented. */
class KnnSpreadSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random vectors: component j of doc i derives
  // from a hash, so sims are distinct and rank ties impossible
  private def corpus(n: Int): DataFrame =
    spark.range(n).select(
      concat(lit("d"), col("id")).as("id"),
      when(col("id") % 3 === 0, "image").otherwise("text").as("mtype"),
      array((0 until 8).map(j =>
        ((pmod(xxhash64(col("id"), lit(j)), lit(1000)) / 1000d).cast("float"))): _*)
        .as("embedding"))
      // LocalRelation-free: range is a trusted leaf with real stats
      .localCheckpoint() // NOT trusted => never spreads regardless of floor
  private def scanCorpus(n: Int, files: Int = 1): DataFrame = {
    // a parquet-backed corpus: trusted stats, one split per file at test
    // scale (a single file by default)
    val p = java.nio.file.Files.createTempDirectory("knnspread").toString
    spark.range(0, n, 1, files).select(
      concat(lit("d"), col("id")).as("id"),
      when(col("id") % 3 === 0, "image").otherwise("text").as("mtype"),
      array((0 until 8).map(j =>
        ((pmod(xxhash64(col("id"), lit(j)), lit(1000)) / 1000d).cast("float"))): _*)
        .as("embedding"))
      .write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def queries(n: Int): DataFrame =
    spark.range(n).select(
      concat(lit("q"), col("id")).as("qid"),
      lit("text").as("qtype"),
      array((0 until 8).map(j =>
        ((pmod(xxhash64(col("id"), lit(j + 100)), lit(1000)) / 1000d).cast("float"))): _*)
        .as("qvec"))

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("RoundRobinPartitioning"))

  test("spread results are bit-identical to unspread (search/topK/topKViaAgg)") {
    val docs = scanCorpus(400)
    val qs = queries(15)
    val spread = GraftConf(dim = 8, spreadScoringMinBytes = 1L)
    val plain = GraftConf(dim = 8, spreadScoringMinBytes = Long.MaxValue)
    def canon(df: DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(canon(Knn.search(docs, qs, 6, spread)) ==
      canon(Knn.search(docs, qs, 6, plain)))
    assert(canon(Knn.topK(docs, qs.drop("qtype"), 6, conf = spread)) ==
      canon(Knn.topK(docs, qs.drop("qtype"), 6, conf = plain)))
    assert(canon(Knn.topKViaAgg(docs, qs.drop("qtype"), 6, conf = spread)) ==
      canon(Knn.topKViaAgg(docs, qs.drop("qtype"), 6, conf = plain)))
  }

  test("gate regions: floor blocks, small corpus spreads to parallelism, RDD leaves never spread") {
    val docs = scanCorpus(400)
    // under the floor: identity — no round-robin exchange in the plan
    val under = Knn.spreadForScoring(docs, GraftConf(spreadScoringMinBytes = Long.MaxValue))
    assert(under eq docs)
    // above the floor and under-split: exactly one round-robin exchange,
    // width = defaultParallelism
    val over = Knn.spreadForScoring(docs, GraftConf(spreadScoringMinBytes = 1L))
    assert(shuffles(over) == 1)
    assert(over.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // RDD-backed leaf (localCheckpoint): estimate is 0 trusted bytes =>
    // conservative status quo, no spread even with a 1-byte floor
    val rddBacked = corpus(400)
    assert(Knn.spreadForScoring(rddBacked,
      GraftConf(spreadScoringMinBytes = 1L)) eq rddBacked)
  }

  test("corpus stored as >= defaultParallelism files is a no-op (file-aware split estimate)") {
    val docs = scanCorpus(400, files = spark.sparkContext.defaultParallelism)
    assert(Knn.spreadForScoring(docs, GraftConf(spreadScoringMinBytes = 1L)) eq docs)
  }

  test("already-split corpus is a no-op (estimated splits >= parallelism)") {
    val docs = scanCorpus(400)
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // shrink the split size so the SAME corpus estimates >= 32 splits
      spark.conf.set("spark.sql.files.maxPartitionBytes", "128")
      val out = Knn.spreadForScoring(docs, GraftConf(spreadScoringMinBytes = 1L))
      assert(out eq docs)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }
}
