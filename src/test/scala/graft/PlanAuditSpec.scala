package graft

import graft.operators.{Knn, Pipelines, Relational, Retrieval}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

/** Physical-plan audits — the "would this survive 100×" checks
  * (builder prompt: pushdown reaches the scan, small sides broadcast,
  * the big side never shuffles for KNN, hot expressions stay inside
  * WholeStageCodegen). These assert on plan STRUCTURE, not timing, so
  * they hold at any scale factor. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  private def analyzedPlan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q03: mktsegment filter is pushed down to the customer parquet scan") {
    val p = planString(Relational.q3ShippingPriority(spark, sf))
    assert(p.contains("PushedFilters") &&
      (p.contains("IsNotNull(c_mktsegment)") || p.contains("EqualTo(c_mktsegment,BUILDING)")),
      s"missing pushdown in:\n$p")
  }

  test("q01: aggregation is partial (map-side combine before the exchange)") {
    val p = planString(Relational.q1PricingSummary(spark, sf))
    // two HashAggregate levels around one shuffle = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("q05: dimension joins are broadcast (no shuffle of lineitem for the join)") {
    val p = planString(Relational.q5LocalSupplier(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  /** Execute, then return the FINAL (post-AQE) plan string — AQE plans
    * print isFinalPlan=false (no codegen stages, wrapper hides the tree
    * from collect) until the query actually runs. */
  private def finalPlan(df: DataFrame): String = {
    df.collect() // NB: count() would spawn a separate QueryExecution and
    // leave THIS df's AQE plan unfinalized
    df.queryExecution.executedPlan.toString
  }

  test("KNN: the docs side streams straight from the scan (queries broadcast, no exchange below the join)") {
    val docs = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("id"), lit("m").as("mtype"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).limit(3)
      .select(col("vec_id").cast("string").as("qid"), lit("m").as("qtype"),
        col("embedding").as("qvec"))
    val p = finalPlan(Knn.search(docs, queries, k = 5))
      .split("== Initial Plan ==").head // AQE appends the pre-adaptive plan
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(joinIdx >= 0, s"expected broadcast NL join:\n$p")
    // streamed (docs) side prints first, until the BroadcastQueryStage /
    // BroadcastExchange that starts the build side: it must hold no
    // shuffle — the corpus flows scan → score without an exchange
    val afterJoin = p.substring(joinIdx)
    val buildIdx = afterJoin.indexOf("Broadcast", "BroadcastNestedLoopJoin".length)
    val streamedSide = afterJoin.substring(0, math.max(buildIdx, 0))
    assert(!streamedSide.contains("Exchange"),
      s"docs side must stream from the scan, found exchange:\n$streamedSide")
    // Spark 4 WindowGroupLimit: top-k is pre-filtered map-side BEFORE the
    // ranking exchange, so the shuffle carries <= k*overFetch rows per
    // query per partition — the property that keeps this plan viable at
    // 100 TB corpus size
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
  }

  test("column pruning: q12 ingest delta reads only doc_id + text from documents") {
    val df = SparkEntry.queries("q12_ingest_dedup_delta")(spark, sf)
    val p = finalPlan(df)
    val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(p).toList
    assert(readSchemas.nonEmpty, p)
    readSchemas.foreach { s =>
      assert(!s.contains("lang") && !s.contains("source") && !s.contains("n_chars"),
        s"unused columns must be pruned from the scan: $s")
    }
  }

  test("vector scoring runs inside WholeStageCodegen (no interpreted hot path)") {
    val docs = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).limit(3)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvec"))
    val p = finalPlan(Knn.topK(docs, queries, k = 5))
      .split("== Initial Plan ==").head
    assert(p.contains("graft_dot"), p)
    // codegen'd operators print as "*(n) Op" in the final AQE plan: the
    // scoring Project containing graft_dot must carry the star
    val scoringLine = p.linesIterator.find(_.contains("graft_dot")).get
    assert(scoringLine.contains("*("),
      s"scoring project not codegen'd: $scoringLine")
  }

  test("salted skew join: results equal plain join; hot key spreads across salts") {
    import spark.implicits._
    // one hot key (90% of rows) + uniform tail
    val large = ((1 to 900).map(i => ("hot", i)) ++ (1 to 100).map(i => (s"k$i", i)))
      .toDF("key", "v")
    val small = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).map((_, "dim"))
      .toDF("key", "label")
    val plain = large.join(small, Seq("key")).groupBy("key").count()
    val salted = graft.operators.SkewJoin.saltedJoin(large, small, "key", 8)
      .groupBy("key").count()
    assert(plain.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      salted.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // the hot key's rows really do carry multiple distinct salts
    val salts = graft.operators.SkewJoin.saltedJoin(large, small, "key", 8)
      .filter($"key" === "hot").select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"v", $"label"), 
        org.apache.spark.sql.functions.lit(8))).distinct().count()
    assert(salts > 1)
  }

  test("IVF top-k: candidate join is a hash join on the list id, never a cross join") {
    val docs = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvec"))
    val df = graft.operators.Ann.topKIvf(docs, queries, 5, 64, 16, nprobe = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF must never degrade to an all-pairs join:\n$p")
    assert(p.contains("HashJoin"), p)
  }

  test("q44: EXISTS/NOT EXISTS plan as semi/anti hash joins, orders side un-shuffled") {
    val df = Relational.qOrderReturns(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    // the distinct returned-key set broadcasts; orders probes it in place
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ANN bucket-partitioned corpus: probe query prunes the SCAN (PartitionFilters non-empty)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_annpart").toString + "/corpus"
    val docs = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("id"), col("embedding"))
    graft.operators.Ann.writeBucketedCorpus(docs, dir, dim = 64, nPlanes = 4)
    // physical layout really is one directory per bucket
    val bucketDirs = new java.io.File(dir).listFiles()
      .map(_.getName).count(_.startsWith("bucket="))
    assert(bucketDirs > 1, s"expected multiple bucket dirs, got $bucketDirs")
    val qvec = docs.limit(1).collect().head.getSeq[Float](1).toArray
    val probe = graft.operators.Ann.topKFromBucketedCorpus(
      spark, dir, qvec, k = 5, dim = 64, nPlanes = 4, probes = 2)
    val rows = probe.collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val p = planString(probe)
    // the probe ids must land in PartitionFilters (scan prunes whole
    // directories), NOT PushedFilters (row-level filtering after read)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("bucket"), s"no bucket partition filter in scan:\n$p")
    assert(!pf.matches(".*PartitionFilters: \\[\\].*"),
      s"PartitionFilters is empty:\n$pf")
    // top-k is per-partition (TakeOrderedAndProject), not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // pruned correctness: identical to filtering the same buckets post-read
    val home = graft.operators.Ann.bucketOf(qvec, 64, 4)
    val expected = docs
      .withColumn("bucket", graft.operators.Ann.lshBucket(col("embedding"), 64, 4))
      .filter(col("bucket").isin(home, home ^ 1L))
      .withColumn("sim", graft.functions.VectorFunctions
        .dotProduct(col("embedding"), typedLit(qvec)))
      .orderBy(col("sim").desc, col("id")).limit(5)
      .select("id", "sim").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSeq == expected.toSeq)

    // GEOMETRY manifest (r15 verdict #2): stamped by writeBucketedCorpus,
    // a mismatched probe fails loudly, the auto probe equals the explicit
    // one at the manifest geometry, and compaction preserves the manifest
    import graft.operators.Ann
    assert(Ann.readGeometry(spark, dir) == Some(Ann.StoreGeometry(64, 4, 1)))
    intercept[IllegalArgumentException] {
      Ann.topKFromBucketedCorpus(spark, dir, qvec, k = 5, dim = 64,
        nPlanes = 6)
    }
    val auto = Ann.topKFromBucketedCorpusAuto(spark, dir, qvec, k = 5,
        probes = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(auto == expected.toSeq,
      s"auto probe != explicit probe at the manifest geometry")
    Ann.compactBucketedCorpus(spark, dir)
    assert(Ann.readGeometry(spark, dir) == Some(Ann.StoreGeometry(64, 4, 1)),
      "compaction dropped the bucketed corpus manifest")
  }

  test("multi-table corpus store: streaming probe prunes the SCAN and is candidate-identical to the in-memory OR-construction") {
    import java.nio.file.Files
    import graft.operators.Ann
    val dir = Files.createTempDirectory("graft_mtstore").toString + "/ann"
    val docs = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("id"),
        lit("text").as("mtype"), col("embedding"))
    Ann.backfillMultiTableCorpus(docs, dir, dim = 64, nPlanes = 4, nTables = 8)
    // flat single-level layout: tb directories at the root (a per-batch
    // level would grow listing cost with every append — measured)
    val tbDirs = new java.io.File(dir).listFiles()
      .map(_.getName).count(_.startsWith("tb="))
    assert(tbDirs > 1, s"expected multiple tb dirs, got $tbDirs")
    val queries = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").cast("string").as("qid"),
        col("embedding").as("qvec"))
      .localCheckpoint() // the micro-batch shape the streaming loop probes with
    val conf = GraftConf.default.copy(dim = 64, rddFramesAreMicroBatches = true)
    val probe = Ann.multiTableStoreCandidates(
      spark, dir, queries, dim = 64, nPlanes = 4, nTables = 8, conf)
    probe.collect()
    val p = planString(probe)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tb"), s"no tb partition filter in the store scan:\n$p")
    assert(!pf.matches(".*PartitionFilters: \\[\\].*"),
      s"PartitionFilters is empty:\n$pf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"stored probe must never degrade to all-pairs:\n$p")
    // candidate identity with the in-memory form (the stream ≡ batch
    // equivalence's load-bearing step): same pairs, same exact scores
    val mem = Ann.multiTableCandidates(
        docs.select("id", "embedding"), queries, 64, 4, 8, conf)
      .select(col("qid"), col("id"),
        graft.functions.VectorFunctions.dotProduct(
          col("qvec"), col("embedding")).as("sim"))
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "id", "sim").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(sets(probe) == sets(mem),
      "stored probe candidates diverged from in-memory OR-construction")
    queries.unpersist()
  }

  test("q59: ANN-edge pipeline is all-pairs free end-to-end (q42's edge KNN is not)") {
    // q59's scale claim is plan shape, not sf0.1 wall-clock (the bench
    // corpus's quadratic term is sub-ms): the whole pipeline — candidate
    // generation, re-score, edge build, depth-3 expansion — must contain
    // zero all-pairs join nodes, where q42's brute-force edge KNN scores
    // every (query, doc) pair by contract.
    val ann = SparkEntry.queries("q59_ann_edge_pipeline")(spark, sf)
    val pAnn = finalPlan(ann)
    assert(!pAnn.contains("CartesianProduct") && !pAnn.contains("BroadcastNestedLoopJoin"),
      s"ANN edge pipeline must never score all pairs:\n$pAnn")
    val bf = SparkEntry.queries("q42_graph_expand_depth")(spark, sf)
    val pBf = finalPlan(bf)
    assert(pBf.contains("BroadcastNestedLoopJoin") || pBf.contains("CartesianProduct"),
      s"q42's edge KNN is expected to be the brute-force all-pairs shape:\n$pBf")
    spark.sharedState.cacheManager.clearCache() // drop the two queries' pins
  }

  test("q67: ANN-mode pipeline API (submit + search) is all-pairs free end-to-end") {
    // The strategy-pluggable pipeline (Retrieval.MultiTableLsh through the
    // public Pipelines.submit/search API) must contain zero all-pairs join
    // nodes anywhere: embed, ingest anti-join, BOTH ANN retrieval sites,
    // edge build, faithful expansion, payload join. This is q59's plan
    // claim promoted from a hand-assembled demo to the API default path.
    val df = SparkEntry.queries("q67_search_pipeline_ann")(spark, sf)
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ANN-mode pipeline must never score all pairs:\n$p")
    spark.sharedState.cacheManager.clearCache() // drop the query's pins
  }

  test("q93: analytics over the ANN-built graph is all-pairs free end-to-end") {
    // The composed 100 TB shape for the graph family: Ann.topKMultiTable
    // builds the edge list with (table, bucket)-keyed joins, and
    // triangleStats closes it with node-keyed joins — zero all-pairs
    // nodes anywhere. Composed here WITHOUT the SparkEntry memo (the
    // memoized q93 reads a checkpointed RDD, which would hide the build
    // stage from the plan).
    val docs = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvec"))
    val edges = graft.operators.Ann
      .topKMultiTable(docs, queries, k = 5, dim = 64, nPlanes = 4, nTables = 8)
      .filter(col("qid") =!= col("id"))
      .select(least(col("qid"), col("id")).as("src"),
        greatest(col("qid"), col("id")).as("dst"))
      .distinct()
    val df = graft.operators.GraphAlgos.triangleStats(edges)
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ANN build + census must never score all pairs:\n$p")
    spark.sharedState.cacheManager.clearCache() // drop triangleStats' pin
  }

  test("bucketed tables: co-located join plans without a shuffle exchange") {
    import java.nio.file.Files
    val wh = Files.createTempDirectory("graft_wh").toString
    // (warehouse.dir is static; explicit external-table paths suffice)
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$wh/li_b").saveAsTable("li_b")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$wh/ord_b").saveAsTable("ord_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val p = finalPlan(joined).split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("q71 BM25: inverted-index equi-joins; the only non-keyed join is the 1-row stats broadcast") {
    val p = planString(SparkEntry.queries("q71_bm25")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"posting joins degraded to all-pairs:\n$p")
    // the (N, avgdl) scalar-stats join IS a BroadcastNestedLoopJoin — of
    // exactly ONE aggregate row, which is scale-free. Anything beyond
    // that single node means a posting-list join lost its key.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"found $bnlj BNLJ nodes; only the 1-row stats join is allowed:\n$p")
  }

  test("q78 ANN near-dup: blocking self-join is a hash join on (table, bucket)") {
    val p = planString(SparkEntry.queries("q78_neardup_embedding_ann")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the candidate self-join must be bucket-keyed, never all-pairs:\n$p")
  }

  test("q116 semantic dedup: the pair generator is a cluster-keyed hash join, never all-pairs") {
    val p = planString(SparkEntry.queries("q116_semantic_dedup")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the within-cluster self-join must be keyed on the IVF bucket:\n$p")
  }

  test("q118 importance weights: term-keyed count joins; only the 1-row constants broadcast is non-keyed") {
    val p = planString(SparkEntry.queries("q118_importance_weights")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"count-table join degraded to all-pairs:\n$p")
    // the (n_t, n_r, v) corpus-constants join IS a BNLJ of exactly one
    // aggregate row (scale-free); a second BNLJ means a term join lost
    // its key.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"found $bnlj BNLJ nodes; only the 1-row constants join is allowed:\n$p")
  }

  test("q119 gopher rules: per-row projection — no KEYED exchange (only the map-parallelism fan-out)") {
    val df = graft.operators.TextAnalysis.gopherRules(
      Tables.documents(spark, sf), "doc_id", "text")
    val p = planString(df)
    // Par.ensureMapParallelism's RoundRobin repartition is the one
    // allowed exchange: it moves no keyed data, it just spreads the
    // per-row-heavy signal computation across cores when the scan
    // yields fewer splits than the session parallelism. Any hash/range
    // exchange would mean the signals stopped being map-only work.
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"the rule signals must be shuffle-free map work:\n$p")
  }

  test("q122 quality classifier: per-row projection — no KEYED exchange (the q119 contract)") {
    val df = graft.operators.TextAnalysis.hashedLinearClassifier(
      Tables.documents(spark, sf), "doc_id", "text")
    val p = planString(df)
    // same contract as gopherRules: the hashed-feature fold is map-only
    // work; any keyed exchange means the classifier stopped being a
    // projection (the final orderBy lives in the Q wrapper, not here)
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"classifier scoring must be shuffle-free map work:\n$p")
  }

  test("q123 seeded shuffle: exactly one keyed exchange (the shard partition), no global sort below it") {
    val df = graft.operators.Curation.seededShuffle(
      Tables.documents(spark, sf), "doc_id", "graft", 8)
    val p = planString(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the global order is a FORMULA over (shard, pos) — the operator
    // itself must not range-partition (that would be a global sort)
    assert(!p.contains("rangepartitioning"),
      s"seededShuffle must not global-sort; global_pos is computed:\n$p")
    assert("hashpartitioning".r.findAllIn(p).size <= 1,
      s"one shard-keyed exchange expected:\n$p")
  }

  test("q125 event funnel: all joins user-keyed, no stream self-join blowup") {
    val p = planString(SparkEntry.queries("q125_event_funnel")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"funnel stage joins must be user-keyed:\n$p")
  }

  test("q126 count-min: top-k is TakeOrdered (no global sort), probe join keyed on (r, c)") {
    val df = graft.operators.Sketches.cmsHeavyHitters(
      Tables.documents(spark, sf), "text")
    val p = planString(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrdered, not a full sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the cell-probe join must be keyed:\n$p")
  }

  test("q128 embedding outliers: only the 1-row stats broadcast is non-keyed; no keyed shuffle at all") {
    val df = graft.operators.Curation.embeddingOutliers(
      Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 64, 16)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-stats crossJoin(broadcast(1 row)) is the single
    // allowed BNLJ (the q118 contract); scoring itself is map work
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"found $bnlj BNLJ nodes; only the 1-row stats join is allowed:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"outlier scoring must not shuffle keyed data:\n$p")
  }

  test("q129 event spikes: per-type stats ride a broadcast hash join back") {
    val p = planString(SparkEntry.queries("q129_event_spikes")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the stats join is event_type-keyed:\n$p")
  }

  test("q130 curation gauntlet: composed pipeline is keyed end-to-end (only the two 1-row mixture broadcasts are not)") {
    val p = planString(SparkEntry.queries("q130_curation_gauntlet")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // temperatureMixture carries two 1-row crossJoin(broadcast(agg))
    // steps (total weight, remainder count) — scale-free by the q118
    // argument. The plan STRING prints one of them twice (the pinned
    // base/rem relation re-prints its defining subtree inside its
    // InMemoryRelation), so the textual count is 3; anything beyond
    // means a gate join lost its key. Verified by reading the three
    // sites: every BNLJ builds on a 1-row aggregate.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 3, s"found $bnlj BNLJ nodes; only the 1-row mixture joins (one cache-reprinted) are allowed:\n$p")
    assert(p.contains("LeftSemi"), s"the gates must plan as semi joins:\n$p")
  }

  test("q132/q133/q134: new-family queries stay keyed (no cartesian anywhere, BNLJ only where 1-row)") {
    Seq("q133_retention_cohorts", "q134_token_communities").foreach { q =>
      val p = planString(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // q134's PMI stage carries the one allowed 1-row totals BNLJ
      // (q104's contract); retention has none
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      val cap = if (q.startsWith("q134")) 1 else 0
      assert(bnlj <= cap, s"$q: $bnlj BNLJ nodes (cap $cap):\n$p")
    }
    val p132 = planString(graft.operators.Curation.clusterBalancedSample(
      Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 64, 16, 20))
    assert(!p132.contains("CartesianProduct") &&
      !p132.contains("BroadcastNestedLoopJoin"), p132)
    // one cluster-keyed exchange for the rank window, nothing else keyed
    assert("hashpartitioning".r.findAllIn(p132).size <= 1, p132)
  }

  test("q138 substring removal: fingerprint-keyed joins only, no all-pairs anywhere") {
    val p = planString(SparkEntry.queries("q138_substring_removal")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"the candidate stage must stay a fingerprint equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the exact-dup short-circuit is a window over the text hash, not a
    // self-join: exactly zero non-equi join nodes expected
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"expected hash/merge joins:\n$p")
  }

  test("q139/q140: weighted communities + near-dup gauntlet stay keyed (1-row BNLJ only)") {
    Seq("q139_weighted_token_communities" -> 1, // PMI totals broadcast
      // q140: the mixture's source-grain cross joins (weight×tot,
      // base×extra — verified over ≤|sources|-row relations; the
      // unpinned mixture branch repeats one, hence 3 not 2)
      "q140_gauntlet_neardup" -> 3
    ).foreach { case (q, cap) =>
      val p = planString(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= cap, s"$q: $bnlj BNLJ nodes (cap $cap):\n$p")
    }
  }

  test("q73 contamination: train-set probe plans as a LEFT SEMI hash join") {
    val p = planString(SparkEntry.queries("q73_shingle_contamination")(spark, sf))
    assert(p.contains("LeftSemi"),
      s"the shingle probe must be a semi join (never materializes matches):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q79 composed curation pipeline: keyed joins end-to-end; only the metadata prefix-sum is non-keyed") {
    val p = planString(SparkEntry.queries("q79_curation_pipeline")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"filter→dedup→sample→pack degraded to all-pairs:\n$p")
    // packManifest's triangular offsets join (_pid < _pid) IS a BNLJ —
    // over per-PARTITION totals (32 metadata rows however big the
    // data), the documented q08 prefix-sum construction. Any OTHER
    // BNLJ means a data-sized join lost its key.
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("_pid")),
      s"non-metadata BNLJ in the pipeline:\n${bnlj.mkString("\n")}")
  }

  test("q84 bigram LM: count-table joins are token-keyed hash joins") {
    val p = planString(SparkEntry.queries("q84_bigram_lm")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the (w1,w2)/(w1) joins must never degrade to all-pairs:\n$p")
  }

  test("pageRankFixedPoint: one superstep is keyed joins + partial agg; checkpoint keeps the plan flat") {
    import graft.operators.{GraphAlgos, GraphBuild}
    val knn = SparkEntry.queries("q10_knn_topk")(spark, sf)
      .select(col("qid"), col("id"), col("sim"), col("rnk").cast("int").as("rank"))
    // a tiny live graph: canonical edges from the KNN, symmetric view
    val edges = knn.filter(col("rank") <= 3).select(
      least(col("qid"), col("id")).as("src"),
      greatest(col("qid"), col("id")).as("dst")).distinct()
    val sym = GraphBuild.symmetric(edges.withColumn("score", lit(1.0))
      .withColumn("seq", lit(1L)))
      .select(col("u").as("src"), col("v").as("dst"))
    val pr = GraphAlgos.pageRankFixedPoint(sym, iters = 3)
    val p = pr.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rank/edge joins must be id-keyed:\n$p")
    // lineage truncation: the FINAL plan reads the last checkpoint, not
    // a 3-superstep join tower — the scan leaf is the checkpointed RDD
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"per-superstep localCheckpoint must truncate lineage:\n$p")
  }

  test("q144/q145: decontamination removal + quality keep stay keyed end-to-end") {
    // q144: cross-corpus fingerprint equi-join, per-eval-doc automaton
    // groups, interval join back — never |train|×|eval|
    val p144 = planString(
      SparkEntry.queries("q144_decontamination_removal")(spark, sf))
    assert(!p144.contains("CartesianProduct") &&
      !p144.contains("BroadcastNestedLoopJoin"),
      s"q144 candidate/interval joins must be keyed:\n$p144")
    // q145: band-keyed clustering + zero-shuffle scoring + one
    // cluster-keyed window; the cc supersteps are checkpoint-truncated
    val p145 = planString(SparkEntry.queries("q145_quality_keep")(spark, sf))
    assert(!p145.contains("CartesianProduct") &&
      !p145.contains("BroadcastNestedLoopJoin"),
      s"q145 cluster/score joins must be keyed:\n$p145")
  }

  test("q153 large orders: lineitem rollup collapses BEFORE any join; survivors broadcast") {
    val p = planString(Relational.qLargeOrders(spark, sf))
    // the quantity rollup is partial-aggregated (two HashAggregate
    // levels) and the post-HAVING survivor set joins orders via hash
    // join — never a cartesian
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"customer side must broadcast:\n$p")
  }

  test("q155 dormant customers: scalar-avg broadcast + LEFT ANTI hash join; year filter pushed") {
    val p = planString(Relational.qDormantCustomers(spark, sf))
    // the 1-row global average rides the only BNLJ (scale-free); the
    // no-1998-order negation must be a keyed LEFT ANTI hash join
    assert(p.contains("LeftAnti"), s"EXISTS negation must plan anti:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row avg broadcast may be non-equi:\n$p")
  }

  test("q150/q151 BPE: pair counts partial-aggregate; corpus is touched only via vocab collapse + broadcast segment join") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val vocab = operators.Bpe.vocabulary(docs, "text")
    val pv = planString(vocab)
    assert("HashAggregate".r.findAllIn(pv).size >= 2,
      s"vocab collapse must map-side combine:\n$pv")
    val pc = planString(operators.Bpe.pairCounts(
      vocab.select(col("word"), col("freq"),
        org.apache.spark.sql.functions.split(col("word"), "").as("sym"))))
    assert("HashAggregate".r.findAllIn(pc).size >= 2,
      s"pair counts must map-side combine:\n$pc")
    assert(!pc.contains("CartesianProduct") && !pc.contains("Join"), pc)
  }

  test("q157 chunking: shuffle-free until the final output sort") {
    // chunkWindows is tokenize + transform + posexplode — one narrow
    // pipeline. The ONLY exchange allowed in q157 is the range partition
    // feeding the result's total order; the chunk production itself must
    // stream map-side (at 100 TB the sort is the consumer's choice, the
    // chunker contributes zero shuffles).
    val p = planString(operators.Chunking.chunkWindows(
      Tables.documents(spark, sf), "doc_id", "text", 64, 48))
    assert(!p.contains("Exchange"), s"chunker must not shuffle:\n$p")
    // codegen stages print as "*(n)" in executedPlan.toString
    assert(p.contains("*("), s"chunk projection must stay codegen'd:\n$p")
  }

  test("q158 chunk retrieval: corpus side streams into the KNN (queries broadcast)") {
    val p = finalPlan(SparkEntry.queries("q158_chunk_retrieval")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch must broadcast:\n$p")
  }

  test("q164/q165 chunk rollups: aggregations partial-combine map-side") {
    // both chunk-family aggregates must show two HashAggregate levels
    // around their exchange (map-side combine) — at corpus scale the
    // shuffle then carries (hash, partial) rows, never chunk text
    val p164 = planString(SparkEntry.queries("q164_chunk_boilerplate")(spark, sf))
    assert("HashAggregate".r.findAllIn(p164).size >= 2, p164)
    assert(p164.contains("md5"), "shuffle key is the md5, computed pre-exchange")
    val p165 = planString(SparkEntry.queries("q165_chunk_pooled_emb")(spark, sf))
    assert("HashAggregate".r.findAllIn(p165).size >= 2, p165)
    assert(!p165.contains("CartesianProduct"), p165)
  }

  test("q166 pooled-doc retrieval: query batch broadcast over the pooled corpus") {
    val p = finalPlan(SparkEntry.queries("q166_chunk_doc_retrieval")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q168 datasheet: source-keyed rollups partial-combine; no cartesian anywhere") {
    val p = planString(SparkEntry.queries("q168_source_datasheet")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"both rollups must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("partsupp family (q177-q180): equi-joins only, dimensions broadcast, aggregations partial") {
    for (q <- Seq("q177_product_profit", "q178_important_stock",
        "q179_supplier_parts", "q180_excess_stock")) {
      val p = planString(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // q178's fraction-of-total cut joins against a ONE-row broadcast
      // total (scale-free by construction); no other BNLJ is allowed
      val bnljAllowed = if (q == "q178_important_stock") 1 else 0
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= bnljAllowed,
        s"$q:\n$p")
      // part/supplier/nation dimension sides broadcast; the only
      // shuffled joins are the lineitem⨝partsupp / shipped⨝partsupp
      // compound-key joins, which co-partition two fact-sized sides
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast dim join\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q: aggregation must partial-combine\n$p")
    }
  }

  test("q182/q183 derived-shipping family: EXISTS/NOT-EXISTS as semi/anti hash joins on the order key, no cartesian") {
    for (q <- Seq("q182_shipmode_priority", "q183_waiting_suppliers")) {
      val p = planString(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    val p21 = planString(SparkEntry.queries("q183_waiting_suppliers")(spark, sf))
    assert(p21.contains("LeftSemi"), s"EXISTS must plan as semi join:\n$p21")
    assert(p21.contains("LeftAnti"), s"NOT EXISTS must plan as anti join:\n$p21")
  }

  test("q147 source overlap: shingle-keyed intersection; only the sources² totals frame is non-equi") {
    val p = planString(SparkEntry.queries("q147_source_overlap")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the totals×totals `<` join runs over two ≤|sources|-row broadcast
    // relations (so zero-overlap pairs still emit a row) — that BNLJ is
    // scale-free by construction; the shingle intersection itself must
    // stay an equi-join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1,
      s"found $bnlj BNLJ nodes; only the totals-frame join is allowed:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"),
      s"the shingle intersection must plan as a hash/merge join:\n$p")
  }

  /** The physical plan as planned, before AQE runs any stage: every
    * exchange is in place and none is reused yet, so a subtree planned
    * twice shows twice. */
  private def plannedTree(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** A small corpus stored as one parquet file per core, with queries
    * and a canonical edge table over it, for the /search plan audits. */
  private def searchInputs(): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val files = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("plansearch").toString
    def vec(id: org.apache.spark.sql.Column, salt: Int) =
      array((0 until 8).map(j =>
        (pmod(xxhash64(id, lit(j + salt)), lit(1000)) / 1000d).cast("float")): _*)
    spark.range(0, 400, 1, files).select(
      concat(lit("d"), col("id")).as("id"),
      when(col("id") % 3 === 0, "image").otherwise("text").as("mtype"),
      concat(lit("payload "), col("id")).as("data"),
      vec(col("id"), 0).as("embedding"))
      .write.mode("overwrite").parquet(dir)
    val queries = spark.range(0, 4, 1, 1).select(
      concat(lit("q"), col("id")).as("qid"), lit("text").as("qtype"),
      vec(col("id"), 100).as("qvec"))
    val edges = (0 until 400).flatMap(i => Seq(1, 7).map(d =>
      (s"d$i", s"d${(i + d) % 400}", ((i * 31 + d) % 100) / 100d)))
      .toDF("src", "dst", "score")
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("score"))
    (spark.read.parquet(dir), queries, edges)
  }

  test("brute /search over a corpus stored as >= defaultParallelism files: one shuffle (on qid), the KNN planned once, no spread") {
    val (docs, queries, edges) = searchInputs()
    // a 1-byte spread floor: only the split estimate decides the spread
    val conf = GraftConf(dim = 8, spreadScoringMinBytes = 1L)
    val df = Pipelines.search(docs, queries, edges, conf, Retrieval.Brute)
    val plan = plannedTree(df)
    val shuffles = plan.collect {
      case e: ShuffleExchangeLike => e
      case r: ReusedExchangeExec => r
    }
    assert(shuffles.size == 1, s"one exchange expected:\n$plan")
    val keys = shuffles.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map(_.sql)
      case other => Seq(other.toString)
    }
    assert(keys == Seq("qid"), s"the exchange must hash-partition on qid:\n$plan")
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.size == 1,
      s"the KNN subtree must be planned once:\n$plan")
    assert(!plan.toString.contains("RoundRobinPartitioning"),
      s"a corpus already split over the cores must not be spread:\n$plan")
    assert(df.count() > 0)
  }

  test("ANN /search: the ANN subtree is planned once") {
    val (docs, queries, edges) = searchInputs()
    val conf = GraftConf(dim = 8)
    val ann = Retrieval.MultiTableLsh(dim = 8)
    def embeddingScans(df: DataFrame) = plannedTree(df).collect {
      case s: FileSourceScanExec if s.requiredSchema.fieldNames.contains("embedding") => s
    }.size
    val alone = embeddingScans(ann.topK(docs, queries, conf.searchK, conf))
    assert(alone > 0)
    assert(embeddingScans(Pipelines.search(docs, queries, edges, conf, ann)) == alone)
  }
}
