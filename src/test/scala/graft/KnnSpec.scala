package graft

import graft.operators.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Quirk-fidelity tests for the §2.3 KNN contract (SURVEY.md §7.4 risk 1).
  * Vectors are axis-aligned so cosine similarities are exact by
  * construction. */
class KnnSpec extends SparkSpec {
  import spark.implicits._

  /** doc row: id, mtype, unit vector with given components. */
  private def docsDf(rows: (String, String, Seq[Float])*): DataFrame =
    rows.toDF("id", "mtype", "embedding")

  private def queryDf(qid: String, qtype: String, v: Seq[Float]): DataFrame =
    Seq((qid, qtype, v)).toDF("qid", "qtype", "qvec")

  // similarity of doc d to query [1,0,0,0] is just d(0)
  private def doc(id: String, mtype: String, sim: Double): (String, String, Seq[Float]) = {
    val s = sim.toFloat
    val rest = math.sqrt(math.max(0.0, 1.0 - s * s)).toFloat
    (id, mtype, Seq(s, rest, 0f, 0f))
  }
  private val qv = Seq(1f, 0f, 0f, 0f)

  test("self-match clamps similarity to exactly 1.0 (main.py:223-224)") {
    val docs = docsDf(doc("q", "text", 0.3), doc("a", "text", 0.9))
    val res = Knn.search(docs, queryDf("q", "text", qv), k = 4)
      .orderBy("rank").collect()
    assert(res.head.getAs[String]("id") == "q")
    assert(res.head.getAs[Double]("sim") == 1.0)
  }

  test("k/2 integer division: k=5 keeps at most 2 per bucket (main.py:245-249)") {
    val docs = docsDf(
      doc("s1", "text", 0.9), doc("s2", "text", 0.8), doc("s3", "text", 0.7),
      doc("c1", "image", 0.95), doc("c2", "image", 0.85), doc("c3", "image", 0.75))
    val res = Knn.search(docs, queryDf("q1", "text", qv), k = 5).collect()
    // 2 same + 2 cross = 4 rows — fewer than k, the reference's quirk
    assert(res.length == 4)
    val byBucket = res.groupBy(_.getAs[String]("mtype")).view.mapValues(_.map(_.getAs[String]("id")).toSet)
    assert(byBucket("text") == Set("s1", "s2"))
    assert(byBucket("image") == Set("c1", "c2"))
  }

  test("union truncate is a no-op (2*(k/2) <= k) and final order is score desc (main.py:251-253)") {
    // Odd k=3 ⇒ 1 per bucket; the reference's final [:k] can never cut
    // because len(same_keep)+len(cross_keep) = 2*(k//2) <= k for every k.
    // Verified here: 4 candidates, k=3 → exactly 2 rows, sorted desc.
    val docs = docsDf(
      doc("s1", "text", 0.9), doc("s2", "text", 0.5),
      doc("c1", "image", 0.8), doc("c2", "image", 0.7))
    val res = Knn.search(docs, queryDf("q1", "text", qv), k = 3)
      .orderBy("rank").collect()
    val ids = res.map(_.getAs[String]("id")).toSeq
    assert(ids == Seq("s1", "c1"))
  }

  test("no query type ⇒ single bucket, plain top-k (main.py:229)") {
    val docs = docsDf(
      doc("a", "text", 0.9), doc("b", "image", 0.8),
      doc("c", "text", 0.7), doc("d", "image", 0.6))
    val q = Seq(("q1", null.asInstanceOf[String], qv)).toDF("qid", "qtype", "qvec")
    val res = Knn.search(docs, q, k = 4).orderBy("rank").collect()
    // all "same" bucket → k/2 = 2 kept total
    assert(res.map(_.getAs[String]("id")).toSeq == Seq("a", "b"))
  }

  test("null qid: every query without a qid ranks as ONE group, beside named queries") {
    // docs carry distinct sims to [1,0,0,0] (first component) and to
    // [0,1,0,0] (second component)
    val docs = docsDf(
      ("a", "text", Seq(0.9f, 0.1f, 0f, 0f)), ("b", "image", Seq(0.8f, 0.3f, 0f, 0f)),
      ("c", "text", Seq(0.2f, 0.7f, 0f, 0f)), ("d", "image", Seq(0.1f, 0.6f, 0f, 0f)))
    val noQid = null.asInstanceOf[String]
    val q = Seq((noQid, "text", qv), (noQid, "text", Seq(0f, 1f, 0f, 0f)), ("q1", "text", qv))
      .toDF("qid", "qtype", "qvec")
    val res = Knn.search(docs, q, k = 4).collect()
      .map(r => (Option(r.getAs[String]("qid")), r.getAs[String]("id"),
        r.getAs[Double]("sim").toFloat, r.getAs[Int]("rank")))
      .toSet
    // the two qid-less queries pool their 8 scored rows into one group:
    // same bucket (text) keeps a@0.9 and c@0.7, cross keeps b@0.8 and
    // d@0.6 — 4 rows, not 4 per query
    assert(res == Set(
      (None, "a", 0.9f, 1), (None, "b", 0.8f, 2), (None, "c", 0.7f, 3), (None, "d", 0.6f, 4),
      (Some("q1"), "a", 0.9f, 1), (Some("q1"), "b", 0.8f, 2),
      (Some("q1"), "c", 0.2f, 3), (Some("q1"), "d", 0.1f, 4)))
  }

  test("over-fetch bound: bucket ranking sees only the global top k*6 (main.py:209)") {
    // 70 same-modality docs better than the best cross doc; k=10 → fetch 60.
    // The cross doc is outside the top-60, so the cross bucket is EMPTY
    // even though cross-quota is 5.
    val same = (1 to 70).map(i => doc(f"s$i%03d", "text", 0.9 - i * 0.001))
    val cross = Seq(doc("c1", "image", 0.1))
    val docs = docsDf(same ++ cross: _*)
    val res = Knn.search(docs, queryDf("q1", "text", qv), k = 10).collect()
    assert(res.length == 5) // k/2 same only
    assert(!res.map(_.getAs[String]("id")).contains("c1"))
  }

  test("duplicate content across modalities: (sim, id) ties rank deterministically by mtype (sf1 regression)") {
    // The sf1 audit's find: identical text stored under two modalities
    // shares its sha-derived id AND its similarity (one embedding per
    // text), so (sim DESC, id) alone is not a total order and
    // row_number diverged between engines. The fix appends mtype to
    // every tie-break chain; this pins it: the image row of the
    // colliding pair must always rank before the text row (mtype asc),
    // under any input row order.
    val collide = Seq(
      doc("dupdoc", "image", 0.8), doc("dupdoc", "text", 0.8),
      doc("hi", "text", 0.9), doc("lo", "image", 0.4))
    for (perm <- Seq(collide, collide.reverse, collide.sortBy(_._2))) {
      val res = Knn.search(docsDf(perm: _*), queryDf("q1", "text", qv), k = 4)
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("id"), r.getAs[String]("mtype")))
      val dupRanks = res.zipWithIndex.collect {
        case ((id, mt), i) if id == "dupdoc" => (mt, i) }.toMap
      assert(dupRanks("image") < dupRanks("text"),
        s"mtype tie-break violated in ${res.toSeq}")
    }
  }

  test("topK: plain per-query ranking, deterministic id tie-break") {
    val docs = docsDf(doc("b", "x", 0.5), doc("a", "x", 0.5), doc("c", "x", 0.9))
    val res = Knn.topK(docs, Seq(("q", qv)).toDF("qid", "qvec"), k = 3)
      .orderBy("rank").collect()
    assert(res.map(_.getAs[String]("id")).toSeq == Seq("c", "a", "b"))
  }

  test("topKViaAgg (bounded-heap aggregate) == window topK, exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = emb.select(col("vec_id").cast("string").as("id"), col("embedding"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "sim", "rank").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val viaWindow = rows(Knn.topK(docs, queries, k = 7))
    val viaAgg = rows(Knn.topKViaAgg(docs, queries, k = 7))
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)
  }

  test("broadcast size gate: big query batches don't get the broadcast hint; results identical") {
    // The gate only withholds the HINT; JoinSelection may still broadcast
    // a small batch by its own size estimate (autoBroadcastJoinThreshold).
    // Disable size-based auto-broadcast for this test so the ungated side
    // genuinely degrades to a partition-local CartesianProduct — the plan
    // shape the gate produces when the batch really is too big to
    // broadcast (at which point the planner can't pick BNLJ either).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val docs = emb.select(col("vec_id").cast("string").as("id"),
        lit("x").as("mtype"), col("embedding"))
      val queries = emb.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").cast("string").as("qid"),
          lit("x").as("qtype"), col("embedding").as("qvec"))
      val gatedOff = Knn.search(docs, queries, k = 3,
        graft.GraftConf(dim = 64, broadcastQueryCapBytes = 1L))
      val gatedOn = Knn.search(docs, queries, k = 3,
        graft.GraftConf(dim = 64)) // default 64 MiB cap: hint applies
      val pOff = gatedOff.queryExecution.executedPlan.toString
      val pOn = gatedOn.queryExecution.executedPlan.toString
      assert(!pOff.contains("BroadcastNestedLoopJoin"),
        s"1-byte cap must suppress the broadcast hint:\n$pOff")
      assert(pOff.contains("CartesianProduct"),
        s"ungated big batch must degrade to a partition-local cartesian:\n$pOff")
      assert(pOn.contains("BroadcastNestedLoopJoin"),
        s"hinted batch must broadcast even with auto-broadcast off:\n$pOn")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(4))).toSet
      assert(rows(gatedOff) == rows(gatedOn)) // the gate is physical-only

      // the STREAMING shape (r12 regression family): a localCheckpointed
      // micro-batch reports the defaultSizeInBytes sentinel, which must
      // read as "micro-batch", not "huge" — the hint still applies, so
      // the per-batch KNN broadcasts the 3-row delta instead of
      // degrading to a store-sized cartesian (AQE cannot rescue it
      // inside Structured Streaming)
      val microBatch = queries.limit(3).localCheckpoint()
      val streamed = Knn.search(docs, microBatch, k = 3,
        graft.GraftConf(dim = 64))
      val pStream = streamed.queryExecution.executedPlan.toString
      assert(pStream.contains("BroadcastNestedLoopJoin"),
        s"checkpointed micro-batch must keep the broadcast hint:\n$pStream")
      assert(streamed.count() > 0)
      microBatch.unpersist()
    } finally spark.conf.set(key, saved)
  }

  test("brute-force corpus guard: fires past the cap, silent below, throws when escalated") {
    val docs = docsDf(doc("a", "text", 0.9), doc("b", "text", 0.8))
    // 1-byte cap: any non-empty corpus estimate exceeds it → guard fires
    assert(Knn.bruteGuard(docs, graft.GraftConf(bruteCorpusWarnBytes = 1L)),
      "tiny cap must trip the oversize warning")
    // default 32 GiB cap: a 2-row corpus stays silent
    assert(!Knn.bruteGuard(docs, graft.GraftConf()),
      "a 2-row corpus must not trip the default cap")
    // escalation: fail-fast instead of warn — and search() itself throws,
    // so the quadratic path cannot be entered silently when opted in
    val failConf = graft.GraftConf(
      bruteCorpusWarnBytes = 1L, failOnOversizeBruteKnn = true)
    val ex = intercept[IllegalArgumentException] {
      Knn.search(docs, queryDf("q1", "text", qv), k = 2, failConf)
    }
    assert(ex.getMessage.contains("MultiTableLsh"),
      s"the error must name the sub-linear alternative: ${ex.getMessage}")
    // results are unaffected when the guard merely warns (k=4 so the
    // k/2-per-bucket quirk keeps both docs)
    val r = Knn.search(docs, queryDf("q1", "text", qv), k = 4,
      graft.GraftConf(bruteCorpusWarnBytes = 1L)).collect()
    assert(r.map(_.getAs[String]("id")).toSet == Set("a", "b"))
  }
}
