package graft.operators

import graft.GraftConf
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Brute-force KNN with modality-balanced re-ranking — the reference's core
  * query (`search_knn`, reference main.py:206-254), re-expressed as one
  * declarative Spark plan.
  *
  * Contract reproduced step by step (SURVEY.md §2.3):
  *  1. over-fetch k*overFetch nearest by cosine distance (main.py:208-215;
  *     FLAT index = brute force, db.py:35)
  *  2. similarity = 1 - distance (main.py:221); self-match clamps to 1.0
  *     (main.py:223-224)
  *  3. split results into same-modality vs cross-modality buckets
  *     (main.py:227-242); no query type ⇒ everything is "same"
  *  4. keep top k/2 (integer division!) of each bucket by similarity desc
  *     (main.py:245-249)
  *  5. union same-then-cross, truncate to k BEFORE the final sort, then
  *     sort desc (main.py:251-253) — when both buckets are full the tail
  *     of the cross bucket is dropped even if it outscores the same-bucket
  *     tail; quirk preserved under `faithful=true`.
  *
  * Scale notes (100 TB thinking):
  *  - `docs` is the big side and arrives partitioned; `queries` is the
  *    small side and is broadcast — the scored cross product never
  *    shuffles the corpus.
  *  - Per-query top-k runs as window `row_number` over (qid[,bucket]);
  *    with AQE the post-filter cardinality (≤ k*overFetch per query)
  *    collapses the final ranking to a trivial exchange. For larger k or
  *    query fan-outs a bounded-heap `TypedImperativeAggregate` is the
  *    upgrade path (SURVEY.md §7.3).
  *  - Ties broken deterministically by doc id (stable under re-partitioning).
  *
  * Inputs:
  *  - docs:    (id, mtype, data?, embedding ARRAY<FLOAT>) — L2-normalized
  *  - queries: (qid?, qtype?, qvec ARRAY<FLOAT>)
  * Output: (qid, id, mtype, sim, rank) — `rank` is the final 1-based
  * position within the query's result list.
  */
object Knn {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Broadcast the query batch only while it is plausibly driver-sized:
    * gate on Catalyst's optimized-plan size estimate (free — no job) vs
    * the configured cap. An un-gated hint OOMs the driver the day someone
    * feeds a million-query batch. Past the cap we only REMOVE the hint;
    * the planner may still broadcast by its own size estimate
    * (autoBroadcastJoinThreshold) — the degradation to a partition-local
    * CartesianProduct happens only when the planner also can't broadcast,
    * which is exactly the big-batch case the gate exists for. The chosen
    * path is logged (INFO) so a size-estimate misfire is diagnosable:
    * an underestimate re-broadcasts a huge batch, an overestimate
    * silently degrades a tiny one.
    *
    * Gated on [[Retrieval.provenAtOrUnder]], not the raw plan stat
    * (r12 regression family): a `localCheckpoint`ed micro-batch reports
    * the defaultSizeInBytes sentinel, which read as "huge" and withheld
    * the hint on EVERY streaming batch — and since AQE is unavailable
    * inside Structured Streaming, a growing store past
    * autoBroadcastJoinThreshold would degrade the per-batch KNN to a
    * CartesianProduct. Under `conf.rddFramesAreMicroBatches` (the
    * streaming ingest loop asserts it — its deltas ARE micro-batches by
    * construction) unknown leaves count 0; on the public path a bounded
    * row probe settles them, so a million-query `createDataFrame` batch
    * can no longer grab the hint unexamined (r13 ADVICE #1). */
  private[graft] def maybeBroadcast(
      queries: DataFrame, conf: GraftConf): DataFrame = {
    val hinted =
      Retrieval.provenAtOrUnder(queries, conf.broadcastQueryCapBytes, conf)
    log.info(s"query-batch broadcast gate: " +
      s"sizeEstimate=${Retrieval.knownSizeEstimate(queries)} " +
      s"capBytes=${conf.broadcastQueryCapBytes} " +
      s"=> ${if (hinted) "broadcast hint applied" else "hint withheld (planner decides)"}")
    if (hinted) broadcast(queries) else queries
  }

  /** Guard against silently running the quadratic brute-force path over a
    * cluster-scale corpus: compare Catalyst's free size estimate for the
    * docs side against `conf.bruteCorpusWarnBytes` and WARN (or, with
    * `conf.failOnOversizeBruteKnn`, throw) pointing at the sub-linear
    * alternatives that are one argument away ([[Retrieval.MultiTableLsh]]
    * via `Pipelines.search`, or [[Ann.topKBucketed]] directly). Brute
    * force stays the default because it IS the reference's contract
    * (FLAT index, db.py:35); this guard only makes the scale cliff loud.
    * @return true iff the corpus exceeded the cap (i.e. the guard fired) */
  private[graft] def bruteGuard(docs: DataFrame, conf: GraftConf): Boolean = {
    // decision via Retrieval.provenAtOrUnder, not the raw plan stat:
    // RDD-backed leaves report the defaultSizeInBytes "unknown" sentinel,
    // which must not read as "huge" — with failOnOversizeBruteKnn it
    // would spuriously THROW on a three-row streaming micro-batch (r12
    // regression). Streaming callers assert the micro-batch contract
    // (conf.rddFramesAreMicroBatches); on the public path a bounded row
    // probe classifies a genuinely large RDD-backed corpus as over-cap,
    // so the guard fires there too (r13 ADVICE #1).
    val over = !Retrieval.provenAtOrUnder(docs, conf.bruteCorpusWarnBytes, conf)
    if (over) {
      val est = Retrieval.knownSizeEstimate(docs)
      val msg = s"brute-force KNN over a corpus estimated at $est bytes " +
        s"(> bruteCorpusWarnBytes=${conf.bruteCorpusWarnBytes}): every " +
        "(query, doc) pair will be scored. For corpora this size use the " +
        "sub-linear path — Retrieval.Auto (switches at this same cap), " +
        "Retrieval.MultiTableLsh (Pipelines.search retrieval argument) or " +
        "Ann.topKBucketed — or raise the cap / set " +
        "failOnOversizeBruteKnn=false deliberately."
      if (conf.failOnOversizeBruteKnn) throw new IllegalArgumentException(msg)
      log.warn(msg)
    }
    over
  }

  /** §2.6 idle-capacity guard on the exact-scoring cross joins: the
    * corpus side arrives straight from a scan or cache whose partition
    * count tracks input BYTES (file splits), not the O(|queries| ×
    * |docs|) work the cross join is about to run on it. A corpus small
    * enough to be one or two 128 MB splits serializes every dot product
    * on one or two cores while the rest of the machine idles — measured
    * on the q17-shaped sf1 search KNN at 32 cores: 75 s at 2 partitions
    * vs 6 s spread ([[graft.tools.KnnParProbe]]), identical result hash
    * (scoring is per-row and every rank window orders by a proven total
    * order, so results are partitioning-invariant).
    *
    * The decision is pure plan arithmetic — the scan's natural split
    * count is estimated as the larger of Catalyst's free size estimate
    * divided by `files.maxPartitionBytes` and the number of input files
    * of its file-source leaves (a small corpus stored as one file per
    * core already scans on every core); below
    * `conf.spreadScoringMinBytes` nothing happens (the shuffle would
    * cost more than the scoring), and once the estimated split count
    * reaches `defaultParallelism` this is a no-op. Never inspects
    * `df.rdd`: materializing the RDD of an AQE-planned frame can
    * EXECUTE its shuffle stages just to read a partition count.
    * RDD-backed leaves (localCheckpoint frames) estimate 0 bytes and
    * therefore never spread — the conservative direction (status quo,
    * no behavior change). */
  private[graft] def spreadForScoring(
      docs: DataFrame, conf: GraftConf): DataFrame = {
    val spark = docs.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val est = Retrieval.knownSizeEstimate(docs)
    if (est < BigInt(conf.spreadScoringMinBytes)) return docs
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    val files = docs.queryExecution.optimizedPlan.collectLeaves()
      .collect { case l: LogicalRelation => l.relation }
      .collect { case fs: HadoopFsRelation => fs.location.inputFiles.length }
      .sum
    val estSplits = ((est + splitBytes - 1) / splitBytes).max(BigInt(files))
    if (estSplits >= BigInt(target)) docs
    else {
      log.info(s"spreadForScoring: corpus estimate $est bytes ~ $estSplits " +
        s"split(s) < defaultParallelism=$target => repartition($target)")
      docs.repartition(target)
    }
  }

  /** Similarity of a doc row to the query row: dot product on normalized
    * vectors (cosine ≡ dot, app.py:14-15), with the reference's self-match
    * clamp (main.py:223-224). The reference round-trips through distance
    * (1 - (1 - sim), main.py:221) in float32 Redis; we keep the direct
    * Double dot product — same ordering, cleaner precision, and the oracle
    * mirrors this exact formula. */
  private def simExpr(qid: Column, id: Column, qvec: Column, emb: Column): Column =
    when(qid.isNotNull && id === qid, lit(1.0))
      .otherwise(dotProduct(qvec, emb))

  /** The §2.3 contract above as one plan. All four `row_number` windows
    * partition on `qid` (a null qid is one window group and one hash
    * partition, like any other key), so the scored rows cross exactly one
    * exchange, `hashpartitioning(qid)`, and the result leaves partitioned
    * on `qid`: a downstream per-query window (the graph expansion's)
    * reuses that exchange instead of planning its own. */
  def search(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      conf: GraftConf = GraftConf.default,
      idCol: String = "id",
      mtypeCol: String = "mtype"
  ): DataFrame = {
    bruteGuard(docs, conf)
    val overFetch = k * conf.overFetch

    // docs is the (potentially 100 TB) side: never shuffle it for the
    // join — broadcast the query batch instead (size-gated). Exception:
    // a corpus PROVEN small but under-split (spreadForScoring) moves
    // once so the quadratic scoring stage runs machine-wide.
    val scored = spreadForScoring(docs, conf)
      .crossJoin(maybeBroadcast(queries, conf))
      .withColumn(
        "sim",
        simExpr(col("qid"), col(idCol), col("qvec"), col("embedding")))
      .withColumn(
        "bucket",
        when(col("qtype").isNull || col(mtypeCol) === col("qtype"), lit("same"))
          .otherwise(lit("cross")))

    // step 1: over-fetch by ascending distance == descending similarity.
    // Tie-break (id, mtype): id alone is NOT total — identical content
    // under two modalities shares its sha-derived id AND its sim (one
    // embedding per text), and row_number over a genuine tie diverges
    // between engines (found live at the sf1 inflation, where exact-dup
    // source docs with different lang collide; q16's 12/15 sf1 audit).
    // mtype rides asc_nulls_last: Spark's bare asc is NULLS FIRST while
    // the DuckDB mirror's ASC is NULLS LAST — on a (sim, id) tie with a
    // NULL mtype the two engines would otherwise rank differently (the
    // same divergence class the lang tie-break hit in the datasheet
    // query).
    val wOver = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col(idCol), col(mtypeCol).asc_nulls_last)
    val overFetched = scored
      .withColumn("ofr", row_number().over(wOver))
      .filter(col("ofr") <= overFetch)

    // step 4: per-bucket rank, keep k/2 (integer division quirk)
    val wBucket = Window.partitionBy("qid", "bucket")
      .orderBy(col("sim").desc, col(idCol), col(mtypeCol).asc_nulls_last)
    val kept = overFetched
      .withColumn("brank", row_number().over(wBucket))
      .filter(col("brank") <= k / 2)

    // step 5: same-bucket rows first (in score order), then cross-bucket
    // rows; truncate at k in THAT order; final sort by sim desc.
    val wUnion = Window
      .partitionBy("qid")
      .orderBy(
        when(col("bucket") === "same", 0).otherwise(1).asc,
        col("sim").desc,
        col(idCol), col(mtypeCol).asc_nulls_last)
    val wFinal = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col(idCol), col(mtypeCol).asc_nulls_last)
    kept
      .withColumn("urank", row_number().over(wUnion))
      .filter(col("urank") <= k)
      .withColumn("rank", row_number().over(wFinal))
      .select(col("qid"), col(idCol).as("id"), col(mtypeCol).as("mtype"),
        col("sim"), col("rank"))
  }

  /** topK via the bounded-heap aggregate (SURVEY §7.3): identical results
    * to [[topK]] (same score-desc/id-asc contract, spec-verified); the
    * partial aggregation state crossing the shuffle is at most k pairs
    * per query per partition. */
  def topKViaAgg(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "id",
      conf: GraftConf = GraftConf.default): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    bruteGuard(docs, conf)
    val scored = spreadForScoring(docs, conf)
      .crossJoin(maybeBroadcast(queries, conf))
      .select(col("qid"), col(idCol).as("id"),
        dotProduct(col("qvec"), col("embedding")).as("sim"))
    val topCol = Bridge.column(
      graft.expressions.TopKAgg(
        Bridge.expression(col("sim")), Bridge.expression(col("id")), k)
        .toAggregateExpression())
    scored.groupBy("qid").agg(topCol.as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("id"),
        col("col.score").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Plain per-query cosine top-k (no modality balancing) — the baseline
    * ANN building block and the `expandAll`-era API. */
  def topK(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "id",
      conf: GraftConf = GraftConf.default
  ): DataFrame = {
    bruteGuard(docs, conf)
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
    spreadForScoring(docs, conf)
      .crossJoin(maybeBroadcast(queries, conf))
      .withColumn("sim", dotProduct(col("qvec"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("id"), col("sim"), col("rank"))
  }
}
