package graft.operators

import graft.GraftConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-augmented search expansion — the reference's
  * `search_with_graph_expansion` (search.py:5-43).
  *
  * Faithful semantics (SURVEY.md §2.4 G2, quirk verified in the code):
  * the loop pops exactly ONE node per depth step from a FIFO queue seeded
  * with the KNN results in rank order (search.py:10-14). With the default
  * depth=1 only the single top-ranked seed is expanded. Each visited
  * neighbor gets score = parent_score * edge_weight * 0.9 (search.py:31,
  * F7); already-seen ids are never overwritten (seed scores win,
  * search.py:19). Final: sort desc, take k (search.py:42-43).
  *
  * Two modes:
  *  - [[expandFaithful]]: reproduces the single-pop quirk for depth=1
  *    (the only depth the reference ever uses). The correctness oracle
  *    targets this. It is [[expandFaithfulDepth]] at depth 1, which
  *    reads its seeds once.
  *  - [[expandAll]]: the scalable generalization — proper BFS over the
  *    whole frontier per hop, dedup keeps max score. `depth` is a plan
  *    literal, so the hop loop unrolls into `depth` joins: no driver-side
  *    iteration over data, no collect.
  *
  * Scale: each hop is (frontier ⨝ symmetric-edges) ⨝ docs — frontier is
  * small (≤ k·fanout) and broadcast; the edge table is the big side and
  * only ever probed by join key.
  */
/** CACHE CONTRACT: methods here pin intermediates reused by the
  * returned lazy plan and cannot unpersist them eagerly; pins go
  * through [[graft.CacheScope.pin]], so callers release them with
  * `CacheScope.materializeAndRelease` (Bench/Verify do, per query);
  * without a scope they are plain persists the caller must drop. */
object GraphExpand {

  /** Faithful depth-1 expansion: [[expandFaithfulDepth]] at depth 1.
    * @param seeds KNN results (qid, id, sim, rank) — rank 1 = queue head
    * @param edges undirected edge table (src, dst, score)
    * @return (qid, id, score, origin, rnk) — origin marks seed vs expanded
    */
  def expandFaithful(
      seeds: DataFrame,
      edges: DataFrame,
      k: Int,
      conf: GraftConf = GraftConf.default): DataFrame =
    expandFaithfulDepth(seeds, edges, k, depth = 1, conf)

  /** Faithful expansion at depth D (D = 1 is [[expandFaithful]]):
    * unrolls the reference's pop-one-per-step FIFO loop
    * (search.py:10-14). Seeds enter the queue
    * in rank order and a pop's discoveries are APPENDED — behind the
    * remaining seeds — so as long as every query has >= depth seeds, the
    * first `depth` pops are exactly seed ranks 1..depth, and the loop
    * unrolls into `depth` parent-neighbor joins. Each step's discoveries
    * are first-writer-wins against everything seen before (the dict
    * guard, search.py:19): an id found at step 1 is never re-added or
    * re-scored by step 2, even at a higher score.
    *
    * Contract: queries with FEWER than `depth` seeds would have the
    * reference popping appended neighbors, whose order depends on
    * NetworkX adjacency-insertion order — not observable relationally;
    * NO relational form (collapsed or unrolled) can reproduce that, so
    * such inputs are REJECTED, not silently approximated: with
    * `validateSeedDepth` (default) the operator runs one tiny
    * aggregate over `seeds` (every call site pins the seed KNN, so the
    * probe hits cache or populates it for the main query) and throws
    * listing offending qids. Callers that have verified the invariant
    * out-of-band (the shipped harness gives every query exactly 5 seeds
    * with depth 3) can pass `validateSeedDepth = false` to keep the
    * plan fully lazy.
    *
    * Edges precondition: `edges` must be CANONICAL — unique (src, dst)
    * with src = least(id, id'), the exact shape [[GraphBuild.edgeDelta]]
    * emits and [[GraphBuild.latestWins]] maintains. The min-prio window
    * here keeps ONE row per (qid, id) per step, which equals the
    * reference's behavior only because a canonical edge table cannot
    * discover the same neighbor twice in one step; feeding a raw
    * multi-delta edge log would silently drop its duplicate discoveries
    * where the unrolled form (and the DuckDB oracle mirror) retains
    * them. Run [[GraphBuild.latestWins]] first if unsure.
    *
    * COLLAPSED FORM (r11 verdict #8): because only SEEDS are ever popped
    * (the quirk — discoveries append behind the remaining seeds and a
    * depth-bounded loop never reaches them), every pop's parent and its
    * step index are known up front: step i pops seed rank i. And
    * first-writer-wins across steps is exactly "smallest step index
    * wins" per (qid, id) — seeds at step 0, rank-i discoveries at step
    * i. So the per-step anti-join chain (depth× joins, unions, and
    * cache pins, each a separate job barrier) collapses into ONE
    * seeds⨝edges join plus ONE min-prio window dedup, identical by
    * construction (spec- and oracle-pinned; the DuckDB mirror keeps the
    * unrolled NOT-EXISTS statement, so the equivalence is cross-checked
    * against an independent formulation rather than assumed). Among
    * discoveries of one step the higher score wins, which only matters
    * for duplicate edges (a raw log) at depth 1.
    *
    * SINGLE READ: `seeds` (usually a whole KNN plan) is read once. Every
    * seed row left-outer-joins the symmetric edges of its own id when
    * its rank is at most `depth`, and each joined row fans out into the
    * seed itself (prio 0) and its neighbour (prio = rank, score decayed
    * F7). `qid` passes through untouched, so when `seeds` arrives
    * partitioned on `qid` (as [[Knn.search]] leaves it) and the edges
    * broadcast, the dedup window on (qid, id) and the rank window on
    * qid reuse that partitioning and the expansion adds no exchange.
    *
    * Scale: the symmetric edge table is probed by join key ONCE, as the
    * build side; the planner broadcasts it when its size estimate allows
    * and otherwise falls back to a keyed shuffle join. depth is a plan
    * literal — no driver-side data iteration. */
  def expandFaithfulDepth(
      seeds: DataFrame,
      edges: DataFrame,
      k: Int,
      depth: Int,
      conf: GraftConf = GraftConf.default,
      validateSeedDepth: Boolean = true): DataFrame = {
    require(depth >= 1, s"depth $depth must be >= 1")
    if (depth > 1 && validateSeedDepth) {
      // the collapse is sound only when pops 1..depth are all SEEDS —
      // i.e. every query present in `seeds` carries ranks 1..depth.
      // Queries with zero seeds are fine (nothing to pop, nothing
      // returned). Offenders would have the reference popping
      // discoveries in NetworkX insertion order, which no relational
      // form reproduces — fail loud instead of silently diverging.
      // countDistinct, not a row count: ranks are 1-based integers, so
      // `depth` DISTINCT values at or under `depth` ⇔ ranks 1..depth all
      // present — a frame with duplicated ranks (two rank-1 rows, no
      // rank-3) must fail here, not slip through on row count (r13
      // ADVICE #2)
      val offenders = seeds
        .groupBy("qid")
        .agg(countDistinct(when(col("rank") <= depth, col("rank"))).as("n"))
        .filter(col("n") < depth)
        .limit(5).collect()
      require(offenders.isEmpty,
        s"expandFaithfulDepth(depth=$depth) requires every query to have " +
          s">= depth seeds (ranks 1..$depth present); the reference " +
          "(search.py:10-14) would pop appended discoveries in NetworkX " +
          "insertion order for these, which is not relationally " +
          "reproducible. Offending qids (first 5): " +
          offenders.map(_.get(0)).mkString(", ") +
          ". Reduce depth, widen the seed KNN, or pass " +
          "validateSeedDepth = false if the invariant is verified " +
          "out-of-band.")
    }
    val sym = GraphBuild.symmetric(edges)
    val seedRow = struct(col("id"), col("sim").as("score"), lit(0).as("prio"))
    val discovery = struct(col("v").as("id"),
      (col("sim") * col("score") * lit(conf.expansionDecay)).as("score"),
      col("rank").cast("int").as("prio"))
    val fanned = seeds.select("qid", "id", "sim", "rank")
      .join(sym, col("rank") <= depth && col("id") === col("u"), "left_outer")
      .select(col("qid"), inline(
        when(col("u").isNull, array(seedRow)).otherwise(array(seedRow, discovery))))
    // first-writer-wins = smallest step index per (qid, id); a seed
    // joined to n neighbours repeats n times, identically
    val wDedup = Window.partitionBy("qid", "id").orderBy(col("prio"), col("score").desc)
    val wRank = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    fanned
      .withColumn("_rn", row_number().over(wDedup))
      .filter(col("_rn") === 1)
      .withColumn("origin", when(col("prio") === 0, "seed").otherwise("expanded"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select("qid", "id", "score", "origin", "rnk")
  }

  /** Scalable BFS expansion: expand the ENTIRE frontier each hop,
    * keep max score per (qid, id), never revisit. */
  def expandAll(
      seeds: DataFrame,
      edges: DataFrame,
      k: Int,
      depth: Int,
      conf: GraftConf = GraftConf.default): DataFrame =
    expandAllImpl(seeds, GraphBuild.symmetric(edges), k, depth, conf)

  private def expandAllImpl(
      seeds: DataFrame,
      sym0: DataFrame,
      k: Int,
      depth: Int,
      conf: GraftConf): DataFrame = {
    // Iterative-join hygiene: the symmetric edge view is probed every hop
    // and the accumulator is anti-joined every hop — persist both so the
    // upstream plan (often a full KNN) isn't re-executed per hop. This is
    // the standard iterative-algorithm pattern (GraphX does the same).
    val sym = sym0.transform(graft.CacheScope.pin)
    var acc = seeds.select(col("qid"), col("id"), col("sim").as("score")).transform(graft.CacheScope.pin)
    var frontier = acc
    for (_ <- 1 to depth) {
      val next = frontier.as("f")
        .join(sym.as("e"), col("f.id") === col("e.u"))
        .select(
          col("f.qid").as("qid"),
          col("e.v").as("id"),
          (col("f.score") * col("e.score") * lit(conf.expansionDecay)).as("score"))
        // drop nodes already reached (dedup keeps max score later, but
        // pruning here keeps the frontier bounded)
        .join(acc.select(col("qid").as("aq"), col("id").as("ai")),
          col("qid") === col("aq") && col("id") === col("ai"), "left_anti")
        .transform(graft.CacheScope.pin)
      acc = acc.unionByName(next).transform(graft.CacheScope.pin)
      frontier = next
    }
    finishExpandAll(acc, k)
  }

  /** Deep-traversal BFS expansion: identical semantics to [[expandAll]]
    * (spec-verified equal at depth ≤ 3) but built for LARGE depth.
    *
    * [[expandAll]] pins each hop's frames with `CacheScope.pin` — that
    * caches the DATA but keeps the compounded LOGICAL plan, which nests
    * one join+anti-join deeper per hop; around depth ~10 analysis cost
    * (and plan stringification) blows up, the same failure mode that hit
    * `GraphAlgos.connectedComponents` before it switched to per-superstep
    * `localCheckpoint`. This variant applies that pattern: every hop's
    * frontier and accumulator are `localCheckpoint`ed, truncating lineage
    * so the per-hop plan is O(1) regardless of depth.
    *
    * Extra over [[expandAll]]: an empty frontier short-circuits the loop
    * (the checkpoint has already materialized the hop, so the emptiness
    * probe is free) — graphs with diameter < depth stop at the diameter
    * instead of running `depth` no-op joins.
    *
    * Trade-off, and why this is not the default: localCheckpoint eagerly
    * materializes each hop as a Spark job and its blocks are NOT
    * refcounted by [[graft.CacheScope]] (they release on GC / session
    * end, or the final action), so for the shallow depths the reference
    * uses (1–3) the pinned variant composes better with the per-query
    * release discipline in Bench/Verify. Use this one for depth ≳ 5,
    * iterative algorithms, or any loop whose hop count is data-driven. */
  def expandAllCheckpointed(
      seeds: DataFrame,
      edges: DataFrame,
      k: Int,
      depth: Int,
      conf: GraftConf = GraftConf.default): DataFrame = {
    require(depth >= 1, s"depth $depth must be >= 1")
    val sym = GraphBuild.symmetric(edges).localCheckpoint()
    var acc = seeds.select(col("qid"), col("id"), col("sim").as("score"))
      .localCheckpoint()
    var frontier = acc
    var hop = 0
    while (hop < depth && !frontier.isEmpty) {
      val next = frontier.as("f")
        .join(sym.as("e"), col("f.id") === col("e.u"))
        .select(
          col("f.qid").as("qid"),
          col("e.v").as("id"),
          (col("f.score") * col("e.score") * lit(conf.expansionDecay)).as("score"))
        .join(acc.select(col("qid").as("aq"), col("id").as("ai")),
          col("qid") === col("aq") && col("id") === col("ai"), "left_anti")
        .localCheckpoint() // truncate lineage: O(1) plan per hop
      acc = acc.unionByName(next).localCheckpoint()
      frontier = next
      hop += 1
    }
    finishExpandAll(acc, k)
  }

  /** Shared tail of the scalable expansions: max-score dedup per
    * (qid, id), then per-query rank and truncate to k. */
  private def finishExpandAll(acc: DataFrame, k: Int): DataFrame = {
    val wDedup = Window.partitionBy("qid", "id").orderBy(col("score").desc)
    val wRank = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    acc
      .withColumn("_rn", row_number().over(wDedup))
      .filter(col("_rn") === 1)
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select("qid", "id", "score", "rnk")
  }
}
