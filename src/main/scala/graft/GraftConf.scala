package graft

/** Engine constants, all taken from the reference's hard-coded values.
  *
  * Evidence (reference = leoantony72/multi_model_vectorSearch @ /root/reference):
  *  - dim=512           app.py:10, main.py:25 (CLIP base patch16 output width)
  *  - overFetch=6       main.py:209 (KNN asks for k*6 before modality balancing)
  *  - submitK=10        main.py:84  (/submit neighbor query)
  *  - searchK=20        main.py:97  (/search top_k)
  *  - crossModalBoost   main.py:272-273 (edge score floored at 0.8 when
  *                      endpoint modalities differ)
  *  - expansionDecay    search.py:31 (neighbor score = parent * edge * 0.9)
  *  - depth=1           search.py:5 (default graph-expansion depth)
  */
final case class GraftConf(
    dim: Int = 512,
    overFetch: Int = 6,
    submitK: Int = 10,
    searchK: Int = 20,
    crossModalBoost: Double = 0.8,
    expansionDecay: Double = 0.9,
    depth: Int = 1,
    /** KNN broadcasts the query batch only when Catalyst's size estimate
      * is at or below this cap (bytes); larger batches fall back to a
      * non-broadcast join instead of OOMing the driver. 64 MiB default ~
      * a few hundred thousand 512-dim float queries. */
    broadcastQueryCapBytes: Long = 64L << 20,
    /** Brute-force KNN scores EVERY (query, doc) pair — the reference's
      * own FLAT-index contract, but a silent quadratic trap for a caller
      * pointing it at a large corpus. When Catalyst's size estimate for
      * the docs side exceeds this cap, `Knn` logs a WARN naming the
      * sub-linear alternative (`Retrieval.MultiTableLsh` /
      * `Ann.topKBucketed`); with [[failOnOversizeBruteKnn]] it throws
      * instead. 32 GiB default ≈ 16M 512-dim float rows — comfortably
      * past any interactive batch, well short of cluster scale. */
    bruteCorpusWarnBytes: Long = 32L << 30,
    /** Escalate the oversize-brute-KNN warning to an
      * IllegalArgumentException — for pipelines that must never fall into
      * the quadratic path unnoticed. Default false: reference parity
      * (brute IS the contract) is preserved unless a caller opts in. */
    failOnOversizeBruteKnn: Boolean = false,
    /** Caller-asserted contract for RDD-backed plan leaves (localCheckpoint,
      * createDataFrame over an RDD): their Catalyst stats are the
      * defaultSizeInBytes sentinel — unusable either way — so the size
      * gates (query-broadcast hint, brute-corpus guard, Auto escalation)
      * need ANOTHER signal. True = "every RDD-backed frame reaching a gate
      * is a micro-batch" (the streaming ingest loop sets this internally:
      * its deltas are micro-batches by construction) — unknown leaves
      * count 0 bytes, no job runs. False (default, the public API) = prove
      * it: the gate runs a cheap bounded row probe (`limit(n+1).count()`
      * against the cap translated to rows at `conf.dim`) instead of
      * trusting the caller — so a genuinely large RDD-backed corpus can
      * neither grab the broadcast hint (driver OOM) nor slip past
      * `failOnOversizeBruteKnn` (r13 ADVICE #1). */
    rddFramesAreMicroBatches: Boolean = false,
    /** The exact-scoring cross joins (brute KNN, the PQ/SQ/prefix rerank
      * shortlists, recall ground truths) read the corpus side straight
      * off a scan or cache whose partition count tracks INPUT BYTES, not
      * the O(|queries| x |docs|) work about to run on it — a corpus
      * small enough to be one or two file splits serializes millions of
      * dot products on one core while the rest of the cluster idles
      * (guide §2.6; measured 75 s -> 6 s at 32 cores on the q17-shaped
      * sf1 search KNN, tools/KnnParProbe). [[graft.operators.Knn
      * .spreadForScoring]] repartitions such a corpus to
      * `defaultParallelism` when it carries fewer natural splits than
      * the session has cores — but only at or above this floor: below it
      * single-task scoring costs less than the repartition exchange
      * itself (an 8 MiB dim-16 corpus scores a few hundred queries in
      * well under the ~100 ms a small shuffle costs). The check is pure
      * plan arithmetic — splits = max(Catalyst estimate /
      * files.maxPartitionBytes, input files of the file-source leaves) —
      * no job, and on a corpus already split (or stored as files) over
      * the cores it is a no-op. Floor, not a tuning constant: production
      * corpora either sit far above it (spread engages until the scan's
      * own splits reach core count) or far below (per-batch frames). */
    spreadScoringMinBytes: Long = 8L << 20
)

object GraftConf {
  val default: GraftConf = GraftConf()
}
