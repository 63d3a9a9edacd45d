package perfbench

import graft.GraftConf
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.util.Random

/** What one op did: the items it processed and its output check, which
  * runs after the op's clock has stopped. The check returns the failures
  * and the op's quality as (hits, expected hits). */
final case class Outcome(items: Int, check: () => (Seq[String], Double, Double))

/** One workload: inputs and stores built from the seed, and a closed-loop
  * op run by a single client. */
trait Workload {
  /** Ops run before the window. The JIT compiles by invocation counts, so
    * warm-up is counted in ops: a cheap op needs many to settle. */
  def warmupOps: Int
  /** Builds every input and store under `dir`. Called several times, each
    * time into a fresh `dir`; the last build is the one measured. */
  def setup(dir: String): Unit
  /** The i-th op, through the engine's public entry points. */
  def op(i: Int): Outcome
  /** The i-th op again, as the public functions it composes, each layer in
    * its own span. Must leave the same state and output as [[op]]. */
  def tracedOp(i: Int, t: Tracer): Outcome
  /** Layer counts for the i-th op, computed outside any timing: `before`
    * runs ahead of the op, and its result runs after it. */
  def counters(i: Int): () => Map[String, Double]
}

/** Shared session-side helpers. */
final class Env(val spark: SparkSession, val seed: Long) {
  val conf: GraftConf = GraftConf.default
  val cores: Int = spark.sparkContext.defaultParallelism
  import spark.implicits._

  def queryFrame(qs: Seq[Gen.Query]): DataFrame =
    qs.map(q => (q.qid, q.qtype, q.qvec)).toDF("qid", "qtype", "qvec")

  def docFrame(ds: Seq[Gen.Doc]): DataFrame =
    spark.sparkContext.parallelize(ds.map(d => (d.id, d.mtype, d.data, d.emb)), cores)
      .toDF("id", "mtype", "data", "embedding")

  def edgeFrame(es: Seq[Gen.Edge]): DataFrame =
    spark.sparkContext.parallelize(es.map(e => (e.src, e.dst, e.score, e.seq)), cores)
      .toDF("src", "dst", "score", "seq")

  /** `Pipelines.search` as the public functions it composes. */
  def tracedSearch(t: Tracer, docs: DataFrame, queries: DataFrame, edges: DataFrame,
      retrieval: Retrieval): Array[Row] = t.span("pipelines") {
    val k = conf.searchK
    val knn = t.span("retrieval") {
      retrieval match {
        case m: Retrieval.MultiTableLsh =>
          val top = t.span("ann") {
            t.materialize(Ann.topKMultiTable(docs.select("id", "embedding"),
              queries.select("qid", "qvec"), k, m.dim, m.nPlanes, m.nTables, conf))
          }
          t.materialize(top.join(docs.select("id", "mtype"), Seq("id"))
            .select("qid", "id", "mtype", "sim", "rank"))
        case r => t.materialize(r.topK(docs, queries, k, conf))
      }
    }
    val expanded = t.span("graphExpand") {
      t.materialize(GraphExpand.expandFaithful(
        knn.select("qid", "id", "sim", "rank"), edges, k, conf))
    }
    expanded.join(docs.select(col("id"), col("mtype"), col("data")), Seq("id"), "left").collect()
  }

  /** Data files under `dir` (parquet parts), for store growth counts. */
  def dataFiles(dir: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(dir))
  }

  def bytesUnder(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length
    walk(new File(dir))
  }

  /** Whether Spark would spread `df` over the cores before scoring it:
    * the plan then carries a round-robin repartition. */
  def spreads(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
}

object Workloads {
  val names: Seq[String] = Seq("search_interactive", "ingest_curate")

  def apply(name: String, env: Env): Workload = name match {
    case "search_interactive" => new Search(env)
    case "ingest_curate" => new Both(new CurateAdmit(env), new IngestMixed(env))
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; known: ${names.mkString(", ")}")
  }

  val Dim = 512
}

/** Two workloads as one: each op runs `a`'s op, then `b`'s. */
final class Both(a: Workload, b: Workload) extends Workload {
  def warmupOps: Int = a.warmupOps max b.warmupOps
  def setup(dir: String): Unit = { a.setup(s"$dir/a"); b.setup(s"$dir/b") }

  private def merge(x: Outcome, y: Outcome) = Outcome(x.items + y.items, () => {
    val (fx, hx, ex) = x.check()
    val (fy, hy, ey) = y.check()
    (fx ++ fy, hx + hy, ex + ey)
  })

  def op(i: Int): Outcome = merge(a.op(i), b.op(i))
  def tracedOp(i: Int, t: Tracer): Outcome = merge(a.tracedOp(i, t), b.tracedOp(i, t))
  def counters(i: Int): () => Map[String, Double] = {
    val (x, y) = (a.counters(i), b.counters(i))
    () => x() ++ y()
  }
}

/** `/search` over a clustered corpus with a canonical edge table: small
  * requests on the default arm, which takes brute force at this size. */
final class Search(env: Env) extends Workload {
  import env._
  def warmupOps = 10
  private val CorpusDocs = 5000
  private val RequestQueries = 4
  private var corpus: Oracle.Corpus = _
  private var clusters: Gen.Clusters = _
  private var docs, edges: DataFrame = _
  private val rng = new Random(seed ^ 0xabcdefL)
  private val retrieval: Retrieval = Retrieval.Auto()

  def setup(dir: String): Unit = {
    val (ds, cl) = Gen.corpus(seed, CorpusDocs, Workloads.Dim, 64)
    val es = Gen.edges(seed, ds, 4, conf.crossModalBoost)
    docFrame(ds).write.parquet(s"$dir/docs")
    edgeFrame(es).write.parquet(s"$dir/edges")
    corpus = new Oracle.Corpus(ds, es)
    clusters = cl
    inputs.clear()
    docs = spark.read.parquet(s"$dir/docs")
    edges = spark.read.parquet(s"$dir/edges")
  }

  private val inputs = scala.collection.mutable.HashMap[Int, Seq[Gen.Query]]()
  private def nextQueries(i: Int) =
    inputs.getOrElseUpdate(i, Gen.queries(rng, clusters, RequestQueries, i.toString).toSeq)

  private def outcome(qs: Seq[Gen.Query], rows: Array[Row]) = Outcome(qs.size, () =>
    (Oracle.checkExact(corpus, qs, rows, conf.searchK, conf.overFetch, conf.expansionDecay),
      1.0, 1.0))

  def op(i: Int): Outcome = {
    val qs = nextQueries(i)
    outcome(qs, Pipelines.search(docs, queryFrame(qs), edges, conf, retrieval).collect())
  }

  def tracedOp(i: Int, t: Tracer): Outcome = {
    val qs = nextQueries(i)
    outcome(qs, tracedSearch(t, docs, queryFrame(qs), edges, retrieval))
  }

  def counters(i: Int): () => Map[String, Double] = {
    // the same queries the op will draw
    val qs = nextQueries(i)
    val q = queryFrame(qs)
    val counts = Map(
      "retrieval.scored_pairs" -> qs.size.toDouble * corpus.docs.length,
      "retrieval.spread_fired" -> (if (spreads(retrieval.topK(docs, q, conf.searchK, conf))) 1.0 else 0.0))
    () => counts
  }
}

/** `/submit` beside `/search`: a micro-batch through
  * `StreamingIngest.processBatch`, then a query batch on the multi-table
  * LSH arm over the grown store, which reads the uncompacted edge log
  * through `GraphBuild.latestWins`. */
final class IngestMixed(env: Env) extends Workload {
  import env._
  import spark.implicits._
  def warmupOps = 1
  private val StoreDocs = 2000
  private val BatchRows = 16
  private val SearchQueries = 32
  private val ann = Retrieval.MultiTableLsh(dim = Workloads.Dim)
  private var docsDir, edgesDir: String = _
  private var payloads: Gen.Payloads = _
  private var clusters: Gen.Clusters = _
  private var stored: Set[String] = _
  private val rng = new Random(seed ^ 0x13579L)

  def setup(dir: String): Unit = {
    val (ds, cl) = Gen.corpus(seed, StoreDocs, Workloads.Dim, 64)
    docsDir = s"$dir/docs"
    edgesDir = s"$dir/edges"
    docFrame(ds).write.parquet(docsDir)
    edgeFrame(Gen.edges(seed, ds, 2, conf.crossModalBoost)).write.parquet(edgesDir)
    clusters = cl
    stored = ds.map(_.id).toSet
    inputs.clear()
    payloads = new Gen.Payloads(seed, ds.map(d => Gen.Payload(d.mtype, d.data, 0L)).toIndexedSeq, 0.2)
  }

  private def batchFrame(ps: Seq[Gen.Payload]): DataFrame =
    spark.sparkContext.parallelize(ps, cores).toDF("mtype", "data", "seq")

  private final class Input(val batch: Seq[Gen.Payload], val queries: Seq[Gen.Query])

  private val inputs = scala.collection.mutable.HashMap[Int, Input]()
  private def nextInput(i: Int) = inputs.getOrElseUpdate(i, new Input(payloads.batch(BatchRows).toSeq,
    Gen.queries(rng, clusters, SearchQueries, i.toString).toSeq))

  private def readEdges: DataFrame = GraphBuild.latestWins(spark.read.parquet(edgesDir))

  def op(i: Int): Outcome = {
    val in = nextInput(i)
    graft.streaming.StreamingIngest.processBatch(
      spark, batchFrame(in.batch), i, docsDir, edgesDir, conf)
    outcome(in, Pipelines.search(
      spark.read.parquet(docsDir), queryFrame(in.queries), readEdges, conf, ann).collect())
  }

  def tracedOp(i: Int, t: Tracer): Outcome = {
    val in = nextInput(i)
    t.span("streaming") {
      val mbConf = conf.copy(rddFramesAreMicroBatches = true)
      val existing = spark.read.parquet(docsDir)
      // checkpointed and released as processBatch does it
      val delta = t.span("ingest") {
        Ingest.dedupDelta(Ingest.prepare(batchFrame(in.batch), conf), existing)
          .select("id", "mtype", "data", "embedding", "seq").localCheckpoint()
      }
      if (!delta.isEmpty) {
        t.span("store")(GraphBuild.recoverEdges(spark, edgesDir))
        val docs = existing.select("id", "mtype", "data", "embedding")
          .unionByName(delta.drop("seq"))
        val queries = delta.select(col("id").as("qid"), col("mtype").as("qtype"),
          col("embedding").as("qvec"), col("seq"))
        val knn = t.span("retrieval") {
          t.materialize(Retrieval.Auto().topK(docs, queries.drop("seq"), conf.submitK, mbConf)
            .join(broadcast(queries.select("qid", "qtype", "seq")), Seq("qid")))
        }
        val edgeDelta = t.span("graphBuild")(t.materialize(GraphBuild.edgeDelta(knn, conf)))
        t.span("store") {
          edgeDelta.write.mode("append").parquet(edgesDir)
          delta.drop("seq").write.mode("append").parquet(docsDir)
        }
      }
      delta.unpersist()
    }
    val edges = t.span("graphBuild")(t.materialize(readEdges))
    outcome(in, tracedSearch(t, spark.read.parquet(docsDir), queryFrame(in.queries), edges, ann))
  }

  private def outcome(in: Input, rows: Array[Row]) = {
    val expectNew = in.batch.map(p => Gen.docId(p.data)).distinct.filterNot(stored)
    stored ++= expectNew
    val expectedCount = stored.size
    Outcome(in.batch.size, () => {
      val docs = spark.read.parquet(docsDir).select("id", "mtype", "data", "embedding")
        .collect().map(r => Gen.Doc(r.getString(0), r.getString(1), r.getString(2),
          r.getSeq[Float](3).toArray))
      val log = spark.read.parquet(edgesDir).collect().map(r =>
        Gen.Edge(r.getAs[String]("src"), r.getAs[String]("dst"), r.getAs[Double]("score"),
          r.getAs[Long]("seq")))
      val live = log.groupBy(e => (e.src, e.dst)).values.map(_.maxBy(_.seq))
      val corpus = new Oracle.Corpus(docs, live)
      val mtype = corpus.byId.view.mapValues(_.mtype)
      val linked = live.flatMap(e => Seq(e.src, e.dst)).toSet
      val failures = Seq(
        Option.when(docs.map(_.id).distinct.length != docs.length)("stored ids are not unique"),
        Option.when(docs.length != expectedCount)(s"store holds ${docs.length} docs, expected $expectedCount"),
        Option.when(!log.forall(e => e.src < e.dst))("an edge is not canonical (src < dst)"),
        Option.when(!live.forall(e => mtype.contains(e.src) && mtype.contains(e.dst)))("an edge points outside the store"),
        Option.when(!live.forall(e => mtype.get(e.src) == mtype.get(e.dst) || e.score >= conf.crossModalBoost))(
          s"a cross-modal edge scores below ${conf.crossModalBoost}"),
        Option.when(!expectNew.forall(linked))("an ingested doc got no edge")
      ).flatten
      val (wrong, shared, total) =
        Oracle.checkApprox(corpus, in.queries, rows, conf.searchK, conf.expansionDecay)
      // an approximate arm that finds under half the exact answer is broken
      val floor = Option.when(shared < total / 2)(s"search recall $shared/$total is below one half")
      (failures ++ wrong ++ floor, shared.toDouble, total.toDouble)
    })
  }

  /** Candidate rows of the search before its pair dedup: per table and
    * bucket, docs times queries that share it. */
  private def candidateRows(docs: DataFrame, q: DataFrame): Double = {
    def perBucket(df: DataFrame, v: String) = df.select(posexplode(array(
      (0 until ann.nTables).map(t => Ann.lshBucketT(col(v), ann.dim, ann.nPlanes, t)): _*))
      .as(Seq("tbl", "bucket"))).groupBy("tbl", "bucket").count()
    perBucket(docs, "embedding").withColumnRenamed("count", "nd")
      .join(perBucket(q, "qvec").withColumnRenamed("count", "nq"), Seq("tbl", "bucket"))
      .agg(sum(col("nd") * col("nq"))).first().getLong(0).toDouble
  }

  def counters(i: Int): () => Map[String, Double] = {
    val in = nextInput(i)
    val before = spark.read.parquet(docsDir).count()
    val files = dataFiles(docsDir) + dataFiles(edgesDir)
    val store = bytesUnder(docsDir) + bytesUnder(edgesDir)
    () => {
      val after = spark.read.parquet(docsDir).count()
      val logRows = spark.read.parquet(edgesDir).count().toDouble
      val liveRows = readEdges.count().toDouble
      val docs = spark.read.parquet(docsDir)
      val q = queryFrame(in.queries)
      val cand = candidateRows(docs, q)
      val distinct = Ann.multiTableCandidates(docs.select("id", "embedding"),
        q.select("qid", "qvec"), ann.dim, ann.nPlanes, ann.nTables, conf).count().toDouble
      Map(
        // the micro-batch scores its new docs against the whole store, and
        // the search batch scores its candidate rows
        "retrieval.scored_pairs" -> ((after - before).toDouble * after + cand),
        "retrieval.spread_fired" -> (if (spreads(Retrieval.Auto().topK(docs,
          queryFrame(Gen.queries(new Random(1), clusters, 1, "c")), conf.searchK, conf))) 1.0 else 0.0),
        "ann.candidate_rows" -> cand,
        "ann.distinct_pairs" -> distinct,
        "ann.useful_ratio" -> distinct / cand,
        "graphBuild.edge_log_rows" -> logRows,
        "graphBuild.live_ratio" -> liveRows / logRows,
        "store.files_added" -> (dataFiles(docsDir) + dataFiles(edgesDir) - files).toDouble,
        "store.bytes_per_doc" -> (bytesUnder(docsDir) + bytesUnder(edgesDir) - store).toDouble /
          math.max(1L, after - before))
    }
  }
}

/** The curation control loop: a batch of texts through
  * `Dedup.admitIncrementalStored` against a bucketed signature index, then
  * `Dedup.appendSignatureIndexStore` of the admitted texts. */
final class CurateAdmit(env: Env) extends Workload {
  import env._
  import spark.implicits._
  def warmupOps = 1
  private val IndexTexts = 2000
  private val BatchTexts = 64
  private var sigDir: String = _
  private var index: Array[Gen.Text] = _
  private var indexed: Int = 0
  private val rng = new Random(seed ^ 0x97531L)

  def setup(dir: String): Unit = {
    index = Gen.indexTexts(seed, IndexTexts)
    sigDir = s"$dir/signatures"
    Dedup.writeSignatureIndexStore(textFrame(index.toSeq), "id", "text", sigDir)
    indexed = index.length
    inputs.clear()
  }

  private def textFrame(ts: Seq[Gen.Text]): DataFrame =
    spark.sparkContext.parallelize(ts.map(t => (t.id, t.text)), cores).toDF("id", "text")

  private val inputs = scala.collection.mutable.HashMap[Int, Array[Gen.Text]]()
  private def nextBatch(i: Int): Array[Gen.Text] =
    inputs.getOrElseUpdate(i, Gen.admissionBatch(rng, index, BatchTexts, 0.2, 0.2))
  private var lastStatuses: Array[Row] = Array.empty

  private def admit(batch: DataFrame): Array[Row] =
    graft.CacheScope.materializeAndRelease(
      Dedup.admitIncrementalStored(batch, "id", "text", spark, sigDir))(_.collect())

  private def append(batch: DataFrame, statuses: Array[Row]): Unit = {
    val admitted = statuses.filter(_.getAs[String]("status") == "admitted").map(_.getAs[String]("id"))
    Dedup.appendSignatureIndexStore(batch.filter(col("id").isin(admitted.toIndexedSeq: _*)),
      "id", "text", sigDir)
  }

  def op(i: Int): Outcome = {
    val texts = nextBatch(i)
    val batch = textFrame(texts.toSeq)
    val statuses = admit(batch)
    append(batch, statuses)
    outcome(texts, statuses)
  }

  def tracedOp(i: Int, t: Tracer): Outcome = {
    val texts = nextBatch(i)
    val batch = textFrame(texts.toSeq)
    val statuses = t.span("dedup")(admit(batch))
    t.span("store")(append(batch, statuses))
    outcome(texts, statuses)
  }

  private def outcome(texts: Array[Gen.Text], statuses: Array[Row]) = {
    lastStatuses = statuses
    indexed += statuses.count(_.getAs[String]("status") == "admitted")
    val expectIndexed = indexed
    Outcome(texts.length, () => {
      val got = statuses.map(r => r.getAs[String]("id") -> (r.getAs[String]("status"), r.getAs[String]("dup_of"))).toMap
      // a family: a fresh text and the near copies planted from it
      val family = texts.filter(_.label == "dup_batch").map(t => t.id -> t.source).toMap ++
        texts.filter(_.label == "dup_batch").map(t => t.source -> t.id)
      val sources = texts.filter(_.label == "dup_batch").map(_.source).toSet
      val failures = scala.collection.mutable.ArrayBuffer[String]()
      if (got.size != texts.length || !texts.forall(t => got.contains(t.id)))
        failures += s"expected one status per text, got ${got.size} for ${texts.length}"
      var found = 0
      for (t <- texts; (status, dupOf) <- got.get(t.id)) (t.label, status) match {
        case ("fresh", "admitted") | ("dup_batch", "admitted") | ("dup_existing", "admitted") =>
        case ("dup_existing", "dup_existing") if dupOf == t.source => found += 1
        case ("dup_existing", "dup_batch") if texts.exists(o => o.id == dupOf && o.source == t.source) => found += 1
        case (_, "dup_batch") if family.get(t.id).contains(dupOf) =>
          if (t.label == "dup_batch" || sources(t.id)) found += 1
        case (label, s) => failures += s"text ${t.id} planted as $label came back $s of $dupOf"
      }
      val planted = texts.count(_.label != "fresh")
      if (found < planted * 0.9) failures += s"only $found of $planted planted duplicates found"
      val nIndexed = spark.read.parquet(sigDir).select("id").distinct().count()
      if (nIndexed != expectIndexed) failures += s"index holds $nIndexed texts, expected $expectIndexed"
      (failures.toSeq, found.toDouble, planted.toDouble)
    })
  }

  def counters(i: Int): () => Map[String, Double] = {
    val texts = nextBatch(i)
    val batch = textFrame(texts.toSeq)
    // candidate pairs: incoming and indexed texts sharing a whole band of
    // their MinHash signatures (the index's stored `sig`, 4 bands of 3)
    def bands(sig: Seq[Long]) = sig.grouped(3).zipWithIndex.map { case (b, i) => (i, b.toList) }
    val indexBands = spark.read.parquet(sigDir).select("id", "sig").distinct().collect()
      .flatMap(r => bands(r.getSeq[Long](1)).map(_ -> r.getString(0)))
      .groupMap(_._1)(_._2)
    val pairs = Dedup.signatureIndex(batch, "id", "text").collect()
      .flatMap(r => bands(r.getSeq[Long](1)).flatMap(b => indexBands.getOrElse(b, Array.empty[String]))
        .map(r.getString(0) -> _))
      .distinct.length.toDouble
    val bytes = bytesUnder(sigDir)
    () => {
      val statuses = lastStatuses.map(r => r.getAs[String]("id") -> r.getAs[String]("status")).toMap
      val survivors = texts.filter(t => statuses.get(t.id).exists(_ != "dup_existing"))
      val supersteps = graft.CacheScope.materializeAndRelease(Dedup.nearDupMinhashLsh(
          textFrame(survivors.toSeq), "id", "text"))(pairs =>
        GraphAlgos.connectedComponentsWithStats(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst"))).iterations)
      val dups = statuses.values.count(_ == "dup_existing").toDouble
      val admitted = statuses.values.count(_ == "admitted")
      Map(
        "dedup.candidate_pairs" -> pairs,
        "dedup.useful_ratio" -> (if (pairs > 0) dups / pairs else 0.0),
        "graphAlgos.supersteps" -> supersteps.toDouble,
        "dedup.index_bytes_per_doc" -> (bytesUnder(sigDir) - bytes).toDouble / math.max(1, admitted))
    }
  }
}
