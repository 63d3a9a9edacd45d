package perfbench

import org.apache.spark.sql.Row

/** A driver-side, plain-Scala statement of the reference's `/search`
  * rules, used to check the engine's answers outside the timed window. */
object Oracle {

  final case class Hit(id: String, score: Double, origin: String, rank: Int)

  /** Corpus as the oracle sees it: vectors and modalities by id, and the
    * undirected edge table as adjacency lists. */
  final class Corpus(val docs: Array[Gen.Doc], edges: Iterable[Gen.Edge]) {
    val byId: Map[String, Gen.Doc] = docs.iterator.map(d => d.id -> d).toMap
    val adjacency: Map[String, Seq[(String, Double)]] = edges.toSeq
      .flatMap(e => Seq(e.src -> (e.dst, e.score), e.dst -> (e.src, e.score)))
      .groupMap(_._1)(_._2)
  }

  private val bySimThenId: Ordering[(Gen.Doc, Double)] =
    Ordering.by[(Gen.Doc, Double), (Double, String, String)](x => (-x._2, x._1.id, x._1.mtype))

  /** Seeds of the brute arm: over-fetch `k * overFetch` by similarity, keep
    * at most k/2 per modality bucket (same as the query, or cross),
    * truncate to k taking same-modality rows first, rank by similarity.
    * With `balanced = false`, the plain exact top-k the ANN arms
    * approximate. */
  def seeds(c: Corpus, q: Gen.Query, k: Int, overFetch: Int, balanced: Boolean): Seq[(Gen.Doc, Double)] = {
    val scored = c.docs.iterator.map(d => (d, Gen.dot(q.qvec, d.emb)))
    if (!balanced) return scored.toSeq.sorted(bySimThenId).take(k)
    val over = scored.toSeq.sorted(bySimThenId).take(k * overFetch)
    val (same, cross) = over.partition(_._1.mtype == q.qtype)
    (same.take(k / 2) ++ cross.take(k / 2)).take(k).sorted(bySimThenId)
  }

  /** Depth-1 expansion of the top seed: its neighbours score
    * seed × edge × decay, a seed keeps its own score on an id collision,
    * and the top k by score (id breaking ties) are returned. */
  def expand(c: Corpus, seeds: Seq[(Gen.Doc, Double)], k: Int, decay: Double): Seq[Hit] = {
    val seedHits = seeds.map { case (d, s) => d.id -> (s, "seed") }.toMap
    val expanded = seeds.headOption.toSeq.flatMap { case (h, hs) =>
      c.adjacency.getOrElse(h.id, Nil).map { case (v, w) => v -> (hs * w * decay, "expanded") }
    }.groupMapReduce(_._1)(_._2)((a, b) => if (a._1 >= b._1) a else b)
    (expanded ++ seedHits).toSeq
      .sortBy { case (id, (s, _)) => (-s, id) }
      .take(k).zipWithIndex
      .map { case ((id, (s, o)), i) => Hit(id, s, o, i + 1) }
  }

  def search(c: Corpus, q: Gen.Query, k: Int, overFetch: Int, decay: Double,
      balanced: Boolean): Seq[Hit] =
    expand(c, seeds(c, q, k, overFetch, balanced), k, decay)

  /** The engine's search output rows by query, in rank order. */
  def hitsByQuery(rows: Array[Row]): Map[String, Seq[Hit]] =
    rows.toSeq.groupMap(_.getAs[String]("qid"))(r =>
        Hit(r.getAs[String]("id"), r.getAs[Double]("score"), r.getAs[String]("origin"),
          r.getAs[Int]("rnk")))
      .view.mapValues(_.sortBy(_.rank)).toMap

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12

  /** Exact check of the brute arm: same ids, origins, ranks and scores as
    * the oracle for every query; also the stored mtype and data came back.
    * Returns the failures. */
  def checkExact(c: Corpus, qs: Seq[Gen.Query], rows: Array[Row], k: Int, overFetch: Int,
      decay: Double): Seq[String] = {
    val got = hitsByQuery(rows)
    val payload = rows.flatMap { r =>
      val d = c.byId.get(r.getAs[String]("id"))
      if (d.exists(d => d.mtype == r.getAs[String]("mtype") && d.data == r.getAs[String]("data"))) None
      else Some(s"hit ${r.getAs[String]("id")} carries the wrong mtype or data")
    }
    payload.take(3).toSeq ++ qs.flatMap { q =>
      val want = search(c, q, k, overFetch, decay, balanced = true)
      val have = got.getOrElse(q.qid, Nil)
      val same = want.size == have.size && want.zip(have).forall { case (w, h) =>
        w.id == h.id && w.origin == h.origin && w.rank == h.rank && close(w.score, h.score)
      }
      if (same) None else Some(s"query ${q.qid}: expected ${want.take(3)}..., got ${have.take(3)}...")
    }
  }

  /** Check of an approximate arm: every seed's score is the exact dot
    * product, every expanded hit scores top seed × edge × decay, ranks are
    * by score. Returns (failures, hits shared with the exact answer,
    * size of the exact answer). */
  def checkApprox(c: Corpus, qs: Seq[Gen.Query], rows: Array[Row], k: Int, decay: Double)
      : (Seq[String], Int, Int) = {
    val got = hitsByQuery(rows)
    var shared, total = 0
    val failures = qs.flatMap { q =>
      val have = got.getOrElse(q.qid, Nil)
      val want = search(c, q, k, 1, decay, balanced = false)
      shared += have.map(_.id).toSet.intersect(want.map(_.id).toSet).size
      total += want.size
      val head = have.find(_.origin == "seed").filter(_.rank == 1)
      val wrong = have.filter { h =>
        c.byId.get(h.id) match {
          case None => true
          case Some(d) if h.origin == "seed" => !close(h.score, Gen.dot(q.qvec, d.emb))
          case Some(_) => !head.exists { hd =>
            c.adjacency.getOrElse(hd.id, Nil).exists { case (v, w) =>
              v == h.id && close(h.score, hd.score * w * decay) }
          }
        }
      }
      val ordered = have.map(_.score).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))
      if (have.isEmpty) Some(s"query ${q.qid}: no hits")
      else if (wrong.nonEmpty) Some(s"query ${q.qid}: wrong scores for ${wrong.take(3)}")
      else if (!ordered) Some(s"query ${q.qid}: hits not ranked by score")
      else None
    }
    (failures, shared, total)
  }
}
