package perfbench

import scala.util.Random

/** Seeded synthetic inputs. The same seed always gives the same inputs; the
  * engine only ever sees the frames and directories built from them. */
object Gen {

  final case class Doc(id: String, mtype: String, data: String, emb: Array[Float])
  final case class Edge(src: String, dst: String, score: Double, seq: Long)
  final case class Query(qid: String, qtype: String, qvec: Array[Float])
  final case class Payload(mtype: String, data: String, seq: Long)

  /** A text to admit and the label it was planted with: `fresh`,
    * `dup_existing` (a near copy of indexed text `source`) or `dup_batch`
    * (a near copy of batch text `source`). */
  final case class Text(id: String, text: String, label: String, source: String)

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The store identity of a payload: "doc:" + sha256(content). */
  def docId(data: String): String = "doc:" + sha256Hex(data)

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def gaussian(rng: Random, dim: Int): Array[Double] =
    Array.fill(dim)(rng.nextGaussian())

  /** Cluster centres plus a noise scale that puts a member at cosine ~0.7
    * to its centre at any dimension. */
  final class Clusters(rng: Random, n: Int, dim: Int) {
    private val centres = Array.fill(n)(gaussian(rng, dim).map(_ / math.sqrt(dim)))
    private val sigma = 1.0 / math.sqrt(dim)
    def member(r: Random): Array[Float] = {
      val c = centres(r.nextInt(n))
      normalize(c.map(_ + sigma * r.nextGaussian()))
    }
  }

  /** `n` L2-normalised docs drawn from `clusters` clusters; a third are
    * images. Returns the docs and the generator for queries near them. */
  def corpus(seed: Long, n: Int, dim: Int, clusters: Int): (Array[Doc], Clusters) = {
    val rng = new Random(seed)
    val cl = new Clusters(rng, clusters, dim)
    val docs = Array.tabulate(n) { i =>
      val data = s"corpus-$seed-$i"
      Doc(docId(data), if (rng.nextInt(3) == 0) "image" else "text", data, cl.member(rng))
    }
    (docs, cl)
  }

  /** `n` queries near the corpus clusters, half text and half image. */
  def queries(rng: Random, cl: Clusters, n: Int, tag: String): Array[Query] =
    Array.tabulate(n)(i =>
      Query(s"q:$tag:$i", if (rng.nextBoolean()) "image" else "text", cl.member(rng)))

  /** A canonical edge table over `docs`: each doc links to `degree` docs,
    * each the most similar of 8 random draws, one row per unordered pair
    * (src < dst, latest `seq`), scored like the engine scores edges (the
    * cosine, floored at `crossModal` between modalities). */
  def edges(seed: Long, docs: Array[Doc], degree: Int, crossModal: Double): Array[Edge] = {
    val rng = new Random(seed ^ 0x5deece66dL)
    val out = scala.collection.mutable.LinkedHashMap[(String, String), Edge]()
    var seq = 0L
    for (a <- docs; _ <- 0 until degree) {
      val b = Iterator.fill(8)(docs(rng.nextInt(docs.length)))
        .filter(_.id != a.id).maxByOption(d => dot(a.emb, d.emb))
      b.foreach { b =>
        val sim = dot(a.emb, b.emb)
        val score = if (a.mtype != b.mtype) math.max(sim, crossModal) else sim
        val key = if (a.id < b.id) (a.id, b.id) else (b.id, a.id)
        seq += 1
        out(key) = Edge(key._1, key._2, score, seq)
      }
    }
    out.values.toArray
  }

  /** Ingest payloads: `n` rows per batch, a `repeatShare` of which repeat a
    * payload seen before (in the seeded store or an earlier batch). */
  final class Payloads(seed: Long, seen0: IndexedSeq[Payload], repeatShare: Double) {
    private val rng = new Random(seed ^ 0x1234567L)
    private val seen = scala.collection.mutable.ArrayBuffer(seen0: _*)
    private var next = 0L
    private var seq = 1000000L
    def batch(n: Int): Array[Payload] = Array.fill(n) {
      seq += 1
      if (rng.nextDouble() < repeatShare) seen(rng.nextInt(seen.length)).copy(seq = seq)
      else {
        next += 1
        val p = Payload(if (rng.nextInt(3) == 0) "image" else "text",
          s"payload-$seed-$next", seq)
        seen += p
        p
      }
    }
  }

  // ---- admission texts ----------------------------------------------------

  private val vocabulary: Array[String] = {
    val rng = new Random(42)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Array.fill(20000)(Array.fill(4 + rng.nextInt(6))(letters(rng.nextInt(26))).mkString).distinct
  }

  private def words(rng: Random, n: Int): Array[String] =
    Array.fill(n)(vocabulary(rng.nextInt(vocabulary.length)))

  /** A near copy: one word of 100 replaced, so the word 3-shingle Jaccard to
    * the source is 95/101 (an inner word changes three of the 98 shingles)
    * or 96/100 (the second or second-to-last word changes two). */
  private def nearCopy(rng: Random, text: String): String = {
    val w = text.split(' ')
    val i = 1 + rng.nextInt(w.length - 2)
    w(i) = Iterator.continually(vocabulary(rng.nextInt(vocabulary.length)))
      .find(_ != w(i)).get
    w.mkString(" ")
  }

  val TextWords = 100

  def indexTexts(seed: Long, n: Int): Array[Text] = {
    val rng = new Random(seed ^ 0x2468L)
    Array.tabulate(n) { _ =>
      val t = words(rng, TextWords).mkString(" ")
      Text(docId(t), t, "indexed", "")
    }
  }

  /** One admission batch of `n` texts: a `dupExisting` share near-copies
    * indexed texts, a `dupBatch` share near-copies other texts of the same
    * batch, the rest is fresh. */
  def admissionBatch(rng: Random, index: Array[Text], n: Int,
      dupExisting: Double, dupBatch: Double): Array[Text] = {
    val nExisting = (n * dupExisting).toInt
    val nBatch = (n * dupBatch).toInt
    val fresh = Array.fill(n - nExisting - nBatch) {
      val t = words(rng, TextWords).mkString(" ")
      Text(docId(t), t, "fresh", "")
    }
    val ofExisting = Array.fill(nExisting) {
      val src = index(rng.nextInt(index.length))
      val t = nearCopy(rng, src.text)
      Text(docId(t), t, "dup_existing", src.id)
    }
    // sources are distinct fresh texts, so every family has one source
    val ofBatch = rng.shuffle(fresh.indices.toVector).take(nBatch).map { i =>
      val src = fresh(i)
      val t = nearCopy(rng, src.text)
      Text(docId(t), t, "dup_batch", src.id)
    }
    rng.shuffle((fresh ++ ofExisting ++ ofBatch).toVector).toArray
  }
}
