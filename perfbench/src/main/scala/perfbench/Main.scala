package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** Runs one workload for a fixed measuring time and prints one JSON line:
  * the end-to-end metrics (untraced ops), or with `--trace 1` the
  * per-layer metrics (traced ops, alternating with untraced ones).
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  * }}}
  */
object Main {

  /** Set-ups per run; setup_s reports their median. */
  private val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("cores").toInt)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val (spark, sessionMs) = timedMs {
      val s = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", a.cores.toLong)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        // a traced run counts a block as leaked unless the engine freed it,
        // whenever the garbage collector would have let Spark drop it
        .config("spark.cleaner.referenceTracking", (!a.trace).toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    val code = try run(a, spark, sessionMs) finally spark.stop()
    sys.exit(code)
  }

  private def run(a: Args, spark: SparkSession, sessionMs: Double): Int = {
    val env = new Env(spark, a.seed)
    val wl = Workloads(a.workload, env)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    var attempted, failed = 0
    val failures = ArrayBuffer[String]()
    var hits, expected = 0.0
    val traces = ArrayBuffer[OpTrace]()

    /** Runs one op; returns its latency and items when it ran and passed. */
    def attempt(i: Int, traced: Boolean): Option[(Double, Int)] = {
      attempted += 1
      val (r, ms) = timedMs(Try(tracer.filter(_ => traced) match {
        case Some(t) => t.beginOp(); val o = wl.tracedOp(i, t); traces += t.endOp(); o
        case None => wl.op(i)
      }))
      val problems = r match {
        case Success(o) =>
          Try(o.check()) match {
            case Success((f, h, e)) => hits += h; expected += e; f
            case Failure(ex) => Seq(s"check of op $i threw $ex")
          }
        case Failure(ex) => Seq(s"op $i threw $ex")
      }
      if (problems.isEmpty) r.toOption.map(o => (ms, o.items))
      else {
        failed += 1
        failures ++= problems.map(p => s"op $i: $p")
        None
      }
    }

    // set-up: generate and build every store several times, keep the last
    val setupMs = (1 to Setups).map { r =>
      val dir = s"${a.work}/setup-$r"
      val (_, ms) = timedMs(wl.setup(dir))
      if (r > 1) deleteTree(new java.io.File(s"${a.work}/setup-${r - 1}"))
      log(f"setup $r: $ms%.0f ms")
      ms
    }
    val (_, warmMs) = timedMs((1 to wl.warmupOps).foreach(w => attempt(-w, traced = false)))
    val setupS = (sessionMs + median(setupMs) + warmMs) / 1000
    log(f"session ${sessionMs}%.0f ms, warm-up $warmMs%.0f ms")

    // the measured window: a closed loop of ops until the op time spent
    // reaches --seconds; a traced run alternates untraced and traced ops
    // and needs one of each
    val lat = ArrayBuffer[Double]()
    val tracedMs = ArrayBuffer[Double]()
    var items = 0L
    var busyMs = 0.0
    var counters = Map.empty[String, Double]
    var i = 0
    while (busyMs < a.seconds * 1000 || (a.trace && (lat.isEmpty || traces.isEmpty) && i < 8)) {
      val traced = a.trace && i % 2 == 1
      val after = if (a.trace && i == 0) Some(wl.counters(i)) else None
      val (r, ms) = timedMs(attempt(i, traced))
      busyMs += ms
      r.foreach { case (opMs, n) =>
        if (traced) tracedMs += opMs else { lat += opMs; items += n }
      }
      after.foreach(f => counters = Try(f()).getOrElse {
        failures += s"counters of op $i failed"; failed += 1; Map.empty
      })
      log(f"op $i${if (traced) " (traced)" else ""}: $ms%.0f ms")
      i += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", median(lat.toSeq), "ms"),
        ("items_per_s", items / (lat.sum / 1000), "1/s"),
        ("recall", hits / expected, "ratio"))
      else Metrics.perLayer(traces.toSeq, tracedMs.toSeq, lat.toSeq, counters)

    failures.take(20).foreach(f => log(s"FAILED $f"))
    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val correct = failed == 0 && finite
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }
}
