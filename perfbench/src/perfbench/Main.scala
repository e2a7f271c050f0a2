package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

/** Benchmark entry point, launched by `perfbench/run.py` with the inputs
  * `perfbench/gen.py` wrote into `--work`. Prints one JSON line: the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  */
object Main {
  val layers: Seq[String] = Seq("extract", "fhir", "graph", "search", "rag", "eval", "dedup")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile that leaves at least 10 samples above
    * it, and its value (nearest rank).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val p = (1 to 99).reverse.find(p => s.size - math.ceil(p / 100.0 * s.size) >= 10).getOrElse(50)
    (p.toDouble, s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.core.GraftSession.local(cores.toString)
    val sessionS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1e3
    val listener = new LayerListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, trace)
    TimedEmbedder.tracer = tracer
    TimedEmbedder.clientThread = Thread.currentThread()
    val c = new Ctx(spark, tracer, new ObjectMapper().readTree(new File(s"$work/expected.json")), work)
    val w = Workload(a("workload"), c)

    // set-up: the repeatable part three times (median), then two warm-up
    // steps (the first step after set-up still runs ~30% slow: JIT)
    val prep = (1 to 3).map(_ => c.timed(w.prepare())._2)
    val warm = c.timed { w.step(); w.step() }._2
    val setupS = sessionS + a("gen-seconds").toDouble + median(prep) + warm
    c.attempted = 0; c.failed = 0; c.rates.clear(); c.latMs.clear()
    c.failures.clear()

    tracer.inSetup = false
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || c.attempted == 0) w.step()
    val wallS = (System.nanoTime() - t0) / 1e9
    val rss = Resources.peakRssMb()
    tracer.inSetup = true
    w.verify()
    // stop() delivers every queued listener event before it returns
    spark.stop()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = setupS -> "s"
      metrics("throughput_per_s") = median(c.rates.toSeq) -> "1/s"
      metrics("op_p50_ms") = c.latMs.values.map(v => median(v.toSeq)).sum / c.latMs.size -> "ms"
      metrics("peak_rss_mb") = rss -> "MB"
    } else {
      layerMetrics(c, listener, cores, wallS).foreach { case (k, v) => metrics(k) = v }
    }
    c.failures.foreach { case (f, n) => System.err.println(s"[perfbench] FAILED $n x $f") }
    System.err.println(f"[perfbench] session $sessionS%.2fs prepare ${prep.map(p => f"$p%.2f").mkString("/")}s " +
      f"warm-up $warm%.2fs loop $wallS%.2fs, ${c.attempted} ops, latencies ms " +
      c.latMs.map { case (k, v) => s"$k " + v.map(x => f"$x%.0f").mkString(" ") }.mkString(", "))

    val m = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${c.failed == 0}, "attempted": ${c.attempted}, """ +
      s""""failed": ${c.failed}, "metrics": {$m}}""")
  }

  /** Per-layer metrics of the timed loop: span self times, Spark counters
    * by job group, layer-specific timings (median per call, set-up spans
    * included) and the benchmark's own share of the wall time.
    */
  def layerMetrics(c: Ctx, l: LayerListener, cores: Int, wallS: Double)
      : Seq[(String, (Double, String))] = {
    val t = c.tracer
    val loop = t.spans.filter(s => !s.setup && s.end >= 0)
    val selfS = loop.groupBy(_.layer).view.mapValues(_.map(_.self).sum / 1e9).toMap
    def aggs(layer: String) = l.groups.collect {
      case (g, a) if !g.endsWith("@setup") && g.takeWhile(_ != '.') == layer => a
    }
    val generic = layers.flatMap { layer =>
      val as = aggs(layer).toSeq
      val taskS = as.map(_.runMs).sum / 1e3
      val self = selfS.getOrElse(layer, 0.0)
      val skews = as.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
        ts.max / math.max(median(ts.map(_.toDouble).toSeq), 1.0)
      }
      Seq(
        s"$layer.self_s" -> (self -> "s"),
        s"$layer.jobs" -> (as.map(_.jobs).sum.toDouble -> "count"),
        s"$layer.tasks" -> (as.map(_.tasks).sum.toDouble -> "count"),
        s"$layer.task_s" -> (taskS -> "s"),
        s"$layer.core_idle_frac" ->
          ((if (self > 0) math.max(0.0, 1 - taskS / (self * cores)) else 0.0) -> "ratio"),
        s"$layer.shuffle_write_mb" -> (as.map(_.shuffleWrite).sum / 1e6 -> "MB"),
        s"$layer.spill_mb" -> (as.map(_.spill).sum / 1e6 -> "MB"),
        s"$layer.task_skew" -> ((if (skews.isEmpty) 0.0 else skews.max) -> "ratio"),
        s"$layer.gc_s" -> (as.map(_.gcMs).sum / 1e3 -> "s"))
    }
    def med(name: String, scale: Double) = {
      val xs = t.closed(name).map(_.dur / scale)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val builds = loop.count(_.name == "graph.build")
    val eagerJobs = l.groups.get("graph.build").map(_.jobs).getOrElse(0)
    val embedS = {
      val n = t.closed("search.index_build").size
      if (n == 0) 0.0 else c.embedNanos.value / 1e9 / n
    }
    val samples = c.latMs.values.flatten.toSeq
    val (tailPct, tailMs) =
      if (samples.size >= 11) tail(samples) else (0.0, 0.0)
    val benchS = selfS.getOrElse("bench", 0.0)
    val layerS = layers.map(selfS.getOrElse(_, 0.0)).sum
    val specific = Seq(
      "extract.run_s" -> (med("extract.run", 1e9) -> "s"),
      "fhir.build_write_s" -> (med("fhir.build_write", 1e9) -> "s"),
      "fhir.read_graph_s" -> (med("fhir.read_graph", 1e9) -> "s"),
      "search.index_build_s" -> (med("search.index_build", 1e9) -> "s"),
      "search.embed_s" -> (embedS -> "s"),
      "rag.corpus_arm_s" -> {
        val xs = t.closed("rag.answer_many").map(_.self / 1e9)
        (if (xs.isEmpty) 0.0 else median(xs)) -> "s"
      },
      "rag.graph_arm_ms" -> (med("rag.graph_arm", 1e6) -> "ms"),
      "graph.build_ms" -> (med("graph.build", 1e6) -> "ms"),
      "graph.eager_jobs" -> ((if (builds == 0) 0.0 else eagerJobs.toDouble / builds) -> "count"),
      "graph.plan_ms" -> (med("graph.plan", 1e6) -> "ms"),
      "graph.exec_ms" -> (med("graph.exec", 1e6) -> "ms"),
      "eval.field_accuracy_s" -> (med("eval.field_accuracy", 1e9) -> "s"),
      "dedup.clean_corpus_s" -> (med("dedup.clean_corpus", 1e9) -> "s"),
      "dedup.leaked_rdds" -> (c.leakedRdds.toDouble -> "count"),
      "bench.op_samples" -> (samples.size.toDouble -> "count"),
      "bench.op_tail_pct" -> (tailPct -> "pct"),
      "bench.op_tail_ms" -> (tailMs -> "ms"),
      "bench.wall_s" -> (wallS -> "s"),
      "bench.self_s" -> (benchS -> "s"),
      "bench.unaccounted_frac" -> ((1 - (layerS + benchS) / wallS) -> "ratio"),
      "bench.items_per_s" -> (median(c.rates.toSeq) -> "1/s"),
      "bench.fail_frac" -> (c.failed.toDouble / c.attempted -> "ratio"))
    generic ++ specific
  }
}
