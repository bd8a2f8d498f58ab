package perfbench

import java.io.PrintStream

import perfbench.Main.OpRecord

/** Turns op records and spans into the benchmark's metrics. */
object Report {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as `statistics.quantiles(method="inclusive")`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile with at least ten samples beyond it — the
    * median when there are fewer than twenty samples.
    */
  def tail(xs: Seq[Double]): Double =
    quantile(xs, math.max(0.5, math.floor(100.0 * (1 - 10.0 / math.max(xs.size, 1))) / 100))

  def endToEnd(ops: Seq[OpRecord], setupS: Double): Seq[(String, Double, String)] = {
    val opS = median(ops.map(_.outcome.seconds))
    Seq(
      ("op_s", opS, "s"),
      ("items_per_s", median(ops.map(o => o.outcome.items / o.outcome.seconds)), "1/s"),
      ("quality", median(ops.map(_.outcome.quality)), "ratio"),
      ("setup_s", setupS, "s"))
  }

  /** Spans that submit Spark jobs, with the counters kept for each. */
  val CounterSpans: Seq[String] = Seq("etl.merge", "graph.split", "graph.walk", "ml.bundle_write",
    "fed.run", "ml.emit", "etl.concat", "llm.dedup", "llm.lsh", "llm.decon", "llm.bm25_index",
    "llm.bm25_topk")

  def perLayer(ops: Seq[OpRecord], spans: Seq[Span], counters: SpanCounters,
               cores: Int): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val byOp = spans.groupBy(_.op)
    val out = Seq.newBuilder[(String, Double, String)]
    // a layer the workload does not exercise reads 0
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    /** Median over traced ops of a per-op value. */
    def perOp(name: String, unit: String)(f: Seq[Span] => Double): Unit =
      out += ((name, med(traced.map(o => f(byOp.getOrElse(o.id, Nil)))), unit))
    def secs(ss: Seq[Span], name: String) = ss.filter(_.name == name).map(_.seconds).sum
    def attr(ss: Seq[Span], name: String, key: String) =
      ss.filter(_.name == name).flatMap(_.attrs.get(key)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    for ((name, key, unit) <- Seq(("etl.merge", "rows", "count"), ("etl.concat", "rows", "count"),
                                  ("graph.split", "examples", "count"), ("graph.walk", "pairs", "count"))) {
      perOp(s"${name}_s", "s")(secs(_, name))
      perOp(s"${name}_$key", unit)(attr(_, name, key))
    }
    for (name <- Seq("ml.bundle_write", "ml.bundle_load", "ml.fit", "ml.evaluate", "ml.embed",
                     "sources.emb_write", "llm.dedup", "llm.decon", "llm.bm25_index", "llm.bm25_topk"))
      perOp(s"${name}_s", "s")(secs(_, name))
    perOp("ml.fit_examples_per_s", "1/s")(ss => ratio(attr(ss, "ml.fit", "examples"), secs(ss, "ml.fit")))
    perOp("ml.fit_share", "ratio") { ss =>
      val fit = secs(ss, "ml.fit")
      ratio(fit, fit + secs(ss, "ml.evaluate") + secs(ss, "ml.bundle_load"))
    }
    perOp("ml.embed_nodes_per_s", "1/s")(ss => ratio(attr(ss, "ml.embed", "nodes"), secs(ss, "ml.embed")))
    perOp("sources.emb_write_mb", "MB")(attr(_, "sources.emb_write", "mb"))
    perOp("llm.dedup_kept", "count")(attr(_, "llm.dedup", "kept"))
    perOp("llm.decon_cuts", "count")(attr(_, "llm.decon", "cuts"))
    perOp("llm.lsh_candidates", "count")(attr(_, "llm.lsh", "candidates"))
    perOp("llm.lsh_pairs", "count")(attr(_, "llm.lsh", "pairs"))
    perOp("llm.lsh_precision", "ratio")(ss => ratio(attr(ss, "llm.lsh", "pairs"), attr(ss, "llm.lsh", "candidates")))

    // federation: client spans carry their round; round r runs from its
    // first client call to the first client call of round r + 1 (the
    // final evaluation follows the last round)
    val rounds = traced.flatMap { o =>
      val ss = byOp.getOrElse(o.id, Nil)
      val runs = ss.filter(_.name == "fed.run").map(_.id).toSet
      val client = ss.filter(s => runs(s.parent) && s.attrs.contains("round") && s.name != "ml.bundle_load")
      val byRound = client.groupBy(_.attrs("round").toInt)
      byRound.keys.toSeq.sorted.filter(r => byRound.contains(r + 1)).map { r =>
        val wall = (byRound(r + 1).map(_.startNs).min - byRound(r).map(_.startNs).min) / 1e9
        val busy = byRound(r).groupBy(_.tag).values.map(_.map(_.seconds).sum).toSeq
        val slowest = busy.max
        (wall, wall - slowest, busy.map(slowest - _).sum / (busy.size * wall))
      }
    }
    out += (("fed.round_s", med(rounds.map(_._1)), "s"))
    out += (("fed.round_tail_s", if (rounds.isEmpty) 0.0 else tail(rounds.map(_._1)), "s"))
    out += (("fed.overhead_s", med(rounds.map(_._2)), "s"))
    out += (("fed.idle_frac", med(rounds.map(_._3)), "ratio"))
    perOp("fed.model_mb", "MB")(ss => ss.filter(_.name == "fed.set_weights").flatMap(_.attrs.get("mb")).maxOption.getOrElse(0.0))
    perOp("fed.exchanged_mb", "MB") { ss =>
      val up = ss.filter(_.name == "fed.run").map(s => counters.of(s.id).resultBytes.get / 1e6).sum
      up + attr(ss, "fed.set_weights", "mb")
    }
    perOp("fed.rebuilds", "count") { ss =>
      val runs = ss.filter(_.name == "fed.run").map(_.id).toSet
      val loads = ss.filter(s => s.name == "ml.bundle_load" && runs(s.parent))
      (loads.size - loads.map(_.tag).distinct.size).toDouble
    }

    for (name <- CounterSpans) {
      def sum(f: SpanCounters#Counts => Long, scale: Double)(ss: Seq[Span]): Double =
        ss.filter(_.name == name).map(s => f(counters.of(s.id)).toDouble).sum / scale
      perOp(s"$name.jobs", "count")(sum(_.jobs.get, 1))
      perOp(s"$name.task_s", "s")(sum(_.taskNs.get, 1e9))
      perOp(s"$name.shuffle_mb", "MB")(sum(_.shuffleBytes.get, 1e6))
      perOp(s"$name.spill_mb", "MB")(sum(_.spillBytes.get, 1e6))
      perOp(s"$name.gc_s", "s")(sum(_.gcMs.get, 1e3))
      perOp(s"$name.task_failures", "count")(sum(_.failures.get, 1))
    }
    perOp("spark.core_idle_frac", "ratio") { ss =>
      val wall = ss.filter(_.name == "op").map(_.seconds).sum
      1 - ratio(ss.map(s => counters.of(s.id).taskNs.get / 1e9).sum, wall * cores)
    }
    out += (("trace.op_s", median(traced.map(_.outcome.seconds)), "s"))
    out += (("trace.overhead_s",
      median(traced.map(_.outcome.seconds)) - median(ops.filterNot(_.traced).map(_.outcome.seconds)), "s"))
    out.result()
  }

  /** Per span name: calls, total and self seconds per traced op. Self
    * time is a span's duration minus the part its children cover.
    */
  def printSelfTimes(out: PrintStream, spans: Seq[Span], tracedOps: Int): Unit = {
    val children = spans.groupBy(_.parent)
    def self(s: Span): Long = {
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._1 < iv._2).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      kids.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      (s.endNs - s.startNs) - covered
    }
    val n = math.max(tracedOps, 1)
    out.println(f"${"span"}%-20s ${"calls/op"}%9s ${"total_s/op"}%11s ${"self_s/op"}%10s  parent")
    val parentName = spans.map(s => s.id -> s.name).toMap
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.seconds).sum).foreach { case (name, ss) =>
      val parents = ss.map(s => parentName.getOrElse(s.parent, "-")).distinct.mkString(",")
      out.println(f"$name%-20s ${ss.size.toDouble / n}%9.1f ${ss.map(_.seconds).sum / n}%11.4f " +
        f"${ss.map(self).sum / 1e9 / n}%10.4f  $parents")
    }
  }

  /** One JSON object per span, one a line. */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
      w.println(s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""tag": ${str(s.tag)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "attrs": {$attrs}}""")
    } finally w.close()
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
}
