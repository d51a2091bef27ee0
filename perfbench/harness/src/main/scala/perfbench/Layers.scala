package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run: Spark counters per operation,
  * averaged per op class and over all operations, plus the time and
  * self time of every span name. */
object Layers {
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of [a, b) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def compute(t: SparkTrace, rec: Recorder, cores: Int): Map[String, Any] = {
    // Catalyst phases, attributed by time to the enclosing operation
    val byMs = rec.ops.map(o => (o.startNs / 1000000L, o.endNs / 1000000L + 1, o.id))
    val qe = mutable.Map.empty[Int, mutable.Map[String, Double]]
    t.executions.foreach { case (start, phases) =>
      val op = byMs.find(o => start >= o._1 && start < o._2).map(_._3).getOrElse(0)
      val m = qe.getOrElseUpdate(op, mutable.Map.empty)
      m("plan.qe_count") = m.getOrElse("plan.qe_count", 0.0) + 1
      phases.foreach { case (k, v) => m(s"plan.${k}_s") = m.getOrElse(s"plan.${k}_s", 0.0) + v }
    }
    val perOp: Seq[(OpSample, Map[String, Double])] = rec.ops.toSeq.map { o =>
      val spark = t.perOp.get(o.id).map(_.toMap).getOrElse(Map.empty)
      val plan = qe.get(o.id).map(_.toMap).getOrElse(Map.empty)
      val lo = o.startNs / 1000000L
      val hi = o.endNs / 1000000L
      val jobs = t.jobIntervals.get(o.id).map(_.toSeq).getOrElse(Nil)
        .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      val wall = o.seconds
      val idle = math.max(0.0, wall - covered(jobs) / 1e3)
      val run = spark.getOrElse("exec.run_s", 0.0)
      o -> (spark ++ plan ++ Map("driver.idle_s" -> idle,
        "exec.busy_share" -> (if (wall > 0) run / (wall * cores) else 0.0)))
    }
    def aggregate(rows: Seq[Map[String, Double]]): Map[String, Double] = {
      val keys = rows.flatMap(_.keys).distinct
      keys.map(k => k -> mean(rows.map(_.getOrElse(k, 0.0)))).toMap
    }
    val perClass = perOp.groupBy(_._1.cls).map { case (c, xs) => c -> aggregate(xs.map(_._2)) }

    // span durations and self times (children run sequentially on the
    // client thread, so their durations add up)
    val childTime = rec.spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    val spans = rec.spans.groupBy(_.name).map { case (n, ss) =>
      val dur = ss.map(s => (s.endNs - s.startNs) / 1e9).toSeq
      val self = ss.map(s => (s.endNs - s.startNs - childTime.getOrElse(s.id, 0L)) / 1e9).toSeq
      n -> Map("n" -> ss.size, "median_s" -> median(dur), "mean_s" -> mean(dur),
        "self_mean_s" -> mean(self))
    }
    Map(
      "all" -> aggregate(perOp.map(_._2)),
      "per_class" -> perClass,
      "spans" -> spans)
  }
}
