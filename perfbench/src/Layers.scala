package perfbench

import scala.collection.mutable

/** Raw per-layer totals of a traced run; the Python driver turns them into
  * the per-layer metrics. Self time of a span is its duration minus the
  * part of it that its child spans cover.
  */
object Layers {
  def report(tr: Tracer, p: Probe, out: mutable.Map[String, Any]): Map[String, Any] = {
    // set-up and warm-up spans carry no op id; only measured ops count
    val spans = tr.all.filter(_.op >= 0)
    val byParent = spans.groupBy(_.parent)
    val ms = 1e6
    val total = mutable.Map[String, Double]().withDefaultValue(0.0)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    spans.foreach { s =>
      val d = s.endNs - s.startNs
      val kids = byParent.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).filter(x => x._2 > x._1)
      total(s.name) += d / ms
      self(s.name) += (d - Probe.covered(kids)) / ms
    }
    // driver-only time: op wall time during which none of its jobs ran
    val jobsByOp = p.jobIntervals.toArray(Array.empty[(Long, Long, Long)]).toSeq.groupBy(_._1)
    val driverMs = spans.filter(_.name == "op").map { o =>
      val iv = jobsByOp.getOrElse(o.op, Nil).map(j =>
        (math.max(j._2, o.startNs), math.min(j._3, o.endNs))).filter(x => x._2 > x._1)
      (o.endNs - o.startNs - Probe.covered(iv)) / ms
    }.sum
    val ingestIds = spans.filter(_.name == "ingest").map(_.id).toSet
    val ingestJobs = spans.count(s => s.name == "job" && ingestIds(s.parent))
    Map("counters" -> p.c.snapshot, "fs" -> CountingLocalFs.counters.snapshot,
      "span_ms" -> total.toMap, "self_ms" -> self.toMap, "driver_ms" -> driverMs,
      "ingest_jobs" -> ingestJobs, "n_spans" -> spans.size,
      "gc_ms" -> out.getOrElse("gc_ms", 0L), "heap_peak_mb" -> out.getOrElse("heap_peak_mb", 0.0),
      "spans" -> spans.sortBy(_.startNs).map(s => Seq(s.id, s.parent, s.name, s.op,
        (s.startNs - spans.head.startNs) / ms, (s.endNs - s.startNs) / ms)))
  }
}
