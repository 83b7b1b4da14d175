package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named `<layer>.<metric>`.
  *
  * Span-based layers report each counter as a mean per call (per span)
  * over the traced window; a layer with no call in the workload reports
  * zeros. Ratios are taken over the window's totals. `plans` comes from
  * the planning tracker of every query the window ran; `spark_runtime`
  * is the whole window.
  */
object Layers {
  val Common: Seq[String] = Seq("wall_s", "jobs", "tasks", "executor_busy_s", "driver_idle_s", "plan_s",
    "shuffle_write_bytes", "spill_bytes", "gc_s", "records_read", "rows_out")

  /** Layer → common metrics it can have (shuffle-free layers drop the
    * shuffle and spill counters).
    */
  val SpanLayers: Seq[(String, Seq[String])] = Seq(
    "csv_ingest" -> Common.filterNot(Set("shuffle_write_bytes", "spill_bytes")),
    "transform" -> Common.filterNot(Set("shuffle_write_bytes", "spill_bytes")),
    "parquet_sink" -> Common.filterNot(Set("shuffle_write_bytes")),
    "star_build" -> Common,
    "validate" -> Common,
    "star_append" -> Common,
    "views" -> Common,
    "analytics" -> Common)

  val Units: Map[String, String] = Map(
    "wall_s" -> "s", "executor_busy_s" -> "s", "driver_idle_s" -> "s", "plan_s" -> "s", "gc_s" -> "s",
    "rule_s" -> "s", "jobs" -> "count", "tasks" -> "count", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "records_read" -> "count", "rows_out" -> "count",
    "encodings_tried" -> "count", "bytes_read" -> "bytes", "rows_kept_ratio" -> "ratio",
    "bytes_written" -> "bytes", "files_written" -> "count", "grain_ratio" -> "ratio",
    "dim_rows" -> "count", "violations" -> "count", "fresh_fact_ratio" -> "ratio",
    "fresh_dim_rows" -> "count", "records_read_per_row_returned" -> "ratio",
    "effective_ratio" -> "ratio", "peak_execution_memory_bytes" -> "bytes")

  def report(c: Collector, t0: Long, t1: Long, gcS: Double): Map[String, (Double, String)] = {
    val spans = Trace.spans.asScala.toSeq.filter(s => s.startMs >= t0 && s.endMs <= t1)
    val at = new Attribution(spans, c)
    def st(s: Span) = at.stats(s.id)
    val byName = spans.groupBy(_.name).withDefaultValue(Nil)
    def sum(xs: Seq[Span])(f: Span => Double): Double = xs.map(f).sum
    def attr(k: String)(s: Span): Double = s.attrs.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

    // sink self time: the fused transform-and-sink span minus the
    // transform-only pass of the same load
    val transformWall = byName("transform").groupBy(_.run).map { case (r, xs) => r -> sum(xs)(_.wallS) }
    def self(s: Span): Double =
      if (s.name == "parquet_sink") math.max(0.0, s.wallS - transformWall.getOrElse(s.run, 0.0))
      else at.selfS(s)
    def rowsOut(s: Span): Double = s.name match {
      case "csv_ingest" => attr("raw_rows")(s)
      case "parquet_sink" => st(s).recordsWritten.toDouble
      case "star_build" => attr("fact_rows")(s)
      case "star_append" => attr("fresh_fact_rows")(s)
      case _ => attr("rows_out")(s)
    }
    def common(s: Span, m: String): Double = m match {
      case "wall_s" => self(s)
      case "jobs" => st(s).jobs
      case "tasks" => st(s).tasks
      case "executor_busy_s" => st(s).busyS
      case "driver_idle_s" => at.idleS(s)
      case "plan_s" => st(s).planS
      case "shuffle_write_bytes" => st(s).shuffleWrite
      case "spill_bytes" => st(s).spill
      case "gc_s" => (s.gcEndMs - s.gcStartMs) / 1e3
      case "records_read" => st(s).recordsRead
      case "rows_out" => rowsOut(s)
    }
    val out = Map.newBuilder[String, (Double, String)]
    def put(layer: String, m: String, v: Double): Unit = out += s"$layer.$m" -> (v, Units(m))
    def mean(xs: Seq[Span])(f: Span => Double): Double = if (xs.isEmpty) 0.0 else sum(xs)(f) / xs.size

    SpanLayers.foreach { case (layer, ms) =>
      val xs = byName(layer)
      ms.foreach(m => put(layer, m, mean(xs)(common(_, m))))
    }
    val ing = byName("csv_ingest")
    put("csv_ingest", "encodings_tried", mean(ing)(attr("encodings_tried")))
    put("csv_ingest", "bytes_read", mean(ing)(attr("bytes_read")))
    val tr = byName("transform")
    put("transform", "rows_kept_ratio", ratio(sum(tr)(rowsOut), sum(tr)(attr("raw_rows"))))
    put("parquet_sink", "bytes_written", mean(byName("parquet_sink"))(attr("bytes_written")))
    put("parquet_sink", "files_written", mean(byName("parquet_sink"))(attr("files_written")))
    val builds = byName("star_build")
    put("star_build", "grain_ratio", ratio(sum(builds)(attr("fact_rows")), sum(byName("parquet_sink"))(rowsOut)))
    put("star_build", "dim_rows", mean(builds)(attr("dim_rows")))
    put("validate", "violations", mean(byName("validate"))(attr("violations")))
    val apps = byName("star_append")
    put("star_append", "fresh_fact_ratio", ratio(sum(apps)(attr("fresh_fact_rows")), sum(apps)(attr("batch_grain_rows"))))
    put("star_append", "fresh_dim_rows", mean(apps)(attr("fresh_dim_rows")))
    val an = byName("analytics")
    put("analytics", "records_read_per_row_returned", ratio(sum(an)(st(_).recordsRead.toDouble), sum(an)(attr("rows_out"))))

    // plans: the graft.plans optimizer rules, per planned query
    val all = at.stats.values.toSeq
    val qes = all.map(_.qes).sum.toDouble
    put("plans", "plan_s", ratio(all.map(_.planS).sum, qes))
    put("plans", "rule_s", ratio(all.map(_.ruleS).sum, qes))
    put("plans", "effective_ratio", ratio(all.map(_.ruleEff).sum.toDouble, all.map(_.ruleInv).sum.toDouble))

    // whole-window engine totals
    val stages = c.stages.values.asScala.toSeq.filter(s => s.submitMs >= t0 && s.doneMs <= t1 && s.doneMs > 0)
    val wall = (t1 - t0) / 1e3
    put("spark_runtime", "wall_s", wall)
    put("spark_runtime", "jobs", c.jobs.asScala.count(j => j.timeMs >= t0 && j.timeMs <= t1))
    put("spark_runtime", "tasks", stages.map(_.tasks).sum)
    put("spark_runtime", "executor_busy_s", stages.map(_.runMs).sum / 1e3)
    put("spark_runtime", "driver_idle_s", math.max(0.0, wall - at.covered(stages.map(s => (s.submitMs, s.doneMs)), t0, t1)))
    put("spark_runtime", "shuffle_write_bytes", stages.map(_.shuffleWrite).sum)
    put("spark_runtime", "spill_bytes", stages.map(_.spill).sum)
    put("spark_runtime", "records_read", stages.map(_.recordsRead).sum)
    put("spark_runtime", "gc_s", gcS)
    put("spark_runtime", "peak_execution_memory_bytes", if (stages.isEmpty) 0.0 else stages.map(_.peakMem).max)
    out.result()
  }

  /** All spans of the run, one JSON object a line. */
  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try Trace.spans.asScala.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      w.println(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": ${s.run}, """ +
        s""""thread": ${s.thread}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "attrs": {$attrs}}""")
    } finally w.close()
  }
}
