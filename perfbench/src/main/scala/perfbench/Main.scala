package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.mef.{Normalize, Star, Transform, Validate}
import graft.mef.Star.StarSchema
import graft.sources.{CsvIngest, ParquetSink}

/** Benchmark main program. One JVM runs one workload: it times set-up,
  * measures for the requested seconds,
  * checks every answer against the reference model and writes the
  * result object to `<work>/result.json`. With `--trace 1` the same run
  * is traced from set-up on: the result holds the per-layer counters,
  * and `<work>/traced_e2e.json` the traced end-to-end figures (their
  * difference to an untraced run is the tracing overhead).
  *
  * Set-up runs once: it is a whole warehouse load, and a second one per
  * run does not fit the run budget.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl: Workload = args.workload match {
      case "analyst_queries" => new AnalystQueries(spark, args)
      case "monthly_refresh" => new MonthlyRefresh(spark, args)
      case other => sys.error(s"unknown workload $other")
    }
    // a traced run records spans from set-up on, so the load layers that
    // only run in set-up are attributed too
    val collector = new Collector
    val gc0 = Trace.gcMs()
    val t0 = System.currentTimeMillis()
    if (args.trace) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
      Trace.enabled = true
    }
    val s0 = System.nanoTime()
    wl.setup()
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9
    Out.info(f"setup: $setupS%.3f s, of which JVM and session start $sessionS%.3f s")
    wl.printInputs()
    System.gc() // start the window on a clean heap, outside every timer
    val r = wl.measure(args.seconds)
    r.report()
    val e2e = r.metrics + ("setup_s" -> (setupS, "s")) + ("peak_rss_mb" -> (Stats.peakRssMb(), "MB"))
    val result = if (!args.trace) Out.result(r.correct, r.attempted, r.failed, e2e) else {
      Trace.enabled = false
      val t1 = System.currentTimeMillis()
      val gcS = (Trace.gcMs() - gc0) / 1e3
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      // the traced run's end-to-end figures, for the overhead comparison
      Files.write(Paths.get(args.work, "traced_e2e.json"),
        (Out.result(r.correct, r.attempted, r.failed, e2e) + "\n").getBytes("UTF-8"))
      Layers.writeSpans(new File(args.work, "spans.jsonl"))
      Out.result(r.correct, r.attempted, r.failed, Layers.report(collector, t0, t1, gcS))
    }
    spark.stop()
    Files.write(Paths.get(args.work, "result.json"), (result + "\n").getBytes("UTF-8"))
  }
}

/** A load's star and what it cost. */
final case class Loaded(star: StarSchema, wallS: Double, rawRows: Long, csvBytes: Long,
    lakeBytes: Long, violations: Long, build: Span) {
  def rowsPerS: Double = rawRows / wallS
  def lakeRatio: Double = lakeBytes.toDouble / csvBytes
}

/** End-to-end outcome of one measurement window. */
final case class Measured(metrics: Map[String, (Double, String)], attempted: Long, failed: Long,
    notes: Seq[String]) {
  def correct: Boolean = failed == 0
  def report(): Unit = notes.foreach(Out.info)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  /** The highest of p50/p90/p99/p999 with at least 10 samples above it. */
  def tail(xs: Seq[Double]): String = {
    val ps = Seq(0.999, 0.99, 0.9, 0.5).filter(p => xs.size * (1 - p) >= 10)
    ps.headOption.map(p => f"p${(p * 100).toString.stripSuffix(".0")} ${quantile(xs, p)}%.4f s")
      .getOrElse("no percentile has 10 samples beyond it")
  }
  def describe(name: String, xs: Seq[Double]): String =
    f"$name: n=${xs.size} median ${median(xs)}%.4f s, ${tail(xs)}"
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

object Out {
  def info(s: String): Unit = println(s"[perfbench] $s")
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, (Double, String)]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1L)}, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Workload {
  /** The traced run's `Transform`-only pass: every row computed, with
    * all its columns, into a sink that only counts them. Returns the
    * rows kept.
    */
  def timeTransform(transformed: DataFrame): Long = {
    val kept = transformed.sparkSession.sparkContext.longAccumulator("perfbench_kept_rows")
    transformed.queryExecution.toRdd.foreachPartition((it: Iterator[_]) => kept.add(it.size.toLong))
    kept.value
  }

  /** Encodings CsvIngest tried for `raw`: it probes `CsvIngest.encodings`
    * in order and reads with the first that decodes cleanly, which the
    * scan's options name.
    */
  def encodingsTried(raw: DataFrame): Int = {
    val chosen = raw.queryExecution.analyzed.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.options.get("encoding")
    }.flatten
    CsvIngest.encodings.indexOf(chosen.getOrElse("")) + 1
  }
}

/** A workload: set-up, then a measurement window. */
abstract class Workload(val spark: SparkSession, val args: Main.Args) {
  def setup(): Unit
  def measure(seconds: Double): Measured
  def printInputs(): Unit

  val work = new File(args.work)
  work.mkdirs()
  protected val failures = mutable.ArrayBuffer.empty[String]
  /** Operations tried: loads, appends and answers, set-up included. */
  protected val attempts = new java.util.concurrent.atomic.AtomicLong(0)

  /** Raw CSV file(s) → lake → star → validated, timed end to end. */
  def load(files: Seq[CsvFile], lake: String, run: Long = 0L): Loaded = {
    attempts.incrementAndGet()
    val t0 = System.nanoTime()
    val transformed = files.map { f =>
      val raw = Trace.span(spark, "csv_ingest", run) { s =>
        val df = CsvIngest(spark, f.path)
        if (Trace.enabled) s.attrs("encodings_tried") = Workload.encodingsTried(df)
        s.attrs("bytes_read") = f.bytes.toDouble
        s.attrs("raw_rows") = f.rows.toDouble
        df
      }
      Transform(raw)
    }.reduce(_ unionByName _)
    if (Trace.enabled) Trace.span(spark, "transform", run) { s =>
      s.attrs("rows_out") = Workload.timeTransform(transformed).toDouble
      s.attrs("raw_rows") = files.map(_.rows).sum.toDouble
    }
    val sink = Trace.span(spark, "parquet_sink", run) { s =>
      ParquetSink.writeYearly(transformed, lake, overwrite = true)
      s.attrs("raw_rows") = files.map(_.rows).sum.toDouble
      s
    }
    var build: Span = null
    val star = Trace.span(spark, "star_build", run) { s =>
      build = s
      Star.build(spark, Normalize(spark.read.parquet(lake)))
    }
    val violations = Trace.span(spark, "validate", run) { s =>
      val checks = Validate.validate(spark, star).collect()
      val v = checks.map(_.getLong(2)).sum
      s.attrs("violations") = v.toDouble
      s.attrs("rows_out") = checks.length.toDouble
      v
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val parts = Files.walk(Paths.get(lake)).filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(p => Files.size(p.asInstanceOf[java.nio.file.Path]))
    sink.attrs("bytes_written") = parts.sum.toDouble
    sink.attrs("files_written") = parts.length.toDouble
    Loaded(star, wall, files.map(_.rows.toLong).sum, files.map(_.bytes).sum, parts.sum, violations, build)
  }

  /** Checks a loaded star: constraints hold, and the fact and dimension
    * row counts are the model's.
    */
  def checkLoad(l: Loaded, expected: (Long, Seq[Long]), what: String): Unit = {
    val got = counts(l.star)
    if (l.violations != 0 || got != expected)
      failures += s"$what: ${l.violations} constraint violations, fact and dim rows $got, expected $expected"
    l.build.attrs("fact_rows") = got._1.toDouble
    l.build.attrs("dim_rows") = got._2.sum.toDouble
  }

  /** Checks the star's fact and dimension row counts against the model. */
  def checkCounts(star: StarSchema, expected: (Long, Seq[Long]), what: String): (Long, Seq[Long]) = {
    val got = counts(star)
    if (got != expected) failures += s"$what: fact and dim rows $got, expected $expected"
    got
  }

  private def counts(star: StarSchema): (Long, Seq[Long]) =
    (star.fact.count(), graft.mef.MefSchema.dims.map(d => star.dims(d.name).count()))

  /** Asks `q` on `star`, timed; returns the latency. A wrong answer or an
    * exception is recorded as a failure.
    */
  def ask(star: StarSchema, q: Question, run: Long = 0L): Double = {
    attempts.incrementAndGet()
    val t0 = System.nanoTime()
    val rows = try {
      Trace.span(spark, q.layer, run) { s =>
        val r = q.ask(star).collect().toSeq.map(_.toSeq)
        s.attrs("rows_out") = r.size.toDouble
        Some(r)
      }
    } catch { case e: Exception => failures.synchronized { failures += s"${q.kind}: ${e}" }; None }
    val lat = (System.nanoTime() - t0) / 1e9
    rows.foreach(r => pending.synchronized { pending += ((q, r)) })
    lat
  }

  /** Answers awaiting their check, which runs outside the timed section. */
  protected val pending = mutable.ArrayBuffer.empty[(Question, Seq[Seq[Any]])]
  def checkPending(): Unit = {
    val xs = pending.synchronized { val c = pending.toList; pending.clear(); c }
    xs.foreach { case (q, r) => Option(Questions.check(q, r)).foreach(failures += _) }
  }

  /** The run's outcome: every failure so far (the first few printed)
    * against every operation tried.
    */
  def outcome(metrics: Map[String, (Double, String)], notes: Seq[String]): Measured = {
    val f = failures.synchronized(failures.toList)
    f.take(5).foreach(x => Out.info(s"WRONG $x"))
    Measured(metrics, attempts.get, f.size.toLong, notes)
  }
}
