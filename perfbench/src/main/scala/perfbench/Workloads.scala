package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.mef.{Normalize, Star, Transform}
import graft.mef.Star.StarSchema
import graft.sources.CsvIngest

/** Input sizes. Pools follow MEF key cardinalities: 3 levels (fixed),
  * ~2.5k executing units, ~20k programmatic keys, ~60k metas and ~1.5k
  * expense classifiers.
  */
object Sizes {
  val pools = Pools(execs = 2500, progs = 20000, funcs = 240, metas = 60000, fins = 150, clasifs = 1500)
  val analystRowsPerYear = 6000 // three years
  val minAnswers = 100 // so that p90 has 10 answers beyond it
  val refreshPriorRows = 6000 // prior year
  val refreshMonthRows = 1000 // each month of the current year
  val refreshMonths: Seq[Int] = 10 to 12 // appended each cycle; set-up loads months 1-9
}

/** A warm warehouse of three generated years, built in set-up; two
  * closed-loop clients (threads of this process, each waiting for its
  * answer) ask a seeded mix of the eight analyst questions.
  */
final class AnalystQueries(spark: SparkSession, args: Main.Args) extends Workload(spark, args) {
  val years = Seq(2021, 2022, 2023)
  val clients = 2
  var files: Seq[CsvFile] = Nil
  var model: Model = _
  var warehouse: Loaded = _
  private val all = (_: Int, _: Int) => true

  def setup(): Unit = {
    val gen = new Generator(args.seed, Sizes.pools)
    val rows = new Rows(Sizes.analystRowsPerYear * years.size)
    val dir = new File(work, "in"); dir.mkdirs()
    files = years.map { y =>
      val (from, until) = gen.draw(rows, Sizes.analystRowsPerYear, y, 1 to 12)
      // one UTF-8 file with a BOM, one Latin-1 file with a lowercase
      // header (CsvIngest's encoding fallback pays for its probe), one plain
      gen.write(rows, from, until, s"$dir/$y-Gasto-Mensual.csv", latin1 = y == years(1), bom = y == years(0),
        lowerHeader = y == years(1))
    }
    model = new Model(gen.universe, rows)
    warehouse = load(files, new File(work, "lake").getPath)
    checkLoad(warehouse, model.counts(all), "warehouse load")
    // warm-up: each question twice
    val r = new java.util.Random(args.seed)
    (Questions.Kinds ++ Questions.Kinds).foreach(k => ask(warehouse.star, Questions.draw(k, r, model, years, all)))
    checkPending()
  }

  def printInputs(): Unit =
    Out.info(s"input: ${files.size} files, ${files.map(_.rows).sum} rows, ${files.map(_.bytes).sum} bytes")

  /** Both clients ask until the deadline has passed and the run holds
    * at least [[Sizes.minAnswers]] answers. Each client asks the eight
    * kinds in rounds, in a seeded order per round, so every run holds the
    * same mix.
    */
  def measure(seconds: Double): Measured = {
    val lats = Array.fill(clients)(mutable.ArrayBuffer.empty[Double])
    val answered = new java.util.concurrent.atomic.AtomicInteger(0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val r = new java.util.Random(args.seed * 1000 + c)
        var round = Seq.empty[String]
        while (System.nanoTime() < deadline || answered.get < Sizes.minAnswers) {
          if (round.isEmpty) round = scala.util.Random.javaRandomToRandom(r).shuffle(Questions.Kinds)
          val q = Questions.draw(round.head, r, model, years, all)
          round = round.tail
          lats(c) += ask(warehouse.star, q, Trace.newRun())
          answered.incrementAndGet()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    checkPending()
    val xs = lats.flatten.toSeq
    outcome(Map(
      "load_rows_per_s" -> (warehouse.rowsPerS, "rows/s"),
      "lake_bytes_per_csv_byte" -> (warehouse.lakeRatio, "ratio"),
      "query_p50_s" -> (Stats.median(xs), "s"),
      "query_p90_s" -> (Stats.quantile(xs, 0.9), "s"),
      "queries_per_s" -> (xs.size / wall, "1/s")),
      Seq(Stats.describe("analyst answer", xs),
        f"measured ${xs.size} answers from $clients clients in $wall%.2f s",
        f"warehouse load in set-up: ${warehouse.wallS}%.3f s for ${warehouse.rawRows} rows"))
  }
}

/** Writes beside reads: set-up builds the star from the prior year and
  * months 1–9; each cycle appends months 10–12 (CsvIngest → Transform →
  * Normalize → Star.append), answers three dashboard questions after
  * each append and two rounds of the eight analyst questions after the
  * last one, then re-delivers month 12, which must change nothing. Every
  * cycle starts from the set-up star; appended stars are dropped.
  */
final class MonthlyRefresh(spark: SparkSession, args: Main.Args) extends Workload(spark, args) {
  val prior = 2022
  val year = 2023
  var base: Loaded = _
  var baseFiles: Seq[CsvFile] = Nil
  var monthFiles: Seq[(Int, CsvFile)] = Nil
  var model: Model = _
  private var countsUpTo: Map[Int, (Long, Seq[Long])] = Map.empty
  private def upTo(m: Int) = (y: Int, mm: Int) => y == prior || mm <= m

  def setup(): Unit = {
    val gen = new Generator(args.seed, Sizes.pools)
    val rows = new Rows(Sizes.refreshPriorRows + 12 * Sizes.refreshMonthRows)
    val dir = new File(work, "in/base"); dir.mkdirs()
    val (p0, p1) = gen.draw(rows, Sizes.refreshPriorRows, prior, 1 to 12)
    val first = Sizes.refreshMonths.head
    val (h0, h1) = gen.draw(rows, (first - 1) * Sizes.refreshMonthRows, year, 1 until first)
    baseFiles = Seq(
      gen.write(rows, p0, p1, s"$dir/$prior-Gasto-Mensual.csv", latin1 = false, bom = false, lowerHeader = false),
      gen.write(rows, h0, h1, s"$dir/$year-Gasto.csv", latin1 = false, bom = true, lowerHeader = false))
    monthFiles = Sizes.refreshMonths.map { m =>
      val (a, b) = gen.draw(rows, Sizes.refreshMonthRows, year, Seq(m))
      val d = new File(work, f"in/m$m%02d"); d.mkdirs()
      m -> gen.write(rows, a, b, s"$d/$year-Gasto-Mensual.csv", latin1 = m % 2 == 0, bom = false, lowerHeader = false)
    }
    model = new Model(gen.universe, rows)
    countsUpTo = (first - 1 to 12).map(m => m -> model.counts(upTo(m))).toMap
    base = load(baseFiles, new File(work, "lake").getPath)
    checkLoad(base, countsUpTo(first - 1), "base load")
    // warm-up: one append with its dashboard and the analyst round, then
    // thrown away
    val (st, _) = append(base.star, monthFiles.head._2, 0L)
    dashboard(st, monthFiles.head._1, mutable.ArrayBuffer.empty, 0L)
    analystRound(st, monthFiles.head._1, 0, mutable.ArrayBuffer.empty, 0L)
    checkPending()
  }

  def printInputs(): Unit = {
    val fs = baseFiles ++ monthFiles.map(_._2)
    Out.info(s"input: ${fs.size} files, ${fs.map(_.rows).sum} rows, ${fs.map(_.bytes).sum} bytes " +
      s"(base ${baseFiles.map(_.rows).sum} rows, ${monthFiles.size} monthly files of ${Sizes.refreshMonthRows} rows)")
  }

  /** One monthly file → a star that includes it. */
  def append(star: StarSchema, f: CsvFile, run: Long): (StarSchema, Span) = {
    attempts.incrementAndGet()
    val raw = Trace.span(spark, "csv_ingest", run) { s =>
      val df = CsvIngest(spark, f.path)
      if (Trace.enabled) s.attrs("encodings_tried") = Workload.encodingsTried(df)
      s.attrs("bytes_read") = f.bytes.toDouble
      s.attrs("raw_rows") = f.rows.toDouble
      df
    }
    val transformed = Transform(raw)
    if (Trace.enabled) Trace.span(spark, "transform", run) { s =>
      s.attrs("rows_out") = Workload.timeTransform(transformed).toDouble
      s.attrs("raw_rows") = f.rows.toDouble
    }
    Trace.span(spark, "star_append", run)(s => (Star.append(spark, star, Normalize(transformed)), s))
  }

  /** The eight analyst questions over the star loaded up to month `m`,
    * with parameters seeded by `round`.
    */
  private def analystRound(star: StarSchema, m: Int, round: Int, lats: mutable.Buffer[Double], run: Long): Unit = {
    val r = new java.util.Random(args.seed * 31 + round)
    Questions.Kinds.foreach { k =>
      lats += ask(star, Questions.draw(k, r, model, Seq(prior, year), upTo(m)), run)
    }
  }

  private def dashboard(star: StarSchema, m: Int, lats: mutable.Buffer[Double], run: Long): Unit = {
    val loaded = upTo(m)
    Seq(Questions.a4Ytd(model, loaded, year, m), Questions.a5Top(model, loaded, year, 5),
      Questions.a8Quarterly(model, loaded, prior, year)).foreach(q => lats += ask(star, q, run))
  }

  def measure(seconds: Double): Measured = {
    val appendS = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val redeliverS = mutable.ArrayBuffer.empty[Double]
    val cycleS = mutable.ArrayBuffer.empty[Double]
    val lats = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    // a cycle starts only if one more is expected to end by the deadline
    var lastCycleNs = 0L
    while (cycleS.isEmpty || System.nanoTime() + lastCycleNs < deadline) {
      val c0 = System.nanoTime()
      var star = base.star
      var cycleWall = 0.0
      var before = countsUpTo(monthFiles.head._1 - 1)
      monthFiles.foreach { case (m, f) =>
        val run = Trace.newRun()
        val a0 = System.nanoTime()
        val (next, span) = append(star, f, run)
        val s = (System.nanoTime() - a0) / 1e9
        star = next
        appendS += s; rates += f.rows / s
        val la = lats.size
        dashboard(star, m, lats, run)
        // the appends answer as one build would: two rounds of the analyst
        // questions over the full year, checked against the model of all
        // its rows
        if (m == monthFiles.last._1) (1 to 2).foreach(analystRound(star, m, _, lats, run))
        cycleWall += s + lats.drop(la).sum
        // the counts cost jobs, so they run per append only when traced;
        // the dashboard answers check every intermediate star either way
        if (Trace.enabled || m == monthFiles.last._1) {
          val after = checkCounts(star, countsUpTo(m), s"append of month $m")
          freshness(span, before, after, countsUpTo(m)._1 - countsUpTo(m - 1)._1)
          before = after
        }
      }
      cycleS += cycleWall
      // re-delivery of the last month must change nothing
      val run = Trace.newRun()
      val r0 = System.nanoTime()
      val (again, span) = append(star, monthFiles.last._2, run)
      redeliverS += (System.nanoTime() - r0) / 1e9
      val after = checkCounts(again, countsUpTo(12), "re-delivery")
      freshness(span, countsUpTo(12), after, countsUpTo(12)._1 - countsUpTo(11)._1)
      checkPending()
      System.gc() // hygiene between cycles, outside every timer
      lastCycleNs = System.nanoTime() - c0
    }
    val wall = (System.nanoTime() - t0) / 1e9
    outcome(Map(
      "load_rows_per_s" -> (Stats.median(rates.toSeq), "rows/s"),
      "lake_bytes_per_csv_byte" -> (base.lakeRatio, "ratio"),
      "query_p50_s" -> (Stats.median(lats.toSeq), "s"),
      "query_p90_s" -> (Stats.quantile(lats.toSeq, 0.9), "s"),
      "queries_per_s" -> (lats.size / lats.sum, "1/s")),
      Seq(Stats.describe("append (monthly file to star)", appendS.toSeq),
        Stats.describe("re-delivery (no-op)", redeliverS.toSeq),
        Stats.describe("refresh cycle (first file to last answer)", cycleS.toSeq),
        Stats.describe("dashboard and analyst answer", lats.toSeq),
        f"base load in set-up: ${base.wallS}%.3f s for ${base.rawRows} rows",
        f"measured ${cycleS.size} cycles in $wall%.2f s"))
  }

  /** Records on an append span how much of its batch was new. */
  private def freshness(span: Span, before: (Long, Seq[Long]), after: (Long, Seq[Long]), batchGrains: Long): Unit = {
    span.attrs("fresh_fact_rows") = (after._1 - before._1).toDouble
    span.attrs("batch_grain_rows") = batchGrains.toDouble
    span.attrs("fresh_dim_rows") = (after._2.sum - before._2.sum).toDouble
  }
}
