package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.mef.{Analytics, Views}
import graft.mef.Star.StarSchema

/** One analyst question: a layer (`analytics` or `views`), the
  * DataFrame it asks the program for, and the answer the reference
  * model expects. `topK` = (k, index of the ranking column) for the
  * limited queries, whose ties at the cut may legally resolve either way.
  */
final case class Question(
    kind: String, layer: String, ask: StarSchema => DataFrame,
    expected: () => Seq[Seq[Any]], topK: Option[(Int, Int)] = None)

object Questions {
  val Kinds: Seq[String] = Seq(
    "a4_ytd", "a4_running_ytd", "a5_top", "a6_share", "a7_backlog", "a8_quarterly",
    "view_monthly", "view_annual")

  private def ytd(loaded: (Int, Int) => Boolean, y: Int, cut: Int): (Int, Int) => Boolean =
    (yy, mm) => yy == y && mm <= cut && loaded(yy, mm)

  private def noBlank(s: String, placeholder: String): String = if (s.trim.isEmpty) placeholder else s

  /** The question of `kind` with parameters drawn from `r`, answered over
    * the slices `loaded` of `model`.
    */
  def draw(kind: String, r: java.util.Random, model: Model, years: Seq[Int],
      loaded: (Int, Int) => Boolean): Question = {
    val y = years(r.nextInt(years.size))
    val cut = 1 + r.nextInt(12)
    val sector = Gen.NamedSectors(r.nextInt(Gen.NamedSectors.size))
    val k = Seq(3, 5, 10)(r.nextInt(3))
    kind match {
      case "a4_ytd" => a4Ytd(model, loaded, y, cut)
      case "a4_running_ytd" =>
        Question(kind, "analytics", s => Analytics.ytdAcumuladoMensual(s, y), () => {
          val g = model.groupSum((yy, mm) => yy == y && loaded(yy, mm), _ => true,
            i => (model.sectorName(i), model.month(i)), Seq(M.Dev))
          g.toSeq.groupBy(_._1._1).toSeq.flatMap { case (sec, xs) =>
            var acc = 0.0
            xs.sortBy(_._1._2).map { case ((_, m), v) => acc += v(0); Seq(sec, m, v(0), acc) }
          }
        })
      case "a5_top" => a5Top(model, loaded, y, k)
      case "a6_share" =>
        Question(kind, "analytics", s => Analytics.participacionPorEjecutora(s, y, cut, sector), () => {
          val g = model.groupSum(ytd(loaded, y, cut), model.sectorName(_) == sector,
            model.execName, Seq(M.Dev))
          val tot = g.values.map(_(0)).sum
          g.toSeq.map { case (e, v) => Seq(e, v(0), if (tot > 0) v(0) / tot else 0.0) }
        })
      case "a7_backlog" =>
        Question(kind, "analytics", s => Analytics.pendientePorEjecutar(s, y, cut), () => {
          model.groupSum(ytd(loaded, y, cut), _ => true,
            i => (model.especifica(i), model.especificaName(i)), Seq(M.Comp, M.Dev))
            .toSeq.collect { case ((e, n), v) if v(0) - v(1) > 0 => Seq(e, n, v(0), v(1), v(0) - v(1)) }
        }, Some((20, 4)))
      case "a8_quarterly" => a8Quarterly(model, loaded, years.min, y)
      case "view_monthly" =>
        val m = 1 + r.nextInt(12)
        Question(kind, "views", s => Views.vwGastoAgregadoMensual(s)
          .filter(col("anio") === y && col("mes") === m && col("sector_nombre") === sector), () => {
          model.groupSum((yy, mm) => yy == y && mm == m && loaded(yy, mm), model.sectorName(_) == sector,
            i => Seq(model.execName(i), noBlank(model.pliegoName(i), "SIN PLIEGO"), model.depName(i),
              model.provName(i), model.distName(i), s"Departamento de ${model.depName(i)}, Perú",
              model.fuenteName(i), model.categoriaName(i), model.genericaName(i),
              model.especificaName(i)),
            Seq(M.Pia, M.Pim, M.Cert, M.CompAnual, M.Comp, M.Dev, M.Gir))
            .toSeq.map { case (key, v) =>
              Seq(y, m, (m - 1) / 3 + 1, key.head, sector) ++ key.tail ++ v.toSeq
            }
        })
      case "view_annual" =>
        Question(kind, "views", s => Views.vwGastoAgregadoAnual(s)
          .filter(col("anio") === y && col("sector_nombre") === sector), () => {
          model.groupSum((yy, mm) => yy == y && loaded(yy, mm), model.sectorName(_) == sector,
            model.pliegoName, Seq(M.Pim, M.Dev, M.Gir))
            .toSeq.map { case (p, v) => Seq(y, sector, p, v(0), v(1), v(2)) }
        })
    }
  }

  def a4Ytd(model: Model, loaded: (Int, Int) => Boolean, y: Int, cut: Int): Question =
    Question("a4_ytd", "analytics", s => Analytics.ytdDevengadoPorSector(s, y, cut), () =>
      model.groupSum(ytd(loaded, y, cut), _ => true, model.sectorName, Seq(M.Dev)).toSeq.map { case (sec, v) => Seq(sec, v(0)) })

  def a5Top(model: Model, loaded: (Int, Int) => Boolean, y: Int, k: Int): Question =
    Question("a5_top", "analytics", s => Analytics.topEjecutorasPorDevengado(s, y, k), () =>
      model.groupSum((yy, mm) => yy == y && loaded(yy, mm), _ => true, model.execName, Seq(M.Dev))
        .toSeq.map { case (e, v) => Seq(e, v(0)) }, Some((k, 1)))

  def a8Quarterly(model: Model, loaded: (Int, Int) => Boolean, y1: Int, y2: Int): Question =
    Question("a8_quarterly", "analytics", s => Analytics.evolucionTrimestral(s, y1, y2), () =>
      model.groupSum((yy, mm) => yy >= y1 && yy <= y2 && loaded(yy, mm), _ => true,
        i => (model.year(i), (model.month(i) - 1) / 3 + 1, model.levelName(i)), Seq(M.Dev))
        .toSeq.map { case ((yy, q, l), v) => Seq(yy, q, l, v(0)) })

  /** Null when `got` is the expected answer, else a short reason. */
  def check(q: Question, got: Seq[Seq[Any]]): String = {
    def canon(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.map {
      case d: Double => java.lang.Double.toString(d)
      case n: java.lang.Number => n.longValue.toString
      case x => String.valueOf(x)
    }.mkString("|")).sorted
    val exp = q.expected()
    q.topK match {
      case None =>
        val (a, b) = (canon(got), canon(exp))
        if (a == b) null
        else s"${q.kind}: ${a.size} rows, expected ${b.size}; first difference " +
          a.zipAll(b, "-", "-").find(p => p._1 != p._2).getOrElse(("?", "?"))
      case Some((k, rankCol)) =>
        // a valid top-k: the right number of rows, every row a true
        // group, and the ranking values equal to the expected top k
        val rank = (r: Seq[Any]) => r(rankCol).asInstanceOf[Number].doubleValue
        val want = exp.map(rank).sorted(Ordering[Double].reverse).take(k)
        val have = got.map(rank).sorted(Ordering[Double].reverse)
        val all = canon(exp).toSet
        if (have != want) s"${q.kind}: top values $have, expected $want"
        else canon(got).find(r => !all.contains(r)).map(r => s"${q.kind}: unexpected row $r").orNull
    }
  }
}
