package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Seeded generator of full-width MEF monthly-spending CSVs (every
  * `MefSchema.colsClave` column),
  * plus the reference model that computes the expected warehouse
  * answers straight from the generated rows, without Spark.
  *
  * Shape of the data:
  *  - 3 government levels; executing units drawn Zipf-skewed, each with
  *    a fixed sector, pliego, level and location; programmatic, meta,
  *    functional, financial and expense-classifier keys drawn uniformly
  *    from their pools. Every attribute is a function of its natural
  *    key, so each dimension row is unambiguous.
  *  - about 5% of rows repeat the grain of an earlier row (the build
  *    sums them), about 10% carry whitespace-dirty text (the cleaning
  *    collapses it back), about 0.1% have an invalid month (dropped)
  *    and about 0.1% an unparseable measure (read as null, summed as 0).
  *  - measures are integers, so every double sum is exact in any order.
  */
final case class Pools(execs: Int, progs: Int, funcs: Int, metas: Int, fins: Int, clasifs: Int)

object Gen {
  val Levels = Array(
    ("E", "GOBIERNO NACIONAL"), ("R", "GOBIERNOS REGIONALES"), ("M", "GOBIERNOS LOCALES"))
  val Sectors: Array[String] = Array(
    "PRESIDENCIA CONSEJO MINISTROS", "JUSTICIA", "INTERIOR", "RELACIONES EXTERIORES",
    "ECONOMÍA Y FINANZAS", "EDUCACIÓN", "SALUD", "TRABAJO Y PROMOCIÓN DEL EMPLEO",
    "AGRARIO Y DE RIEGO", "ENERGÍA Y MINAS", "PRODUCCIÓN", "TRANSPORTES Y COMUNICACIONES",
    "VIVIENDA CONSTRUCCIÓN Y SANEAMIENTO", "DEFENSA", "AMBIENTAL", "CULTURA",
    "DESARROLLO E INCLUSIÓN SOCIAL", "MUJER Y POBLACIONES VULNERABLES",
    "COMERCIO EXTERIOR Y TURISMO", "CONTRALORÍA GENERAL", "PODER JUDICIAL",
    "JURADO NACIONAL DE ELECCIONES", "GOBIERNOS REGIONALES", "GOBIERNOS LOCALES",
    "" /* blank sector: the views map it to SIN SECTOR */)
  /** The sectors a question may name. */
  val NamedSectors: Seq[String] = Sectors.filter(_.nonEmpty).toSeq
  val Deps: Array[String] = Array(
    "AMAZONAS", "ÁNCASH", "APURÍMAC", "AREQUIPA", "AYACUCHO", "CAJAMARCA", "CALLAO", "CUSCO",
    "HUANCAVELICA", "HUÁNUCO", "ICA", "JUNÍN", "LA LIBERTAD", "LAMBAYEQUE", "LIMA", "LORETO",
    "MADRE DE DIOS", "MOQUEGUA", "PASCO", "PIURA", "PUNO", "SAN MARTÍN", "TACNA", "TUMBES",
    "UCAYALI")
  val Verbs: Array[String] = Array(
    "GESTIÓN", "ATENCIÓN", "CONSTRUCCIÓN", "AMPLIACIÓN", "CREACIÓN", "RECUPERACIÓN",
    "PROMOCIÓN", "OPERACIÓN")
  val Things: Array[String] = Array(
    "DEL PROGRAMA", "DE SERVICIOS BÁSICOS", "DE INFRAESTRUCTURA VIAL", "EDUCATIVA",
    "DE SALUD MATERNA", "DEL RIEGO TECNIFICADO", "DE AGUA POTABLE", "ADMINISTRATIVA",
    "DE LA SEGURIDAD CIUDADANA", "DEL PATRIMONIO CULTURAL")
  val Fuentes = Array("RECURSOS ORDINARIOS", "RECURSOS DIRECTAMENTE RECAUDADOS",
    "RECURSOS POR OPERACIONES OFICIALES DE CRÉDITO", "DONACIONES Y TRANSFERENCIAS",
    "RECURSOS DETERMINADOS")
  val Categorias = Array("GASTOS CORRIENTES", "GASTOS DE CAPITAL", "SERVICIO DE LA DEUDA")
  val Genericas = Array("PERSONAL Y OBLIGACIONES SOCIALES", "PENSIONES Y OTRAS PRESTACIONES",
    "BIENES Y SERVICIOS", "DONACIONES Y TRANSFERENCIAS", "OTROS GASTOS",
    "ADQUISICIÓN DE ACTIVOS NO FINANCIEROS", "SERVICIO DE LA DEUDA PÚBLICA")

  val NumCols: Int = graft.mef.MefSchema.colsClave.size
  val Measures = 7 // PIA PIM CERTIFICADO COMPROMETIDO_ANUAL COMPROMETIDO DEVENGADO GIRADO
}

/** Index positions of the measures inside a row's measure array. */
object M { val Pia = 0; val Pim = 1; val Cert = 2; val CompAnual = 3; val Comp = 4; val Dev = 5; val Gir = 6 }

/** All entity pools, derived from the seed. Attribute text lives here so
  * the CSV writer and the reference model read the same strings.
  */
final class Universe(seed: Long, val pools: Pools) {
  import Gen._
  private val rnd = new java.util.Random(seed * 7919L + 17L)

  // executing units: level, sector, pliego, location
  val execLevel = Array.tabulate(pools.execs)(i => if (i % 10 < 3) 0 else if (i % 10 < 5) 1 else 2)
  val execSector = Array.tabulate(pools.execs) { i =>
    execLevel(i) match {
      case 1 => Sectors.indexOf("GOBIERNOS REGIONALES")
      case 2 => if (i % 37 == 0) Sectors.length - 1 else Sectors.indexOf("GOBIERNOS LOCALES")
      case _ => rnd.nextInt(Sectors.length - 3)
    }
  }
  val execPliego = Array.tabulate(pools.execs)(i => execSector(i) * 40 + rnd.nextInt(12))
  val execDep = Array.tabulate(pools.execs)(_ => rnd.nextInt(Deps.length))
  val execProv = Array.tabulate(pools.execs)(i => execDep(i) * 10 + rnd.nextInt(8))
  val execDist = Array.tabulate(pools.execs)(i => execProv(i) * 20 + rnd.nextInt(15))
  def execName(i: Int): String = execLevel(i) match {
    case 0 => s"UNIDAD EJECUTORA $i ${Things(i % Things.length)}"
    case 1 => s"GOBIERNO REGIONAL ${Deps(execDep(i))} SEDE $i"
    case _ => s"MUNICIPALIDAD DISTRITAL $i DE ${Deps(execDep(i))}"
  }
  def pliegoName(p: Int): String = {
    val s = Sectors(p / 40)
    if (s.isEmpty && p % 2 == 0) "" else s"PLIEGO ${p % 40} ${if (s.isEmpty) "SIN SECTOR" else s}"
  }
  def provName(p: Int): String = s"PROVINCIA ${p % 10} DE ${Deps(p / 10)}"
  def distName(d: Int): String = s"DISTRITO ${d % 20} ${Deps(d / 200)}"

  // Zipf(1.0) over executing units
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(pools.execs)(i => 1.0 / (i + 1))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def drawExec(r: java.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, pools.execs - 1)
  }

  // expense classifier: generica -> especifica name groups
  def clasGenerica(c: Int): Int = c % Genericas.length
  def clasEspecifica(c: Int): Int = c / 4 // four especifica_det per especifica
  def especificaCode(c: Int): String = s"${clasGenerica(c) + 1}.${clasEspecifica(c) % 97}"
  def especificaName(c: Int): String =
    s"${Verbs(clasEspecifica(c) % Verbs.length)} ${Things((clasEspecifica(c) / 8) % Things.length)} ${clasEspecifica(c)}"
  def finFuente(f: Int): Int = f % Fuentes.length
  def finCategoria(f: Int): Int = (f / Fuentes.length) % Categorias.length

  private def memo(n: Int)(f: Int => Array[String]): Int => Array[String] = {
    val cache = new Array[Array[String]](n)
    i => { if (cache(i) == null) cache(i) = f(i); cache(i) }
  }

  // the text columns of each dimension, in colsClave order, built once per key
  private val execText = memo(pools.execs) { e =>
    val lv = execLevel(e); val sec = execSector(e); val pl = execPliego(e)
    Array(Levels(lv)._1, Levels(lv)._2,
      (1000 + e).toString, f"${e % 1000}%03d", execName(e),
      f"$sec%02d", Sectors(sec), f"${pl % 40}%03d", pliegoName(pl),
      f"${execDep(e) + 1}%02d", Deps(execDep(e)),
      f"${execProv(e)}%04d", provName(execProv(e)),
      f"${execDist(e)}%06d", distName(execDist(e)))
  }
  private val progText = memo(pools.progs) { p =>
    Array(f"${p % 150}%04d", s"PROGRAMA PRESUPUESTAL ${p % 150}",
      (2 + p % 2).toString, if (p % 2 == 0) "ACTIVIDAD" else "PROYECTO",
      f"${p / 3}%07d", s"PRODUCTO ${p / 3} ${Things(p % Things.length)}",
      f"$p%07d", s"ACCIÓN $p ${Things((p / 7) % Things.length)}",
      (p % 900 + 1).toString)
  }
  private val funcText = memo(pools.funcs) { fu =>
    Array(f"${fu % 25 + 1}%02d", s"FUNCIÓN ${fu % 25}",
      f"${fu % 60 + 1}%03d", s"DIVISIÓN FUNCIONAL ${fu % 60}",
      f"${fu + 1}%04d", s"GRUPO FUNCIONAL $fu")
  }
  private val metaText = memo(pools.metas) { me =>
    Array(f"${me % 10000}%04d", f"$me%07d", s"${Verbs(me % Verbs.length)} ${Things(me % Things.length)} $me",
      f"${me % Deps.length + 1}%02d", Deps(me % Deps.length),
      s"FINALIDAD $me ${Verbs((me / 3) % Verbs.length)}")
  }
  private val finText = memo(pools.fins) { fi =>
    Array((finFuente(fi) + 1).toString, Fuentes(finFuente(fi)),
      f"${fi % 97}%02d", s"RUBRO ${fi % 97}",
      (fi % 3).toString, s"TIPO RECURSO ${fi % 3}",
      (finCategoria(fi) + 5).toString, Categorias(finCategoria(fi)))
  }
  private val clasText = memo(pools.clasifs) { c =>
    val g = clasGenerica(c)
    Array("2",
      (g + 1).toString, Genericas(g),
      s"${g + 1}.${c % 13}", s"SUBGENÉRICA ${c % 13} DE ${Genericas(g)}",
      s"${g + 1}.${c % 13}.${c % 7}", s"SUBGENÉRICA DETALLE ${c % 7}",
      especificaCode(c), especificaName(c),
      s"${especificaCode(c)}.${c % 4}", s"ESPECÍFICA DETALLE $c")
  }

  /** One raw CSV row (all colsClave fields, clean) for the given keys and measures. */
  def fields(year: Int, month: String, e: Int, p: Int, fu: Int, me: Int, fi: Int, c: Int,
      measures: Array[String]): Array[String] = {
    val out = Array(year.toString, month) ++ execText(e) ++ progText(p) ++ funcText(fu) ++
      metaText(me) ++ finText(fi) ++ clasText(c) ++ measures
    require(out.length == Gen.NumCols, s"row has ${out.length} fields, schema ${Gen.NumCols}")
    out
  }
}

/** The generated rows of one workload, column-wise. `valid` rows carry a
  * month in 1..12; `nullMeasure` is the measure index written as
  * unparseable text (-1 when all parse).
  */
final class Rows(n: Int) {
  var size = 0
  val year = new Array[Int](n)
  val month = new Array[Int](n)
  val exec = new Array[Int](n)
  val prog = new Array[Int](n)
  val func = new Array[Int](n)
  val meta = new Array[Int](n)
  val fin = new Array[Int](n)
  val clas = new Array[Int](n)
  val meas = Array.ofDim[Long](Gen.Measures, n)
  val nullMeasure = Array.fill(n)(-1)
  def valid(i: Int): Boolean = month(i) >= 1 && month(i) <= 12
}

/** A generated CSV file and the row range of [[Rows]] it holds. */
final case class CsvFile(path: String, rowsFrom: Int, rowsUntil: Int, bytes: Long) {
  def rows: Int = rowsUntil - rowsFrom
}

final class Generator(val seed: Long, val pools: Pools) {
  val universe = new Universe(seed, pools)
  private val rnd = new java.util.Random(seed)

  /** Draw `count` rows of (year, month) where months cycle through
    * `months`, appending to `rows`.
    */
  def draw(rows: Rows, count: Int, year: Int, months: Seq[Int]): (Int, Int) = {
    val from = rows.size
    var k = 0
    while (k < count) {
      val i = rows.size
      val m = months(k % months.size)
      val dupOf =
        if (k > months.size * 4 && rnd.nextInt(100) < 5) {
          // an earlier row of the same month: same grain, new measures
          val back = months.size * (1 + rnd.nextInt((k - 1) / months.size))
          i - back
        } else -1
      rows.year(i) = year
      rows.month(i) = m
      if (dupOf >= 0) {
        rows.exec(i) = rows.exec(dupOf); rows.prog(i) = rows.prog(dupOf)
        rows.func(i) = rows.func(dupOf); rows.meta(i) = rows.meta(dupOf)
        rows.fin(i) = rows.fin(dupOf); rows.clas(i) = rows.clas(dupOf)
      } else {
        rows.exec(i) = universe.drawExec(rnd)
        rows.prog(i) = rnd.nextInt(pools.progs)
        rows.func(i) = rnd.nextInt(pools.funcs)
        rows.meta(i) = rnd.nextInt(pools.metas)
        rows.fin(i) = rnd.nextInt(pools.fins)
        rows.clas(i) = rnd.nextInt(pools.clasifs)
      }
      val pim = 1000L + rnd.nextInt(5000000)
      val comp = pim * (50 + rnd.nextInt(50)) / 100
      val dev = comp * (40 + rnd.nextInt(61)) / 100
      rows.meas(M.Pia)(i) = pim - rnd.nextInt(1000)
      rows.meas(M.Pim)(i) = pim
      rows.meas(M.Cert)(i) = comp + rnd.nextInt(1000)
      rows.meas(M.CompAnual)(i) = comp + rnd.nextInt(500)
      rows.meas(M.Comp)(i) = comp
      rows.meas(M.Dev)(i) = dev
      rows.meas(M.Gir)(i) = dev * (70 + rnd.nextInt(31)) / 100
      // ~0.1% invalid month (Transform drops the row), ~0.1% unparseable
      // measure (read as null, which every sum counts as 0)
      val u = rnd.nextInt(1000)
      if (u == 0) rows.month(i) = if (rnd.nextBoolean()) 0 else 13
      else if (u == 1) rows.nullMeasure(i) = rnd.nextInt(Gen.Measures)
      rows.size += 1
      k += 1
    }
    (from, rows.size)
  }

  /** Write rows [from, until) as a CSV. `latin1` picks ISO-8859-1
    * (otherwise UTF-8 with a BOM when `bom`); `lowerHeader` writes the
    * header in lowercase, which the header canonicalization undoes.
    */
  def write(rows: Rows, from: Int, until: Int, path: String,
      latin1: Boolean, bom: Boolean, lowerHeader: Boolean): CsvFile = {
    val cs = if (latin1) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    var bytes = 0L
    def put(s: String): Unit = { val b = s.getBytes(cs); out.write(b); bytes += b.length }
    if (bom) { out.write(Array(0xEF, 0xBB, 0xBF).map(_.toByte)); bytes += 3 }
    val header = graft.mef.MefSchema.colsClave.mkString(",")
    put((if (lowerHeader) header.toLowerCase else header) + "\n")
    val dirt = new java.util.Random(seed * 31 + from)
    val sb = new java.lang.StringBuilder(2048)
    var i = from
    while (i < until) {
      val ms = Array.tabulate(Gen.Measures) { j =>
        if (rows.nullMeasure(i) == j) (if ((i & 1) == 0) "N/D" else "1.2.3")
        else rows.meas(j)(i).toString
      }
      val f = universe.fields(rows.year(i), rows.month(i).toString, rows.exec(i), rows.prog(i),
        rows.func(i), rows.meta(i), rows.fin(i), rows.clas(i), ms)
      if (dirt.nextInt(10) == 0) {
        // whitespace-dirty text: padded and doubled spaces in three text
        // columns (never the numeric ones)
        var d = 0
        while (d < 3) {
          val c = 2 + dirt.nextInt(Gen.NumCols - 2 - Gen.Measures)
          if (!Generator.NumericIdx.contains(c))
            f(c) = "  " + f(c).replace(" ", "   ") + " "
          d += 1
        }
      }
      sb.setLength(0)
      var c = 0
      while (c < f.length) { if (c > 0) sb.append(','); sb.append(f(c)); c += 1 }
      sb.append('\n')
      put(sb.toString)
      i += 1
    }
    out.close()
    CsvFile(path, from, until, bytes)
  }
}

object Generator {
  val NumericIdx: Set[Int] =
    graft.mef.MefSchema.colsNum.map(graft.mef.MefSchema.colsClave.indexOf(_)).toSet
}

/** Reference answers computed from the generated rows. `loaded` picks
  * the (year, month) slices the warehouse under test holds.
  */
final class Model(u: Universe, rows: Rows) {
  import Gen._

  private def sum(i: Int, m: Int): Long = if (rows.nullMeasure(i) == m) 0L else rows.meas(m)(i)

  /** Expected row counts: fact rows, then each attribute dimension in
    * MefSchema.dims order.
    */
  def counts(loaded: (Int, Int) => Boolean): (Long, Seq[Long]) = {
    val grains = mutable.HashSet.empty[(Int, Int, Int, Int, Int, Int, Int, Int)]
    val dims = Array.fill(7)(mutable.HashSet.empty[Any])
    var i = 0
    while (i < rows.size) {
      if (rows.valid(i) && loaded(rows.year(i), rows.month(i))) {
        val e = rows.exec(i)
        grains += ((rows.year(i), rows.month(i), e, rows.prog(i), rows.func(i), rows.meta(i),
          rows.fin(i), rows.clas(i)))
        dims(0) += u.execLevel(e)
        dims(1) += e
        dims(2) += rows.prog(i)
        dims(3) += rows.func(i)
        dims(4) += rows.meta(i)
        dims(5) += rows.fin(i)
        dims(6) += rows.clas(i)
      }
      i += 1
    }
    (grains.size.toLong, dims.map(_.size.toLong).toSeq)
  }

  /** Valid row indices per (year, month) slice. */
  private val slices: Map[(Int, Int), Array[Int]] =
    (0 until rows.size).filter(rows.valid).groupBy(i => (rows.year(i), rows.month(i)))
      .map { case (k, v) => k -> v.toArray }

  /** Grouped sums of the measures `ms` over the valid rows of the
    * (year, month) slices `within` accepts that pass `pred`, keyed by `key`.
    */
  def groupSum[K](within: (Int, Int) => Boolean, pred: Int => Boolean, key: Int => K,
      ms: Seq[Int]): Map[K, Array[Double]] = {
    val acc = mutable.HashMap.empty[K, Array[Long]]
    slices.foreach { case ((y, m), idx) =>
      if (within(y, m)) idx.foreach { i =>
        if (pred(i)) {
          val a = acc.getOrElseUpdate(key(i), new Array[Long](ms.size))
          var j = 0
          while (j < ms.size) { a(j) += sum(i, ms(j)); j += 1 }
        }
      }
    }
    acc.iterator.map { case (k, v) => k -> v.map(_.toDouble) }.toMap
  }

  def sectorName(i: Int): String = Sectors(u.execSector(rows.exec(i)))
  def execName(i: Int): String = u.execName(rows.exec(i))
  def year(i: Int): Int = rows.year(i)
  def month(i: Int): Int = rows.month(i)
  def levelName(i: Int): String = Levels(u.execLevel(rows.exec(i)))._2
  def pliegoName(i: Int): String = u.pliegoName(u.execPliego(rows.exec(i)))
  def depName(i: Int): String = Deps(u.execDep(rows.exec(i)))
  def provName(i: Int): String = u.provName(u.execProv(rows.exec(i)))
  def distName(i: Int): String = u.distName(u.execDist(rows.exec(i)))
  def fuenteName(i: Int): String = Fuentes(u.finFuente(rows.fin(i)))
  def categoriaName(i: Int): String = Categorias(u.finCategoria(rows.fin(i)))
  def genericaName(i: Int): String = Genericas(u.clasGenerica(rows.clas(i)))
  def especifica(i: Int): String = u.especificaCode(rows.clas(i))
  def especificaName(i: Int): String = u.especificaName(rows.clas(i))
}
