package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The library only ever sees what these write to
  * disk; every expected value a check compares against is recorded here at
  * generation time, never recomputed by the code under test.
  */
object Gen {

  // ---- price lists -------------------------------------------------------

  /** Canonical providers. Every surface form the generator emits for one of
    * them (trailing space, upper case, camel-joined words, a seeded synonym)
    * must land on ONE Provider row under the merge's key rules.
    */
  val providers: Vector[String] = Vector(
    "Vicente", "Serrano", "Dos Pinos", "Pipasa", "Bimbo", "Demasa",
    "Distribuidora La Florida", "Coopeagri", "Mayca", "Belca", "Gessa",
    "Inolasa", "Sardimar", "Numar", "Kimberly Clark", "Unilever", "Cargill",
    "Riviana", "Del Monte", "Coca Cola", "Florex", "Irex", "Jiron", "Molinos")

  /** Providers that exist before the first file, each with one synonym. */
  val seededSynonyms: Vector[(String, String)] = Vector(
    "Dos Pinos" -> "Cooperativa Dos Pinos", "Pipasa" -> "Corporacion Pipasa",
    "Bimbo" -> "Grupo Bimbo", "Demasa" -> "Maseca Demasa")

  private val items = Vector("Aceite", "Arroz", "Frijoles", "Leche", "Azucar",
    "Cafe", "Harina", "Atun", "Salsa", "Galletas", "Jabon", "Detergente",
    "Pasta", "Mantequilla", "Queso", "Yogurt", "Refresco", "Servilletas",
    "Cereal", "Avena", "Sardinas", "Mayonesa", "Natilla", "Te")
  private val brands = Vector("Capullo", "Tio Pelon", "Sabemas", "Ligia",
    "Don Pedro", "Maggi", "Lizano", "Suli", "Kerns", "Coronado", "Borden",
    "Nestle", "Pozuelo", "Gallito", "Toscana", "Irex")
  private val lines = Vector("Clasico", "Light", "Integral", "Premium",
    "Original", "Familiar", "Extra", "Natural")
  private val sizes = Vector("500ml", "1kg", "250g", "1l", "2l", "100g",
    "750ml", "400g", "5kg", "12oz")

  val catalogSize: Int = items.size * brands.size * lines.size * sizes.size

  /** Product `p`'s description: injective over [0, catalogSize). Package
    * units (`x 12`) and the IVA code (`(G13)`) are properties of the product,
    * so every emission of `p` has the same merge key.
    */
  def description(p: Int): String = {
    var r = p
    val size = sizes(r % sizes.size); r /= sizes.size
    val line = lines(r % lines.size); r /= lines.size
    val brand = brands(r % brands.size); r /= brands.size
    val item = items(r % items.size)
    val pkg = if (p % 3 == 0) s" x ${6 * (1 + p % 4)}" else ""
    val iva = p % 5 match { case 0 => " (G13)"; case 1 => " (G1)"; case _ => "" }
    s"$item $brand $line $size$pkg$iva"
  }

  private def pick[A](r: SplittableRandom, v: Vector[A]): A = v(r.nextInt(v.size))

  def pickWord(r: SplittableRandom, vocab: Vector[String]): String = pick(r, vocab)

  private def surfaceProvider(r: SplittableRandom, canonical: String): String = {
    val syn = seededSynonyms.collectFirst { case (c, s) if c == canonical => s }
    val x = r.nextInt(100)
    if (x < 55) canonical
    else if (x < 70) canonical + " "
    else if (x < 80) canonical.toUpperCase
    else if (x < 92 && canonical.contains(' ')) canonical.replace(" ", "")
    else syn.getOrElse(canonical)
  }

  private def surfaceDescription(r: SplittableRandom, d: String): String = {
    val x = r.nextInt(100)
    if (x < 80) d else if (x < 92) d + "  " else d.toUpperCase
  }

  private def date(r: SplittableRandom): String = {
    val d = 1 + r.nextInt(28); val m = 1 + r.nextInt(12); val y = 2023 + r.nextInt(3)
    val x = r.nextInt(100)
    if (x < 50) f"$d%02d/$m%02d/$y"
    else if (x < 80) s"$d/$m/$y"
    else if (x < 98) f"$y-$m%02d-$d%02d"
    else f"$d%02d/$m%02d/2${y}%d" // "23/04/20025": a year out of range
  }

  private val unparseable = Vector("N/D", "consultar", "1.200 aprox", "--", "")

  /** A price cell and the value the reference's cleaning yields for it
    * (strip `. , $ space`, then a decimal), None when it must not parse.
    */
  private def price(r: SplittableRandom, junk: Boolean): (String, Option[Long]) = {
    if (junk) return (pick(r, unparseable), None)
    val v = 150L + r.nextInt(60000)
    val x = r.nextInt(100)
    val dotted = "%,d".formatLocal(java.util.Locale.ROOT, v).replace(',', '.')
    if (x < 55 || v < 1000) (v.toString, Some(v))
    else if (x < 85) (dotted, Some(v))
    else (s"$$ $dotted", Some(v))
  }

  private sealed trait Header { def line: String; def junk: String }
  private case object Fecha1Junk extends Header {
    val line = "Producto,Fecha 1,Provedor,Precio,,,,"; val junk = ",,,,"
  }
  private case object Fecha extends Header {
    val line = "Producto,Fecha,Provedor,Precio"; val junk = ""
  }

  /** One price-list file: rows as (description, provider) canonical ids. */
  final case class PriceFile(path: Path, rows: Int, bytes: Long,
      products: Seq[Int], providers: Seq[String], validPrices: Long, priceSum: Long)

  /** True for exactly `pct` percent of the indices 0, 1, 2, ... (evenly
    * spread), so shares are the same for every seed.
    */
  def share(i: Int, pct: Int): Boolean = (i + 1) * pct / 100 > i * pct / 100

  private def writeRows(path: Path, r: SplittableRandom, n: Int, unparseablePct: Int,
      fecha1: Boolean, product: Int => Int): PriceFile = {
    val header: Header = if (fecha1) Fecha1Junk else Fecha
    val sb = new java.lang.StringBuilder(n * 64)
    sb.append(header.line).append('\n')
    val prods = new mutable.ArrayBuffer[Int](n)
    val provs = new mutable.ArrayBuffer[String](n)
    var valid = 0L; var sum = 0L
    var i = 0
    while (i < n) {
      val p = product(i)
      val prov = pick(r, providers)
      val (cell, v) = price(r, share(i, unparseablePct))
      v.foreach { x => valid += 1; sum += x }
      sb.append(surfaceDescription(r, description(p))).append(',')
        .append(date(r)).append(',')
        .append(surfaceProvider(r, prov)).append(',')
        .append(cell).append(header.junk).append('\n')
      prods += p; provs += prov
      i += 1
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    PriceFile(path, n, bytes.length.toLong, prods.toSeq, provs.toSeq, valid, sum)
  }

  /** The ingest sequence: `files` fresh price lists of `rows` rows each;
    * `repricePct` of rows re-price a product an earlier row emitted, the rest
    * introduce new products; `unparseablePct` of prices are junk.
    */
  def priceLists(seed: Long, dir: Path, files: Int, rows: Int,
      repricePct: Int, unparseablePct: Int): Vector[PriceFile] = {
    val r = new SplittableRandom(seed)
    // new products come from a seed-shuffled walk of the catalog
    val order = {
      val a = Array.range(0, catalogSize)
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    var fresh = 0
    val seen = new mutable.ArrayBuffer[Int]()
    def product(i: Int): Int =
      if (seen.nonEmpty && share(i, repricePct)) seen(r.nextInt(seen.size))
      else { val p = order(fresh); fresh += 1; seen += p; p }
    // header variants alternate: "Fecha 1" with junk trailing columns, "Fecha"
    (0 until files).map { f =>
      writeRows(dir.resolve(f"lista_precios_$f%04d.csv"), r, rows,
        unparseablePct, fecha1 = f % 2 == 0, product)
    }.toVector
  }

  /** One large price list over random catalog products. */
  def bulkPriceList(seed: Long, path: Path, rows: Int, unparseablePct: Int): PriceFile = {
    val r = new SplittableRandom(seed)
    writeRows(path, r, rows, unparseablePct, fecha1 = true, _ => r.nextInt(catalogSize))
  }

  // ---- documents ---------------------------------------------------------

  /** Pseudo-words from syllables: a vocabulary with realistic character
    * overlap, so unrelated documents share shingles (the LSH collision tail).
    */
  def vocabulary(seed: Long, n: Int): Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val syl = Vector("ka", "lo", "me", "tri", "sun", "por", "ve", "da", "nel",
      "qui", "ras", "to", "mi", "gen", "ul", "bra", "se", "fo", "cha", "pi")
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) out += (0 until 2 + r.nextInt(3)).map(_ => pick(r, syl)).mkString
    out.toVector
  }

  def randomDoc(r: SplittableRandom, vocab: Vector[String], words: Int): Array[String] =
    Array.fill(words)(pick(r, vocab))

  /** Substitute `k` distinct word positions with other vocabulary words. */
  def mutate(r: SplittableRandom, vocab: Vector[String], doc: Array[String], k: Int): Array[String] = {
    val out = doc.clone()
    val pos = mutable.LinkedHashSet[Int]()
    while (pos.size < math.min(k, doc.length)) pos += r.nextInt(doc.length)
    pos.foreach { i => var w = pick(r, vocab); while (w == doc(i)) w = pick(r, vocab); out(i) = w }
    out
  }

  /** A one-character typo in one word. */
  def typo(r: SplittableRandom, doc: Array[String]): Array[String] = {
    val out = doc.clone()
    val i = r.nextInt(doc.length)
    val w = out(i).toCharArray
    val j = r.nextInt(w.length)
    w(j) = if (w(j) == 'z') 'x' else 'z'
    out(i) = new String(w)
    out
  }

  /** Exact distinct character k-shingle Jaccard (the verification measure). */
  def jaccard(a: String, b: String, k: Int = 5): Double = {
    def sh(s: String) = (0 to s.length - k).map(i => s.substring(i, i + k)).toSet
    val x = sh(a); val y = sh(b)
    (x intersect y).size.toDouble / (x union y).size
  }

  final case class Doc(id: Long, text: String)
  final case class Planted(a: Long, b: Long, jaccard: Double, mustFind: Boolean)

  /** Stream corpus: `files` files of `docsPerFile` docs. In every file after
    * the first, `nearPct` of the docs are near-duplicates of an earlier doc:
    * `tightPct` of those carry a one-character typo (Jaccard ~0.99, must be
    * found), the rest differ in 12% of their words (Jaccard ~0.6, checked
    * only through stream == batch).
    */
  def streamCorpus(seed: Long, files: Int, docsPerFile: Int, words: Int,
      nearPct: Int, tightPct: Int): (Vector[Vector[Doc]], Vector[Planted]) = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(seed, 3000)
    val all = new mutable.ArrayBuffer[Array[String]]()
    val planted = new mutable.ArrayBuffer[Planted]()
    val near = docsPerFile * nearPct / 100
    val out = (0 until files).map { f =>
      (0 until docsPerFile).map { d =>
        val id = all.size.toLong
        val words0 =
          if (f > 0 && d < near) {
            val src = r.nextInt(all.size)
            val tight = share(d, tightPct)
            val w = if (tight) typo(r, all(src)) else mutate(r, vocab, all(src), words * 12 / 100)
            val j = jaccard(all(src).mkString(" "), w.mkString(" "))
            planted += Planted(src.toLong, id, j, tight)
            w
          } else randomDoc(r, vocab, words)
        all += words0
        Doc(id, words0.mkString(" "))
      }.toVector
    }.toVector
    (out, planted.toVector)
  }
}
