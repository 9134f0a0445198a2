package etlbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Table sizes at a TPC-H-style scale factor (sf 0.1 = 150k orders with
  * ≈600k line items, 20k parts, 1k suppliers, 15k customers).
  */
final case class Scale(sf: Double) {
  private def at(base: Double): Int = math.max(1, math.round(base * sf).toInt)
  val orders: Int = at(1500000)
  val parts: Int = at(200000)
  val suppliers: Int = at(10000)
  val customers: Int = at(150000)
  /** files of the media library, its sf 0.1 size at any scale, so the
    * keys × files compare count of the media match does not fall with sf²
    */
  val mediaFiles: Int = 8000
  /** orders that get media files, ≈1.5 each, to fill the library */
  val mediaOrderShare: Double = math.min(1.0, mediaFiles / 1.5 / orders)
  /** target rows whose keys are not in the upsert input */
  val extraTargetOrders: Int = orders / 4
  /** pre-existing rows of the nested (append) target */
  val nestedTargetOrders: Int = orders / 5
}

/** Seeded generator of every benchmark input. Each value is a pure function
  * of (seed, salt, ordinals), so Spark tasks and the main thread derive identical
  * rows without shipping data, and the expected counts come from the same
  * functions, never from the engine under test.
  */
object Gen {

  private def mix(x0: Long): Long = { // SplitMix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def h(seed: Long, salt: Int, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed * 0x9e3779b97f4a7c15L + salt) + a) + b)
  private def u(seed: Long, salt: Int, a: Long, b: Long = 0L): Double =
    (h(seed, salt, a, b) >>> 11) * (1.0 / (1L << 53))
  private def pick(seed: Long, salt: Int, a: Long, b: Long, n: Int): Int =
    ((h(seed, salt, a, b) >>> 1) % n).toInt

  private val words = Array("almond", "antique", "aquamarine", "azure", "beige",
    "bisque", "black", "blanched", "blue", "blush", "brown", "burlywood",
    "burnished", "chartreuse", "chiffon", "chocolate", "coral", "cornflower",
    "cornsilk", "cream", "cyan", "dark", "deep", "dim", "dodger", "drab",
    "firebrick", "floral", "forest", "frosted", "gainsboro", "ghost",
    "goldenrod", "green", "grey", "honeydew", "hot", "indian", "ivory",
    "khaki", "lace", "lavender", "lawn", "lemon", "light", "lime", "linen",
    "magenta", "maroon", "medium", "metallic", "midnight", "mint", "misty",
    "moccasin", "navajo", "navy", "olive", "orange", "orchid", "pale",
    "papaya", "peach", "peru", "pink", "plum", "powder", "puff", "purple",
    "red", "rose", "rosy", "royal", "saddle", "salmon", "sandy", "seashell",
    "sienna", "sky", "slate", "smoke", "snow", "spring", "steel", "tan",
    "thistle", "tomato", "turquoise", "violet", "wheat", "white", "yellow")

  // ------------------------------------------------------------ dimensions
  /** five colour words, as TPC-H `p_name` */
  def partName(seed: Long, p: Int): String =
    (0 until 5).map(i => words(pick(seed, 1, p, i, words.length))).mkString(" ")
  def supplierName(s: Int): String = f"Supplier#$s%09d"
  def customerName(c: Int): String = f"Customer#$c%09d"

  // ---------------------------------------------------------------- orders
  def linesOf(seed: Long, o: Long): Int = 1 + pick(seed, 10, o, 0, 7)
  def orderKey(o: Long): String = f"ORD$o%08d"
  def lineKey(o: Long, ln: Int): String = s"L$o-$ln"
  def partOf(seed: Long, o: Long, ln: Int, scale: Scale): Int = 1 + pick(seed, 11, o, ln, scale.parts)
  def supplierOf(seed: Long, o: Long, ln: Int, scale: Scale): Int = 1 + pick(seed, 12, o, ln, scale.suppliers)
  def customerOf(seed: Long, o: Long, scale: Scale): Int = 1 + pick(seed, 13, o, 0, scale.customers)
  def quantity(seed: Long, o: Long, ln: Int): Int = 1 + pick(seed, 14, o, ln, 50)
  def date(seed: Long, salt: Int, o: Long, ln: Int): String =
    java.time.LocalDate.ofEpochDay(8035L + pick(seed, salt, o, ln, 2400)).toString
  def orderStatus(seed: Long, o: Long): String = "OFP".charAt(pick(seed, 16, o, 0, 3)).toString
  def orderPriority(seed: Long, o: Long): String =
    priorities(pick(seed, 17, o, 0, 5))
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  def totalPrice(seed: Long, o: Long): String = f"${1000 + pick(seed, 18, o, 0, 400000) / 1.0}%.2f"

  // ------------------------------------------------- upsert-input anomalies
  /** ≈1% of lines carry exactly one invalid cell; returns its kind 0..4 */
  def badCell(seed: Long, o: Long, ln: Int): Int =
    if (u(seed, 20, o, ln) < 0.01) pick(seed, 21, o, ln, 5) else -1
  /** ≈0.1% of lines (never the first of an order) repeat the previous
    * line's key, so last-wins deduplication applies
    */
  def keyLine(seed: Long, o: Long, ln: Int): Int =
    if (ln > 1 && u(seed, 22, o, ln) < 0.001) ln - 1 else ln
  /** about half of the input keys already exist in the target */
  def inTarget(seed: Long, o: Long, kl: Int): Boolean = u(seed, 23, o, kl) < 0.5
  /** ≈0.1% of part references are a substring of the name: the equality
    * lookup misses and the CONTAINS fallback resolves them
    */
  def nearMiss(seed: Long, o: Long, ln: Int): Boolean = u(seed, 24, o, ln) < 0.001
  /** 10% of bare supplier references are numeric ids (id branch of the cascade) */
  def numericSupplier(seed: Long, o: Long, ln: Int): Boolean = u(seed, 25, o, ln) < 0.1

  def mediaFilesOf(seed: Long, o: Long, scale: Scale): Int =
    if (u(seed, 30, o) < scale.mediaOrderShare) 1 + pick(seed, 31, o, 0, 2) else 0

  // ---------------------------------------------------------- CSV writers
  private def withWriter(f: File)(body: BufferedWriter => Unit): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try body(w) finally w.close()
    f.length()
  }

  private val booleans = Array("yes", "true", "1", "no", "false", "0")

  val lineHeader: Seq[String] = Seq("line_key", "quantity", "extendedprice", "discount",
    "tax", "returnflag", "linestatus", "shipdate", "is_open", "part.p_name", "supplier")

  /** One CSV line of the upsert input (no quoting needed: no value holds a
    * comma, quote or newline).
    */
  def lineCsv(seed: Long, scale: Scale, o: Long, ln: Int): String = {
    val bad = badCell(seed, o, ln)
    val q = quantity(seed, o, ln)
    val p = partOf(seed, o, ln, scale)
    val s = supplierOf(seed, o, ln, scale)
    val status = if (pick(seed, 26, o, ln, 2) == 0) "O" else "F"
    val open = booleans(pick(seed, 27, o, ln, 3) + (if (status == "O") 0 else 3))
    val pname = {
      val n = partName(seed, p)
      if (nearMiss(seed, o, ln)) n.split(' ').slice(1, 4).mkString(" ") else n
    }
    Seq(
      lineKey(o, keyLine(seed, o, ln)),
      if (bad == 0) s"${q}x" else q.toString,
      if (bad == 1) "abc" else f"${q * (900 + p % 1000) / 10.0}%.2f",
      f"${pick(seed, 28, o, ln, 11) / 100.0}%.2f",
      f"${pick(seed, 29, o, ln, 9) / 100.0}%.2f",
      if (bad == 2) "Z" else "ANR".charAt(pick(seed, 15, o, ln, 3)).toString,
      status,
      if (bad == 3) "1995-13-45" else date(seed, 32, o, ln),
      if (bad == 4) "maybe" else open,
      pname,
      if (numericSupplier(seed, o, ln)) s.toString else supplierName(s),
    ).mkString(",")
  }

  def writeLineCsv(f: File, seed: Long, scale: Scale): Long = withWriter(f) { w =>
    w.write(lineHeader.mkString(",")); w.newLine()
    var o = 0L
    while (o < scale.orders) {
      var ln = 1
      val n = linesOf(seed, o)
      while (ln <= n) { w.write(lineCsv(seed, scale, o, ln)); w.newLine(); ln += 1 }
      o += 1
    }
  }

  val orderHeader: Seq[String] = Seq("order_key", "orderstatus", "totalprice", "orderdate",
    "orderpriority", "items.linenumber", "items.quantity", "items.part.p_name")

  private def quoted(s: String): String = "\"" + s + "\""

  /** One CSV record of the nested input: the order's line items become
    * comma-joined parallel lists under the repeatable `items` component.
    */
  def orderCsv(seed: Long, scale: Scale, o: Long): String = {
    val lines = 1 to linesOf(seed, o)
    Seq(orderKey(o), orderStatus(seed, o), totalPrice(seed, o), date(seed, 33, o, 0),
      orderPriority(seed, o),
      quoted(lines.mkString(",")),
      quoted(lines.map(ln => quantity(seed, o, ln)).mkString(",")),
      quoted(lines.map(ln => partName(seed, partOf(seed, o, ln, scale))).mkString(",")),
    ).mkString(",")
  }

  def writeOrderCsv(f: File, seed: Long, scale: Scale): Long = withWriter(f) { w =>
    w.write(orderHeader.mkString(",")); w.newLine()
    var o = 0L
    while (o < scale.orders) { w.write(orderCsv(seed, scale, o)); w.newLine(); o += 1 }
  }

  /** Folder-structured media archive: `image/<order key>_<i>.jpg` per media
    * file, plus entries the upload must skip or leave unbucketed.
    */
  def writeMediaZip(f: File, seed: Long, scale: Scale): Long = {
    f.getParentFile.mkdirs()
    val zos = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // fixed 1980-01-01 stamp: same seed, same bytes
      zos.putNextEntry(e)
      zos.write(name.getBytes(UTF_8)); zos.closeEntry()
    }
    try {
      put("__MACOSX/._junk"); put(".DS_Store"); put("stray.txt"); put("notes/readme.txt")
      var o = 0L
      while (o < scale.orders) {
        (1 to mediaFilesOf(seed, o, scale)).foreach(i => put(s"image/${orderKey(o)}_$i.jpg"))
        o += 1
      }
    } finally zos.close()
    f.length()
  }

  // ------------------------------------------------------------ bookkeeping
  /** Outcome of one import, derived from the generator alone. */
  final case class Expected(
      inputRows: Long, invalid: Long, created: Long, updated: Long,
      targetRows: Long, mediaRecords: Long, mediaFiles: Long, maxItems: Int) {
    def rowsAfter: Long = targetRows + created
    /** `ImportResult.errors` is capped at 1000 messages, one per bad cell */
    def errors: Long = math.min(invalid, 1000L)
  }

  def expectedUpsert(seed: Long, scale: Scale): Expected = {
    val validKeys = new java.util.HashSet[java.lang.Long]()
    var rows = 0L; var invalid = 0L; var inTargetRows = 0L
    var o = 0L
    while (o < scale.orders) {
      val n = linesOf(seed, o)
      var ln = 1
      while (ln <= n) {
        rows += 1
        if (inTarget(seed, o, ln)) inTargetRows += 1
        if (badCell(seed, o, ln) >= 0) invalid += 1
        else validKeys.add(o * 8 + keyLine(seed, o, ln))
        ln += 1
      }
      o += 1
    }
    var updated = 0L
    validKeys.forEach(k => if (inTarget(seed, k / 8, (k % 8).toInt)) updated += 1)
    val extra = (scale.orders.toLong until scale.orders.toLong + scale.extraTargetOrders)
      .map(linesOf(seed, _).toLong).sum
    Expected(rows, invalid, validKeys.size - updated, updated, inTargetRows + extra, 0, 0, 0)
  }

  def expectedNested(seed: Long, scale: Scale): Expected = {
    val os = 0L until scale.orders
    val media = os.map(mediaFilesOf(seed, _, scale))
    Expected(scale.orders, 0, scale.orders, 0, scale.nestedTargetOrders,
      media.count(_ > 0), media.sum, os.map(linesOf(seed, _)).max)
  }

  def expectedExport(seed: Long, scale: Scale): Expected = {
    val os = 0L until scale.orders
    Expected(scale.orders, 0, 0, 0, scale.orders, 0, 0, os.map(linesOf(seed, _)).max)
  }
}
