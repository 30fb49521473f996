package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded landing-batch generator for the `handler` workload.
  *
  * Writes the three sale-report shapes the reference handler receives
  * (Amazon, International, plain Sale) from rows of the sf0.1 tables, and
  * plants the reference's defect classes: an ISO-8859-1 Amazon file, NA
  * sentinels, `$`, `(…)`, `1,234.50` and `1 198.00` amounts, dirty and
  * alternative-format dates, exact duplicate rows, conflicting order ids,
  * blank rows and an embedded second header in the International file.
  *
  * Every base row carries at most one defect, so the cleaned row counts
  * follow from the planted counts alone ([[Landing.Manifest.expected]]).
  * The same seed gives the same bytes: rows are drawn by a seeded hash
  * order from the parquet tables and all choices come from one
  * `SplittableRandom(seed)`.
  */
object Landing {

  /** Row counts of the reference's Kaggle files (Amazon, International,
    * Sale), which `scale` multiplies. */
  val KaggleRows: (Int, Int, Int) = (128975, 37432, 9271)

  val AmazonFile = "Amazon Sale Report_2022-04-30_10-00-00.csv"
  val InternationalFile = "International Sale Report_2022-04-30_10-00-00.csv"
  val SaleFile = "Sale Report_2022-04-30_10-00-00.csv"

  /** What the generator planted; enough to derive the cleaned counts. */
  final case class Manifest(
      amazonBase: Int, amazonDup: Int, amazonConflict: Int,
      amazonBadAmount: Int, amazonBadDate: Int, amazonBlank: Int,
      intlPart1: Int, intlPart2: Int, intlDup: Int, intlBlank: Int,
      saleBase: Int, saleDup: Int, saleBlank: Int, bytes: Long) {

    /** Expected rows per cleaned output: D1 drops duplicates, P4 blank
      * rows, P5 rows with an unparseable amount or date, and D2 moves both
      * rows of every conflicting order id to the duplicates table. */
    def expected: Map[String, Long] = Map(
      "amazon_sale" ->
        (amazonBase - amazonConflict - amazonBadAmount - amazonBadDate).toLong,
      "amazon_sale_duplicates" -> 2L * amazonConflict,
      "sale" -> saleBase.toLong,
      "international_1" -> intlPart1.toLong,
      "international_2" -> intlPart2.toLong)
  }

  def generate(spark: SparkSession, sfDir: String, dir: File, seed: Long,
      scale: Double): Manifest = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val (na, ni, ns) = KaggleRows
    val am = amazon(spark, sfDir, seed, math.max(1, (na * scale).round.toInt),
      rnd.split(), new File(dir, AmazonFile))
    val in = international(spark, sfDir, seed,
      math.max(2, (ni * scale).round.toInt), rnd.split(),
      new File(dir, InternationalFile))
    val sa = sale(spark, sfDir, seed, math.max(1, (ns * scale).round.toInt),
      rnd.split(), new File(dir, SaleFile))
    Seq(AmazonFile, InternationalFile, SaleFile)
      .foreach(n => new File(dir, n).setLastModified(1651312800000L))
    val bytes = dir.listFiles().map(_.length).sum
    am.copy(intlPart1 = in.intlPart1, intlPart2 = in.intlPart2,
      intlDup = in.intlDup, intlBlank = in.intlBlank, saleBase = sa.saleBase,
      saleDup = sa.saleDup, saleBlank = sa.saleBlank, bytes = bytes)
  }

  private val empty = Manifest(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0L)

  /** `n` rows of `df`, chosen and ordered by a seeded hash of `keys`;
    * ties (the sf tables repeat some keys) break on every column. */
  private def sample(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      seed: Long, n: Int): Array[Row] =
    df.withColumn("__h", xxhash64((keys.map(col) :+ lit(seed)): _*))
      .orderBy((col("__h") +: df.columns.toSeq.map(col)): _*)
      .limit(n).drop("__h").collect()

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def writeCsv(file: File, charset: Charset, header: Seq[String],
      rows: Iterator[Seq[String]]): Unit = {
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(file), charset))
    try {
      w.write(header.mkString(",")); w.write("\n")
      rows.foreach { r => w.write(r.map(csvField).mkString(",")); w.write("\n") }
    } finally w.close()
  }

  private def pick[A](rnd: SplittableRandom, xs: IndexedSeq[A]): A =
    xs(rnd.nextInt(xs.size))

  private val sizes = Vector("XS", "S", "M", "L", "XL", "XXL", "3XL", "FREE")
  private val categories =
    Vector("kurta", "Set", "Western Dress", "Top", "Ethnic Dress", "Blouse")
  // non-ASCII Latin-1 letters make the UTF-8 probe fail over to ISO-8859-1
  private val cities = Vector(
    "MUMBAI" -> "MAHARASHTRA", "BENGALURU" -> "KARNATAKA",
    "NAVI MUMBAI" -> "MAHARASHTRA", "CHENNAI" -> "TAMIL NADU",
    "KOLKATA" -> "WEST BENGAL", "HYDERABAD" -> "TELANGANA",
    "GURUGRAM" -> "HARYANA", "PUNE" -> "MAHARASHTRA",
    "PUDUCHERRY" -> "PUDUCHERRY", "GUWAHATI" -> "ASSAM",
    "MARGÃO" -> "GOA", "VASCO DA GAMÁ" -> "GOA", "PONDICHÉRY" -> "PUDUCHERRY")
  private val dateFmt = java.time.format.DateTimeFormatter.ofPattern("MM-dd-yy")
  private def day(r: Row, i: Int): java.time.LocalDate = r.get(i) match {
    case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
    case t: java.time.LocalDateTime => t.toLocalDate
    case t: java.time.Instant => t.atZone(java.time.ZoneOffset.UTC).toLocalDate
  }

  private def money(v: Double): String = f"$v%.2f"

  /** The amount spellings the reference meets; all scrub to `v`. */
  private def amountText(rnd: SplittableRandom, v: Double): String = {
    val p = rnd.nextInt(100)
    if (p < 8) "$" + money(v)
    else if (p < 12) "(" + money(v) + ")"
    else if (p < 20 && v >= 1000) {
      val s = money(v); val k = s.indexOf('.') - 3
      s.substring(0, k) + "," + s.substring(k)
    } else if (p < 24 && v >= 1000) {
      val s = money(v); val k = s.indexOf('.') - 3
      s.substring(0, k) + " " + s.substring(k)
    } else money(v)
  }

  private def amazon(spark: SparkSession, sfDir: String, seed: Long, n: Int,
      rnd: SplittableRandom, file: File): Manifest = {
    val rows = sample(
      spark.read.parquet(s"$sfDir/lineitem.parquet").select("l_orderkey",
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate"),
      Seq("l_orderkey", "l_linenumber"), seed, n)
    var dup, conflict, badAmount, badDate, blank = 0
    val out = Vector.newBuilder[Seq[String]]
    rows.iterator.zipWithIndex.foreach { case (r, idx) =>
      val ok = r.getLong(0); val ln = r.getInt(1)
      val pk = r.getLong(2); val sk = r.getLong(3)
      // the row position keeps ids unique: sf keys repeat
      val orderId = f"${401 + ln}%03d-${ok % 10000000}%07d-$idx%07d"
      val size = sizes(((pk / 7) % sizes.size).toInt)
      val style = s"JNE${1000 + pk % 4000}"
      val (city, state) = cities((sk % cities.size).toInt)
      val shipped = r.getString(6) != "R"
      val amountV = math.round(r.getDouble(5) / 40.0) / 1.0 + 0.5
      val defect = rnd.nextInt(1000)
      val dateS =
        if (defect >= 40 && defect < 50) { badDate += 1; "not a date" }
        else if (defect >= 50 && defect < 60) day(r, 7).toString
        else day(r, 7).format(dateFmt)
      val amountS =
        if (defect >= 20 && defect < 30) { badAmount += 1; pick(rnd, Vector("NA", "n/a", "")) }
        else amountText(rnd, amountV)
      val status =
        if (!shipped) "Cancelled"
        else if (rnd.nextInt(20) == 0) " Shipped " else "Shipped"
      val b2b = if (defect >= 60 && defect < 70) "n/a"
        else if (pk % 11 == 0) "True" else "False"
      def row(st: String, courier: String): Seq[String] = Seq(
        idx.toString, orderId, dateS, st,
        if (ok % 3 == 0) "Amazon" else "Merchant", "Amazon.in",
        if (ok % 3 == 0) "Expedited" else "Standard", style,
        s"$style-KR-$size", categories((pk % categories.size).toInt), size,
        f"B0${(pk * 2654435761L) % 100000000L}%08d", courier,
        (1 + r.getDouble(4).toInt % 4).toString, "INR", amountS, city, state,
        s"${400000 + (sk * 97) % 99999}.0", "IN",
        if (pk % 5 == 0) "Amazon PLCC Free-Financing Universal Merchant" else "",
        b2b, if (ok % 3 == 0) "" else "Easy Ship", "")
      val base = row(status, if (shipped) "Shipped" else "Cancelled")
      out += base
      if (defect < 15) { dup += 1; out += base }
      else if (defect >= 30 && defect < 40) {
        conflict += 1
        out += row(if (shipped) "Cancelled" else "Shipped", "Unshipped")
      }
      if (rnd.nextInt(400) == 0) {
        blank += 1
        out += (idx.toString +: Seq.fill(23)(""))
      }
    }
    writeCsv(file, StandardCharsets.ISO_8859_1, Seq("index", "Order ID",
      "Date", "Status", "Fulfilment", "Sales Channel", "ship-service-level",
      "Style", "SKU", "Category", "Size", "ASIN", "Courier Status", "Qty",
      "currency", "Amount", "ship-city", "ship-state", "ship-postal-code",
      "ship-country", "promotion-ids", "B2B", "fulfilled-by", "Unnamed: 22"),
      out.result().iterator)
    empty.copy(amazonBase = rows.length, amazonDup = dup,
      amazonConflict = conflict, amazonBadAmount = badAmount,
      amazonBadDate = badDate, amazonBlank = blank)
  }

  private val intlHeader = Seq("DATE", "Months", "CUSTOMER", "Style", "SKU",
    "Size", "PCS", "RATE", "GROSS AMT")

  private def international(spark: SparkSession, sfDir: String, seed: Long,
      n: Int, rnd: SplittableRandom, file: File): Manifest = {
    val customers = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name")
    val rows = sample(
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .join(broadcast(customers), col("o_custkey") === col("c_custkey"))
        .drop("c_custkey"),
      Seq("o_orderkey"), seed, n)
    // the second header lands between 40 % and 60 % of the base rows
    val split = (n * 0.4).toInt + rnd.nextInt(math.max(1, (n * 0.2).toInt))
    val monthFmt = java.time.format.DateTimeFormatter.ofPattern("MMM-yy",
      java.util.Locale.ENGLISH)
    var dup, blank = 0
    var idx = 0
    val out = Vector.newBuilder[Seq[String]]
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      if (i == split) { out += (idx.toString +: intlHeader); idx += 1 }
      val ok = r.getLong(0)
      val d = day(r, 3)
      val pcs = 1 + (ok % 5).toInt
      val rate = math.round(r.getDouble(2) / 3.0) / 100.0 + 0.25
      val style = s"MEN${5000 + ok % 900}"
      val size = sizes((ok % sizes.size).toInt)
      val row = Seq(idx.toString, d.format(dateFmt),
        if (rnd.nextInt(10) == 0) d.getMonth.toString.take(3).toLowerCase
        else d.format(monthFmt),
        r.getString(4).toUpperCase.replace('#', ' '), style,
        s"$style-KR-$size", size, pcs.toString,
        if (rnd.nextInt(20) == 0) "$" + money(rate) else money(rate),
        amountText(rnd, pcs * rate))
      out += row
      if (rnd.nextInt(100) == 0) { dup += 1; out += row }
      idx += 1
      if (rnd.nextInt(400) == 0) {
        blank += 1
        out += (idx.toString +: Seq.fill(intlHeader.size)(""))
        idx += 1
      }
    }
    writeCsv(file, StandardCharsets.UTF_8, "index" +: intlHeader,
      out.result().iterator)
    empty.copy(intlPart1 = math.min(split, n), intlPart2 = n - math.min(split, n),
      intlDup = dup, intlBlank = blank)
  }

  private def sale(spark: SparkSession, sfDir: String, seed: Long, n: Int,
      rnd: SplittableRandom, file: File): Manifest = {
    val rows = sample(spark.read.parquet(s"$sfDir/part.parquet")
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
      Seq("p_partkey"), seed, n)
    var dup, blank = 0
    val out = Vector.newBuilder[Seq[String]]
    rows.iterator.zipWithIndex.foreach { case (r, idx) =>
      val pk = r.getLong(0)
      val code = s"${r.getString(2).takeRight(2).map(c => ('A' + c % 26).toChar)}$pk"
      val color = r.getString(1).split(' ').head.capitalize
      val size = sizes((pk % sizes.size).toInt)
      val sku = s"$code-${color.toUpperCase}-$size"
      val row = Seq(idx.toString,
        if (rnd.nextInt(50) == 0) s" $sku " else sku, code,
        if (rnd.nextInt(50) == 0) "NA" else s"${r.getInt(4) % 20}.0",
        s"${code.take(2)} : ${r.getString(3).split(' ').last}", size, color)
      out += row
      if (rnd.nextInt(100) == 0) { dup += 1; out += row }
      if (rnd.nextInt(400) == 0) {
        blank += 1
        out += (idx.toString +: Seq.fill(6)(""))
      }
    }
    writeCsv(file, StandardCharsets.UTF_8, Seq("index", "SKU Code",
      "Design No.", "Stock", "Category", "Size", "Color"),
      out.result().iterator)
    empty.copy(saleBase = rows.length, saleDup = dup, saleBlank = blank)
  }
}
