package graft.functions

import java.io.ByteArrayOutputStream
import java.lang.{Boolean => JBool, Long => JLong}
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One function `out` of a media payload in `container` — e.g.
  * ("bmp", "pixels"), ("rle8", "is"), ("any", "features") — or, for the
  * encoders, of (pixels, w, h) / (samples, rate), as one native
  * expression; `k` is the pooling cell count or the downsample factor.
  * Interpreted and generated code call the same static
  * [[MediaCodec.eval]], so both paths are bit-identical and the
  * enclosing projection stays in whole-stage codegen. Not
  * null-intolerant: some functions of a NULL payload are non-NULL (an
  * empty pixel array, an exposure keep), and [[MediaCodec.eval]] owns
  * that table too.
  */
case class MediaFn(container: String, out: String, k: Int,
    children: Seq[Expression]) extends Expression {
  override def nullable: Boolean = true
  override def dataType: DataType = MediaCodec.dataType(out)

  override def eval(input: InternalRow): Any = MediaCodec.eval(container,
    out, k, children.map(_.eval(input).asInstanceOf[AnyRef]).toArray)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    def boxed(t: DataType) = CodeGenerator.boxedType(t)
    val cs = children.map(_.genCode(ctx))
    val args = children.zip(cs).map { case (c, g) =>
      s"${g.isNull} ? null : (Object) " +
        (if (CodeGenerator.isPrimitiveType(c.dataType))
          s"${boxed(c.dataType)}.valueOf(${g.value})" else g.value)
    }
    val res = ctx.freshName("media")
    val jt = CodeGenerator.javaType(dataType)
    val value = if (CodeGenerator.isPrimitiveType(dataType))
      s"((${boxed(dataType)}) $res).${jt}Value()" else s"($jt) $res"
    ev.copy(code = code"""
      ${cs.map(_.code.toString).mkString("\n")}
      Object $res = graft.functions.MediaCodec.eval("$container", "$out",
        $k, new Object[] {${args.mkString(", ")}});
      boolean ${ev.isNull} = $res == null;
      $jt ${ev.value} = ${ev.isNull}
        ? ${CodeGenerator.defaultValue(dataType)} : $value;""")
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): MediaFn = copy(children = c)
}

/** The media codec core behind `graft.ext`'s Wav/Bmp/Ppm/Pgm/Rle8Codec
  * and Multimodal: one total decoder per container (None for any byte
  * string its encoder could not have written — that verdict IS the
  * container's validator), one encoder per container, the container
  * dispatch, and the block features, k-cell pooling and exposure gate
  * written once over luminance runs (R+G+B of decoded pixels, |sample|,
  * or raw bytes for opaque payloads). Header scalars are unsigned
  * little-endian; encoders take w·h pixels 0..0xFFFFFF (grays 0..255).
  */
object MediaCodec {

  /** The Column of `MediaFn(container, out, k, args)`; a payload
    * argument is read as binary (a string payload as its UTF-8 bytes). */
  def apply(container: String, out: String, k: Int, args: Column*): Column =
    Bridge.toCol(MediaFn(container, out, k, (if (out.startsWith("encode"))
      args else args.head.cast(BinaryType) +: args.tail).map(Bridge.toExpr)))

  def dataType(out: String): DataType = out match {
    case "is" | "exposure" => BooleanType
    case "width" | "height" | "numPixels" | "rate" | "numSamples" |
        "phash" => LongType
    case "pixels" | "samples" => ArrayType(IntegerType)
    case "features" | "pooled" => ArrayType(DoubleType)
    case "format" => StringType
    case "encode" | "encodeMode2" | "downsample" => BinaryType
  }

  /** A decoded payload; samples and pixel runs decode on first use, so
    * a validator or a header read never builds them. */
  sealed abstract class Media
  final class Audio(val rate: Long, val n: Long, read: => Array[Int])
      extends Media { lazy val samples: Array[Int] = read }
  final class Image(val format: String, val w: Long, val h: Long,
      paint: => Runs) extends Media { lazy val runs: Runs = paint }
  case object Opaque extends Media

  /** Values over [0, n): `v(i)` on [at(i), at(i) + len(i)) — ascending
    * and disjoint — and `bg` everywhere else. An RLE8 image stays its
    * runs, so only `pixels` materializes its canvas. */
  final case class Runs(n: Long, bg: Int, at: Array[Long],
      len: Array[Long], v: Array[Int]) {
    def map(f: Int => Int): Runs = copy(bg = f(bg), v = v.map(f))
    def count(p: Int => Boolean): Long = (if (p(bg)) n - len.sum else 0L) +
      v.indices.collect { case i if p(v(i)) => len(i) }.sum
    def dense: Array[Int] = {
      val a = Array.fill(Math.toIntExact(n))(bg)
      for (i <- v.indices; j <- 0L until len(i)) a((at(i) + j).toInt) = v(i)
      a
    }
  }
  private def dense(v: Array[Int]) = Runs(v.length, 0,
    Array.tabulate(v.length)(_.toLong), Array.fill(v.length)(1L), v)

  private def u8(b: Array[Byte], i: Long): Int = b(i.toInt) & 0xff
  private def le(b: Array[Byte], off: Int, n: Int): Long =
    (0 until n).foldLeft(0L)((a, i) => a | u8(b, off + i).toLong << 8 * i)
  private def has(b: Array[Byte], off: Int, hex: String): Boolean =
    (0 until hex.length / 2).forall(i =>
      u8(b, off + i) == Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16))
  private def rgb(r: Int, g: Int, bl: Int): Int = r << 16 | g << 8 | bl
  private def raster(format: String, w: Long, h: Long)(px: Int => Int) =
    Some(new Image(format, w, h, dense(Array.tabulate(
      Math.toIntExact(Math.multiplyExact(w, h)))(px))))

  /** WAV: the canonical mono 16-bit PCM header with the whole data
    * chunk present (trailing bytes are allowed). */
  private def wav(b: Array[Byte]): Option[Audio] = {
    val n = if (b.length < 44) 0L else le(b, 40, 4) / 2
    if (b.length < 44 + 2 * n || !has(b, 0, "52494646") ||
        !has(b, 8, "57415645666D7420") || !has(b, 20, "01000100") ||
        !has(b, 32, "02001000") || !has(b, 36, "64617461")) None
    else Some(new Audio(le(b, 24, 4), n, Array.tabulate(n.toInt)(i =>
      le(b, 44 + 2 * i, 2).toShort.toInt)))
  }

  /** 24-bit BMP: length exactly 54 + stride·h. */
  private def bmp(b: Array[Byte]): Option[Image] =
    if (b.length < 54 || !has(b, 0, "424D") ||
        !has(b, 10, "3600000028000000") ||
        !has(b, 26, "0100180000000000")) None
    else {
      val (w, h) = (le(b, 18, 4), le(b, 22, 4))
      val stride = w * 3 + (4 - w * 3 % 4) % 4
      if (b.length != 54 + Math.multiplyExact(stride, h)) None
      else raster("bmp", w, h) { i =>
        val off = 54 + (h - 1 - i / w) * stride + i % w * 3
        rgb(u8(b, off + 2), u8(b, off + 1), u8(b, off))
      }
    }

  /** Netpbm with the fixed 19-byte header: P6 (`bpp` 3) or P5 (1),
    * length exactly 19 + bpp·w·h. */
  private def netpbm(b: Array[Byte], magic: String, bpp: Int,
      format: String): Option[Image] = {
    def digits(off: Int) = (off until off + 5).forall(i =>
      b(i) >= '0' && b(i) <= '9')
    if (b.length < 19 || !has(b, 0, magic) || !digits(3) || b(8) != ' ' ||
        !digits(9) || b(14) != '\n' || !has(b, 15, "3235350A")) None
    else {
      val w = new String(b, 3, 5, "US-ASCII").toLong
      val h = new String(b, 9, 5, "US-ASCII").toLong
      if (b.length != 19 + w * h * bpp) None
      else raster(format, w, h) { i =>
        if (bpp == 3) rgb(u8(b, 19 + 3 * i), u8(b, 20 + 3 * i),
          u8(b, 21 + 3 * i))
        else { val g = u8(b, 19 + i); rgb(g, g, g) }
      }
    }
  }

  /** BI_RLE8: header, length 1078 + even imageSize, a sound stream. */
  private def rle8(b: Array[Byte]): Option[Image] =
    if (b.length < 1080 || !has(b, 0, "424D") ||
        !has(b, 10, "3604000028000000") ||
        !has(b, 26, "0100080001000000") || !has(b, 46, "00010000")) None
    else {
      val (w, h, isz) = (le(b, 18, 4), le(b, 22, 4), le(b, 34, 4))
      if (b.length != 1078 + isz || isz % 2 != 0 ||
          !rle8Walk(b, w, h, null)) None
      else Some(new Image("rle8", w, h, {
        val pal = (v: Int) =>
          rgb(u8(b, 56 + 4 * v), u8(b, 55 + 4 * v), u8(b, 54 + 4 * v))
        val rs = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
        rle8Walk(b, w, h, (s, x, n, v) =>
          rs += (((h - 1 - s) * w + x, n.toLong, pal(v))))
        val sorted = rs.sortBy(_._1)
        Runs(Math.multiplyExact(w, h), pal(0), sorted.map(_._1).toArray,
          sorted.map(_._2).toArray, sorted.map(_._3).toArray)
      }))
    }

  /** The BI_RLE8 command walk: true iff the stream is sound — runs and
    * absolute blocks fit their row, deltas land inside the bitmap,
    * absolute data and delta arguments fit the stream, one EOB is the
    * final command — calling `put(storedRow, column, count, index)` for
    * every run written when `put` is non-null. */
  private def rle8Walk(b: Array[Byte], w: Long, h: Long,
      put: (Long, Long, Int, Int) => Unit): Boolean = {
    val end = b.length
    var (p, s, x) = (1078, 0L, 0L)
    while (p < end - 1) {
      val (cnt, v) = (u8(b, p), u8(b, p + 1))
      if (cnt > 0) {                                  // encoded run
        if (x + cnt > w || s >= h) return false
        if (put != null) put(s, x, cnt, v)
        x += cnt; p += 2
      } else if (v == 0) {                            // end of line
        if (s >= h) return false
        s += 1; x = 0; p += 2
      } else if (v == 1) return p == end - 2          // end of bitmap
      else if (v == 2) {                              // delta
        if (p + 3 > end - 1) return false
        val (dx, dy) = (u8(b, p + 2), u8(b, p + 3))
        if (x + dx > w || s + dy >= h) return false
        s += dy; x += dx; p += 4
      } else {                                        // absolute run
        if (s >= h || x + v > w || p + 1 + v + v % 2 > end - 1) return false
        if (put != null)
          (0 until v).foreach(i => put(s, x + i, 1, u8(b, p + 2 + i)))
        x += v; p += 2 + v + v % 2
      }
    }
    false
  }

  /** The containers in dispatch order — the ONE place that order lives
    * (they are disjoint, so it only fixes which check runs first). */
  private val containers: Seq[(String, Array[Byte] => Option[Media])] = Seq(
    "wav" -> (wav _), "bmp" -> (bmp _),
    "ppm" -> (netpbm(_, "50360A", 3, "ppm")),
    "pgm" -> (netpbm(_, "50350A", 1, "pgm")), "rle8" -> (rle8 _))
  private val decoders = containers.toMap

  /** The container a payload decodes as, else [[Opaque]]. */
  private def sniff(b: Array[Byte]): Media = containers.iterator
    .flatMap(_._2(b)).nextOption().getOrElse(Opaque)

  /** Shared by interpreted eval and generated code: Catalyst values in
    * (null for NULL), the Catalyst value of `out` back. */
  def eval(container: String, out: String, k: Int,
      args: Array[AnyRef]): AnyRef = {
    val b = args(0) match { case b: Array[Byte] => b; case _ => null }
    if (out.startsWith("encode")) {
      if (args.contains(null)) null else encode(container, out, args)
    } else if (b == null) ofNull(container, out, k)
    else container match {
      case "any" => project(out, sniff(b), b, k)
      case "raw" => project(out, Opaque, b, k)
      case c => decoders(c)(b).fold[AnyRef](
        if (out == "is") JBool.FALSE else null)(project(out, _, b, k))
    }
  }

  /** What each function has always returned for a NULL payload. */
  private def ofNull(container: String, out: String, k: Int): AnyRef = {
    val none = dense(Array.emptyIntArray)
    (container, out) match {
      case (_, "pixels" | "samples") => ArrayData.toArrayData(Array[Int]())
      case ("rle8", _) => null
      case ("any" | "raw", "features") => cells(none, 4, 1.0, null)
      case (_, "features") => cells(none, 4, 1.0, 0.0)
      case (_, "pooled") => cells(none, k, 1.0, null)
      case (_, "exposure") => JBool.TRUE
      case (_, "format") => UTF8String.fromString("opaque")
      case (_, "phash") => JLong.valueOf(0L)
      case _ => null
    }
  }

  private def project(out: String, m: Media, b: Array[Byte],
      k: Int): AnyRef = (out, m) match {
    case ("is", _) => JBool.TRUE
    case ("width", i: Image) => JLong.valueOf(i.w)
    case ("height", i: Image) => JLong.valueOf(i.h)
    case ("numPixels", i: Image) => JLong.valueOf(Math.multiplyExact(i.w, i.h))
    case ("pixels", i: Image) => ArrayData.toArrayData(i.runs.dense)
    case ("features", i: Image) => cells(i.runs.map(lum), 4, 765.0, 0.0)
    case ("pooled", i: Image) => cells(i.runs.map(lum), k, 3.0, null)
    case ("exposure", i: Image) =>
      val l = i.runs.map(lum)
      JBool.valueOf(l.count(_ < 192) * 2 <= l.n && l.count(_ >= 576) * 2 <= l.n)
    case ("format", i: Image) => UTF8String.fromString(i.format)
    case ("rate", a: Audio) => JLong.valueOf(a.rate)
    case ("numSamples", a: Audio) => JLong.valueOf(a.n)
    case ("samples", a: Audio) => ArrayData.toArrayData(a.samples)
    case ("features", a: Audio) =>
      cells(dense(a.samples.map(math.abs)), 4, 32768.0, 0.0)
    case ("downsample", a: Audio) =>
      val rate = (a.rate.toDouble / k).toLong
      if (rate > Int.MaxValue / 2) throw new ArithmeticException(
        s"downsample: rate $rate overflows the header")
      wavBytes(a.samples.indices.collect { case i if i % k == 0 =>
        a.samples(i) }, rate)
    case ("features", Opaque) =>
      new GenericArrayData(md5Features(b).map(d => d: Any))
    case ("pooled", _) => cells(dense(b.map(_ & 0xff)), k, 1.0, null)
    case ("exposure", _) => JBool.TRUE
    case ("format", _) => UTF8String.fromString("opaque")
    case ("phash", _) => JLong.valueOf(if (b.isEmpty) 0L else {
      val thr = round(b.map(_ & 0xffL).sum.toDouble / b.length)
      val pooled = cells(dense(b.map(_ & 0xff)), k, 1.0, null)
      (0 until k).map(j => if (!pooled.isNullAt(j) &&
        pooled.getDouble(j) >= thr) math.pow(2.0, k - 1 - j).toLong else 0L).sum
    })
    case _ => throw new IllegalArgumentException(s"no $out for $m")
  }

  /** 4 pseudo-features of an opaque payload: md5 word i (unsigned
    * big-endian) / 2^32, 6 dp. */
  def md5Features(b: Array[Byte]): Array[Double] = {
    val d = MessageDigest.getInstance("MD5").digest(b)
    Array.tabulate(4)(i => round((0 until 4).foldLeft(0L)((a, t) =>
      a << 8 | u8(d, 4 * i + t)) / 4294967296.0))
  }

  private def lum(p: Int): Int = (p >> 16 & 0xff) + (p >> 8 & 0xff) + (p & 0xff)

  /** Decimal places of every feature and cell mean (the fixed-point
    * scale `graft.ext.Multimodal.pooledRoundDp` and the oracles use). */
  val roundDp = 6

  /** Spark's `round(d, roundDp)`: HALF_UP on the shortest decimal of d. */
  private def round(d: Double): Double = java.math.BigDecimal.valueOf(d)
    .setScale(roundDp, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `k` cell means of `r`: cell j covers [⌊j·n/k⌋, ⌊(j+1)·n/k⌋), its
    * exact integer sum / (`scale`·length), [[roundDp]] places; an empty
    * cell is `empty`.
    * The 4 block features (scale 765 for luminance, 32768 for |sample|,
    * empty 0.0), image pooling (scale 3) and byte-grid pooling (1). */
  private def cells(r: Runs, k: Int, scale: Double,
      empty: java.lang.Double): ArrayData = {
    var i = 0
    new GenericArrayData(Array.tabulate[Any](k) { j =>
      val s = math.floor((j * r.n).toDouble / k).toLong
      val e = math.floor(((j + 1) * r.n).toDouble / k).toLong
      while (i < r.at.length && r.at(i) + r.len(i) <= s) i += 1
      var (t, sum) = (i, r.bg.toLong * (e - s))
      while (t < r.at.length && r.at(t) < e) {
        sum += (math.min(e, r.at(t) + r.len(t)) - math.max(s, r.at(t))) *
          (r.v(t) - r.bg)
        t += 1
      }
      if (e > s) round(sum.toDouble / ((e - s).toDouble * scale)) else empty
    })
  }

  private def encode(container: String, out: String,
      args: Array[AnyRef]): Array[Byte] = {
    val a = args(0).asInstanceOf[ArrayData]
    if (container == "wav")
      return wavBytes(a.toIntArray().toSeq, args(1).asInstanceOf[Long])
    val (w, h) = (args(1).asInstanceOf[Long], args(2).asInstanceOf[Long])
    val n = if (w > 0 && h > 0) Math.toIntExact(Math.multiplyExact(w, h)) else 0
    if (a.numElements() < n) throw new IllegalArgumentException(
      s"$container encode: ${a.numElements()} pixels for a ${w}x$h image")
    val o = new ByteArrayOutputStream()
    val px = (r: Long, x: Long) => a.getInt((r * w + x).toInt)
    container match {
      case "bmp" =>
        val pad = ((4 - w * 3 % 4) % 4).toInt
        header(o, w, h, 54, 24, 0, (w * 3 + pad) * h, 0)
        for (s <- 0L until h if w > 0; x <- 0L to w)
          if (x == w) o.write(new Array[Byte](pad))
          else { val p = px(h - 1 - s, x); o.write(p); o.write(p >> 8)
            o.write(p >> 16) }
      case "ppm" | "pgm" =>
        if (w < 0 || w > 99999 || h < 0 || h > 99999)
          throw new IllegalArgumentException(s"encode${container.capitalize}" +
            s": dimensions outside the 5-digit header bound: w=$w h=$h")
        val ppm = container == "ppm"
        o.write(f"P${if (ppm) 6 else 5}\n$w%05d $h%05d\n255\n".getBytes)
        (0 until n).map(a.getInt).foreach { p =>
          if (ppm) { o.write(p >> 16); o.write(p >> 8) }
          o.write(p)
        }
      case "rle8" =>
        val body = new ByteArrayOutputStream()
        def runs(r: Long, from: Long, to: Long): Unit = {
          var x = from
          while (x < to) {
            var n = 1
            while (x + n < to && n < 255 && px(r, x + n) == px(r, x)) n += 1
            body.write(n); body.write(px(r, x)); x += n
          }
        }
        if (out == "encode") (0L until h).foreach { s =>
          if (w > 0) runs(h - 1 - s, 0, w)
          body.write(Array[Byte](0, 0))
        } else {
          if (w < 7 || h < 2) throw new IllegalArgumentException(
            s"encodeRle8Mode2 needs w >= 7 and h >= 2, got ${w}x$h")
          body.write(Array[Byte](0, 2, 0, 1))
          (1L until h).map(h - 1 - _).foreach { r =>
            body.write(Array[Byte](0, 3, px(r, 0).toByte, px(r, 1).toByte,
              px(r, 2).toByte, 0, 0, 2, 2, 0))
            runs(r, 5, w - 1)
            body.write(Array[Byte](0, 0))
          }
        }
        body.write(Array[Byte](0, 1))
        header(o, w, h, 1078, 8, 1, body.size, 256)
        (0 until 256).foreach(i => o.write(Array[Byte](i.toByte, i.toByte,
          i.toByte, 0)))
        body.writeTo(o)
    }
    o.toByteArray
  }

  /** The 54-byte BMP file + info header. */
  private def header(o: ByteArrayOutputStream, w: Long, h: Long,
      dataOff: Long, bpp: Long, compression: Long, imageSize: Long,
      colors: Long): Unit = {
    o.write("BM".getBytes)
    Seq(imageSize + dataOff -> 4, 0L -> 4, dataOff -> 4, 40L -> 4, w -> 4,
      h -> 4, 1L -> 2, bpp -> 2, compression -> 4, imageSize -> 4,
      2835L -> 4, 2835L -> 4, colors -> 4, 0L -> 4)
      .foreach { case (v, n) => putLe(o, v, n) }
  }

  private def putLe(o: ByteArrayOutputStream, v: Long, n: Int): Unit =
    (0 until n).foreach(i => o.write((v >> (8 * i)).toInt))

  private def wavBytes(samples: Seq[Int], rate: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write("RIFF".getBytes); putLe(o, 36L + 2 * samples.size, 4)
    o.write("WAVEfmt ".getBytes)
    Seq(16L -> 4, 1L -> 2, 1L -> 2, rate -> 4, rate * 2 -> 4, 2L -> 2,
      16L -> 2).foreach { case (v, n) => putLe(o, v, n) }
    o.write("data".getBytes); putLe(o, 2L * samples.size, 4)
    samples.foreach(s => putLe(o, s.toLong, 2))
    o.toByteArray
  }
}
