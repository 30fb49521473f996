// Old-vs-new differential of the media codec functions, kept as the
// record of how plans/r18/differential.txt was produced. It is not part
// of the build: to rerun it, copy the parent commit's ext/{Bmp,Rle8,Ppm,
// Pgm,Wav}Codec.scala and ext/Multimodal.scala into src/main/scala/
// graft/oldext/ under `package graft.oldext` (adding
// `import graft.ext.TextDedup` to Multimodal and `private[oldext]` to
// WavCodec's helpers), put this file in src/main/scala/graft/, and run
//   sbt "runMain graft.Differential <summary-file>"

package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Old (graft.oldext, HOF chains) vs new (graft.ext over MediaCodec)
  * differential over every public codec / Multimodal function, comparing
  * raw double bits and binary bytes. */
object Differential {
  val rnd = new scala.util.Random(18)

  def canon(x: Any): String = x match {
    case null => "N"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte] => "x" + b.map(v => f"${v & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case o => o.getClass.getSimpleName + ":" + o.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = Session(4)
    import spark.implicits._
    val out = new java.io.PrintWriter(new java.io.FileWriter(args(0)))
    def log(s: String): Unit = { println(s); out.println(s); out.flush() }
    var total = 0L; var diverged = 0L; var checks = 0

    def compare(name: String, df: DataFrame, oldC: Column, newC: Column): Unit = {
      val t0 = System.nanoTime()
      val rows = try {
        Right(df.select(col("id"), oldC.as("o"), newC.as("n")).collect())
      } catch { case e: Throwable => Left(e) }
      rows match {
        case Left(e) =>
          // per-row fallback to classify errors
          val ids = df.select("id").as[Long].collect()
          var bad = 0
          ids.foreach { id =>
            val one = df.filter(col("id") === id)
            def ev(c: Column) = try canon(one.select(c).head().get(0))
              catch { case _: Throwable => "ERROR" }
            val (o, n) = (ev(oldC), ev(newC))
            total += 1
            if (o != n) { bad += 1; diverged += 1
              if (bad <= 5) log(s"  DIVERGE $name id=$id old=${o.take(200)} new=${n.take(200)}") }
          }
          checks += 1
          log(f"$name%-40s rows=${ids.length}%6d diverged=$bad (per-row, job error: ${e.getClass.getSimpleName})")
        case Right(rs) =>
          var bad = 0
          rs.foreach { r =>
            val (o, n) = (canon(r.get(1)), canon(r.get(2)))
            total += 1
            if (o != n) { bad += 1; diverged += 1
              if (bad <= 5) log(s"  DIVERGE $name id=${r.get(0)} old=${o.take(300)} new=${n.take(300)}") }
          }
          checks += 1
          log(f"$name%-40s rows=${rs.length}%6d diverged=$bad%d  ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
    }

    // ---------- encoder cases ----------
    def randPx(n: Int) = List.fill(n)(rnd.nextInt(0x1000000))
    def runRow(w: Int): List[Int] = {
      val b = List.newBuilder[Int]; var left = w
      while (left > 0) {
        val len = math.min(left, rnd.nextInt(4) match {
          case 0 => 1 + rnd.nextInt(3); case 1 => 1 + rnd.nextInt(20)
          case 2 => 250 + rnd.nextInt(12); case _ => 255 + rnd.nextInt(300) })
        val v = rnd.nextInt(256); b ++= List.fill(len)(v); left -= len
      }
      b.result()
    }
    val imgDims = (for (w <- 0 to 9; h <- 0 to 4) yield (w, h)) ++
      Seq.fill(40)((rnd.nextInt(20), rnd.nextInt(12)))
    val imgCases = imgDims.zipWithIndex.map { case ((w, h), i) =>
      (i.toLong, w, h, randPx(w * h), List.fill(w * h)(rnd.nextInt(256)))
    }.toDF("id", "w", "h", "px", "gs")
    val rleDims = Seq((0, 0), (0, 3), (5, 0), (1, 1), (300, 1), (255, 2),
      (256, 2), (510, 1), (511, 2), (600, 3)) ++
      Seq.fill(50)((1 + rnd.nextInt(40), 1 + rnd.nextInt(8))) ++
      Seq.fill(10)((200 + rnd.nextInt(400), 1 + rnd.nextInt(3)))
    val rleCases = rleDims.zipWithIndex.map { case ((w, h), i) =>
      val gs = if (i % 3 == 0) List.fill(w * h)(rnd.nextInt(256))
        else (0 until h).toList.flatMap(_ => runRow(w))
      (i.toLong, w, h, gs)
    }.toDF("id", "w", "h", "gs")
    val m2Dims = Seq((7, 2), (8, 3), (300, 2), (600, 2)) ++
      Seq.fill(30)((7 + rnd.nextInt(40), 2 + rnd.nextInt(6)))
    val m2Cases = m2Dims.zipWithIndex.map { case ((w, h), i) =>
      val gs = if (i % 2 == 0) List.fill(w * h)(rnd.nextInt(256))
        else (0 until h).toList.flatMap(_ => runRow(w))
      (i.toLong, w, h, gs)
    }.toDF("id", "w", "h", "gs")
    val wavLens = Seq(0, 1, 2, 3, 4, 5, 7, 8) ++ Seq.fill(40)(rnd.nextInt(300))
    val wavCases = wavLens.zipWithIndex.map { case (n, i) =>
      val ss = List.fill(n)(rnd.nextInt(8) match {
        case 0 => -32768; case 1 => 32767; case 2 => 40000 - rnd.nextInt(80000) * 2
        case _ => rnd.nextInt(65536) - 32768 })
      (i.toLong, ss, 8000 + rnd.nextInt(40000))
    }.toDF("id", "ss", "rate")

    import graft.{ext => N, oldext => O}
    val w = col("w"); val h = col("h")
    compare("encodeBmp", imgCases, O.BmpCodec.encodeBmp(col("px"), w, h), N.BmpCodec.encodeBmp(col("px"), w, h))
    compare("encodePpm", imgCases, O.PpmCodec.encodePpm(col("px"), w, h), N.PpmCodec.encodePpm(col("px"), w, h))
    compare("encodePgm", imgCases, O.PgmCodec.encodePgm(col("gs"), w, h), N.PgmCodec.encodePgm(col("gs"), w, h))
    compare("encodeRle8", rleCases, O.Rle8Codec.encodeRle8(col("gs"), w, h), N.Rle8Codec.encodeRle8(col("gs"), w, h))
    compare("encodeRle8Mode2", m2Cases, O.Rle8Codec.encodeRle8Mode2(col("gs"), w, h), N.Rle8Codec.encodeRle8Mode2(col("gs"), w, h))
    compare("encodeWav", wavCases, O.WavCodec.encodeWav(col("ss"), col("rate")), N.WavCodec.encodeWav(col("ss"), col("rate")))
    // NULL pixel / sample arrays and NULL dims
    val nullEnc = Seq((1L, Option.empty[Seq[Int]], Option(2), Option(2)),
      (2L, Some(Seq(1, 2, 3, 4)), None, Option(2)), (3L, Some(Seq(1, 2, 3, 4)), Option(2), None))
      .toDF("id", "px", "w", "h")
    val f0 = diverged
    compare("FIXED encodeBmp(NULL pixel array)", nullEnc.filter(col("px").isNull), O.BmpCodec.encodeBmp(col("px"), w, h), N.BmpCodec.encodeBmp(col("px"), w, h))
    val np = nullEnc.filter(col("px").isNull)
    compare("FIXED encodePpm(NULL pixel array)", np, O.PpmCodec.encodePpm(col("px"), w, h), N.PpmCodec.encodePpm(col("px"), w, h))
    compare("FIXED encodePgm(NULL pixel array)", np, O.PgmCodec.encodePgm(col("px"), w, h), N.PgmCodec.encodePgm(col("px"), w, h))
    compare("FIXED encodeRle8(NULL pixel array)", np, O.Rle8Codec.encodeRle8(col("px"), w, h), N.Rle8Codec.encodeRle8(col("px"), w, h))
    val fixedEnc = diverged - f0
    diverged = f0
    compare("encodeBmp(NULL dims)", nullEnc.filter(col("px").isNotNull), O.BmpCodec.encodeBmp(col("px"), w, h), N.BmpCodec.encodeBmp(col("px"), w, h))
    compare("encodeWav(NULL args)", Seq((1L, Option.empty[Seq[Int]], Option(8000)), (2L, Some(Seq(1)), None))
      .toDF("id", "ss", "rate"), O.WavCodec.encodeWav(col("ss"), col("rate")), N.WavCodec.encodeWav(col("ss"), col("rate")))

    // ---------- payload corpus (old encoders) ----------
    def bytesOf(df: DataFrame, c: Column): Seq[Array[Byte]] =
      df.select(c).collect().map(_.getAs[Array[Byte]](0)).toSeq
    val bmps = bytesOf(imgCases, O.BmpCodec.encodeBmp(col("px"), w, h))
    val ppms = bytesOf(imgCases, O.PpmCodec.encodePpm(col("px"), w, h))
    val pgms = bytesOf(imgCases, O.PgmCodec.encodePgm(col("gs"), w, h))
    val rles = bytesOf(rleCases, O.Rle8Codec.encodeRle8(col("gs"), w, h))
    val m2s = bytesOf(m2Cases, O.Rle8Codec.encodeRle8Mode2(col("gs"), w, h))
    val wavs = bytesOf(wavCases, O.WavCodec.encodeWav(col("ss"), col("rate")))
    val valid = Seq("bmp" -> bmps, "ppm" -> ppms, "pgm" -> pgms, "rle8" -> rles,
      "rle8m2" -> m2s, "wav" -> wavs)

    val corpus = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    def flip(p: Array[Byte], i: Int, v: Int): Array[Byte] = { val c = p.clone(); c(i) = v.toByte; c }
    valid.foreach { case (kind, ps) =>
      ps.foreach(p => corpus += (kind -> p))
      val hdr = kind match { case "wav" => 44; case "ppm" | "pgm" => 19; case "bmp" => 54; case _ => 1078 }
      ps.zipWithIndex.foreach { case (p, i) =>
        // truncations
        Seq(1, 2, 3, p.length / 2, p.length - hdr, p.length - hdr + 1).filter(d => d > 0 && d <= p.length)
          .distinct.foreach(d => corpus += (s"$kind.trunc" -> p.dropRight(d)))
        // single-byte header flips: every header byte for the first 3, 6 random for the rest
        val offs = if (i < 3) (0 until math.min(hdr, 60)) ++ (if (hdr == 1078) Seq(54, 55, 56, 57, 1000) else Nil)
          else Seq.fill(if (hdr == 1078) 2 else 6)(rnd.nextInt(math.min(hdr, p.length)))
        offs.filter(_ < p.length).foreach { o =>
          corpus += (s"$kind.hflip" -> flip(p, o, p(o) ^ (1 << rnd.nextInt(8))))
          if (i < 3) corpus += (s"$kind.hflip" -> flip(p, o, rnd.nextInt(256)))
        }
        // command-stream flips
        if (kind.startsWith("rle8") && i < 6) {
          rnd.shuffle((1078 until p.length).toList).take(120).foreach { o =>
            corpus += (s"$kind.cflip" -> flip(p, o, Seq(0, 1, 2, 3, 255, p(o) ^ 1, rnd.nextInt(256))(rnd.nextInt(7))))
          }
        }
        // body flips for raw containers (still valid)
        if (!kind.startsWith("rle8") && p.length > hdr)
          corpus += (s"$kind.bflip" -> flip(p, hdr + rnd.nextInt(p.length - hdr), rnd.nextInt(256)))
      }
    }
    // WAV data-size field rewrites: shorter claims (valid) and longer claims (truncated data)
    wavs.take(20).foreach { p =>
      val n = (p.length - 44) / 2
      Seq(0, n / 2, n - 1, n + 1, n + 50).filter(_ >= 0).foreach { m =>
        val c = p.clone(); val ds = 2 * m
        (0 until 4).foreach(i => c(40 + i) = (ds >> (8 * i)).toByte)
        corpus += ("wav.dsize" -> c)
      }
      val c = p.clone(); c(40) = (c(40) | 1).toByte; corpus += ("wav.oddsize" -> c)
    }
    // concatenations
    val flat = valid.flatMap { case (k, ps) => ps.take(8).map(k -> _) }
    (0 until 60).foreach { _ =>
      val (ka, a) = flat(rnd.nextInt(flat.size)); val (kb, b) = flat(rnd.nextInt(flat.size))
      corpus += (s"cat.$ka.$kb" -> (a ++ b))
    }
    flat.take(20).foreach { case (k, a) => corpus += (s"cat.$k.self" -> (a ++ a)) }
    // opaque payloads
    corpus += ("empty" -> Array.emptyByteArray)
    (0 until 40).foreach { i =>
      val n = rnd.nextInt(if (i < 20) 40 else 3000)
      corpus += ("random" -> Array.fill(n)(rnd.nextInt(256).toByte))
    }
    (0 until 20).foreach(i => corpus += ("text" -> s"doc $i: the quick brown fox ${"x" * rnd.nextInt(200)}".getBytes("UTF-8")))

    // heavy rows: a header claiming a canvas or sample count the old
    // per-element chains would materialize (hundreds of MB per row)
    def le32(b: Array[Byte], o: Int): Long = if (b.length < o + 4) 0L
      else (0 until 4).map(i => (b(o + i) & 0xffL) << (8 * i)).sum
    def heavy(b: Array[Byte]): Boolean =
      (b.length >= 26 && b(0) == 'B' && b(1) == 'M' && le32(b, 18) * le32(b, 22) > 1000000L) ||
        (b.length >= 44 && b(0) == 'R' && b(1) == 'I' && le32(b, 40) / 2 > 100000L)
    val kinds = corpus.map(_._1).groupBy(identity).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted
    log(s"corpus: ${corpus.size} payloads + NULL; ${kinds.mkString(" ")}")
    val rows = corpus.zipWithIndex.map { case ((k, b), i) => (i.toLong + 1, k, Option(b), heavy(b)) } :+
      ((0L, "null", Option.empty[Array[Byte]], false))
    val all = rows.toSeq.toDF("id", "kind", "p", "heavy").cache()
    log(s"heavy rows (old chains skipped, new evaluated): ${rows.count(_._4)}")
    val light = all.filter(!col("heavy")).cache()
    val p = col("p")

    // validators on every payload
    compare("isBmp", all, O.BmpCodec.isBmp(p), N.BmpCodec.isBmp(p))
    compare("isPpm", all, O.PpmCodec.isPpm(p), N.PpmCodec.isPpm(p))
    compare("isPgm", all, O.PgmCodec.isPgm(p), N.PgmCodec.isPgm(p))
    compare("isRle8", all, O.Rle8Codec.isRle8(p), N.Rle8Codec.isRle8(p))
    // WAVs the old check admits but whose data chunk runs past the end
    val wavTrunc = light.filter(O.WavCodec.isWav(p) && !N.WavCodec.isWav(p)).select("id", "kind").collect()
    compare("isWav", light.filter(!coalesce(O.WavCodec.isWav(p) && !N.WavCodec.isWav(p), lit(false))), O.WavCodec.isWav(p), N.WavCodec.isWav(p))
    log(s"isWav old-true/new-false (data chunk past the payload end): ${wavTrunc.length} " +
      wavTrunc.map(_.getString(1)).groupBy(identity).map { case (k, v) => s"$k=${v.size}" }.mkString(" "))

    val wt = coalesce(O.WavCodec.isWav(p) && !N.WavCodec.isWav(p), lit(false))
    val lt = light.filter(!wt).cache()
    val fixedBefore = diverged
    compare("FIXED isWav (truncated data chunk)", light.filter(wt), O.WavCodec.isWav(p), N.WavCodec.isWav(p))
    compare("FIXED decodeFeatures (truncated data chunk)", light.filter(wt), O.Multimodal.decodeFeatures(p), N.Multimodal.decodeFeatures(p))
    val fixed = diverged - fixedBefore
    diverged = fixedBefore
    // per-container decoders on the payloads their validator admits (+ NULL)
    def admitted(v: Column) = light.filter(p.isNull || v)
    val bm = admitted(O.BmpCodec.isBmp(p))
    compare("BmpCodec.width", bm, O.BmpCodec.width(p), N.BmpCodec.width(p))
    compare("BmpCodec.height", bm, O.BmpCodec.height(p), N.BmpCodec.height(p))
    compare("BmpCodec.numPixels", bm, O.BmpCodec.numPixels(p), N.BmpCodec.numPixels(p))
    compare("BmpCodec.pixels", bm, O.BmpCodec.pixels(p), N.BmpCodec.pixels(p))
    compare("BmpCodec.bmpFeatures", bm, O.BmpCodec.bmpFeatures(p), N.BmpCodec.bmpFeatures(p))
    Seq(1, 5, 16, 65).foreach(k => compare(s"BmpCodec.resizePooledPixels($k)", bm,
      O.BmpCodec.resizePooledPixels(p, k), N.BmpCodec.resizePooledPixels(p, k)))
    val pp = admitted(O.PpmCodec.isPpm(p))
    compare("PpmCodec.width", pp, O.PpmCodec.width(p), N.PpmCodec.width(p))
    compare("PpmCodec.height", pp, O.PpmCodec.height(p), N.PpmCodec.height(p))
    compare("PpmCodec.numPixels", pp, O.PpmCodec.numPixels(p), N.PpmCodec.numPixels(p))
    compare("PpmCodec.pixels", pp, O.PpmCodec.pixels(p), N.PpmCodec.pixels(p))
    compare("PpmCodec.ppmFeatures", pp, O.PpmCodec.ppmFeatures(p), N.PpmCodec.ppmFeatures(p))
    Seq(5, 65).foreach(k => compare(s"PpmCodec.resizePooledPixels($k)", pp,
      O.PpmCodec.resizePooledPixels(p, k), N.PpmCodec.resizePooledPixels(p, k)))
    val pg = admitted(O.PgmCodec.isPgm(p))
    compare("PgmCodec.width", pg, O.PgmCodec.width(p), N.PgmCodec.width(p))
    compare("PgmCodec.height", pg, O.PgmCodec.height(p), N.PgmCodec.height(p))
    compare("PgmCodec.numPixels", pg, O.PgmCodec.numPixels(p), N.PgmCodec.numPixels(p))
    compare("PgmCodec.pixels", pg, O.PgmCodec.pixels(p), N.PgmCodec.pixels(p))
    compare("PgmCodec.pgmFeatures", pg, O.PgmCodec.pgmFeatures(p), N.PgmCodec.pgmFeatures(p))
    Seq(5, 65).foreach(k => compare(s"PgmCodec.resizePooledPixels($k)", pg,
      O.PgmCodec.resizePooledPixels(p, k), N.PgmCodec.resizePooledPixels(p, k)))
    val rl = admitted(O.Rle8Codec.isRle8(p)).cache()
    log(s"RLE8 admitted: ${rl.count()} of which mutated: ${rl.filter(col("kind").contains(".")).count()}")
    compare("Rle8Codec.width", rl, O.Rle8Codec.width(p), N.Rle8Codec.width(p))
    compare("Rle8Codec.height", rl, O.Rle8Codec.height(p), N.Rle8Codec.height(p))
    compare("Rle8Codec.numPixels", rl, O.Rle8Codec.numPixels(p), N.Rle8Codec.numPixels(p))
    compare("Rle8Codec.pixels", rl, O.Rle8Codec.pixels(p), N.Rle8Codec.pixels(p))
    compare("Rle8Codec.rle8Features", rl, O.Rle8Codec.rle8Features(p), N.Rle8Codec.rle8Features(p))
    Seq(16).foreach(k => compare(s"Rle8Codec.resizePooledPixels($k)", rl,
      O.Rle8Codec.resizePooledPixels(p, k), N.Rle8Codec.resizePooledPixels(p, k)))
    val wv = light.filter(p.isNull || N.WavCodec.isWav(p))
    compare("WavCodec.sampleRate", wv, O.WavCodec.sampleRate(p), N.WavCodec.sampleRate(p))
    compare("WavCodec.numSamples", wv, O.WavCodec.numSamples(p), N.WavCodec.numSamples(p))
    compare("WavCodec.samples", wv, O.WavCodec.samples(p), N.WavCodec.samples(p))
    compare("WavCodec.waveFeatures", wv, O.WavCodec.waveFeatures(p), N.WavCodec.waveFeatures(p))
    Seq(1, 2, 3).foreach(f => compare(s"WavCodec.downsample($f)", wv,
      O.WavCodec.downsample(p, f), N.WavCodec.downsample(p, f)))

    // dispatchers and opaque functions on every payload
    val oldFormat = when(O.BmpCodec.isBmp(p), lit("bmp")).when(O.PpmCodec.isPpm(p), lit("ppm"))
      .when(O.PgmCodec.isPgm(p), lit("pgm")).when(O.Rle8Codec.isRle8(p), lit("rle8")).otherwise(lit("opaque"))
    val newFormat = graft.functions.MediaCodec("any", "format", 0, p)
    compare("imagePipeline format tag", all, oldFormat, newFormat)
    compare("decodeFeatures", lt, O.Multimodal.decodeFeatures(p), N.Multimodal.decodeFeatures(p))
    compare("pooledProfile(16)", lt, O.Multimodal.pooledProfile(p, 16), N.Multimodal.pooledProfile(p, 16))
    // k = 65 (the dHash grid) once, bound, then dHash over the bound
    // columns (its documented contract: the lambda indexes `pooled` 128
    // times and an inline tree would re-evaluate it per access)
    val pooledBound = lt.select(col("id"), O.Multimodal.pooledProfile(p, 65).as("po"),
      N.Multimodal.pooledProfile(p, 65).as("pn")).localCheckpoint()
    compare("pooledProfile(65)", pooledBound, col("po"), col("pn"))
    compare("exposureKeep", lt, O.Multimodal.exposureKeep(p), N.Multimodal.exposureKeep(p))
    compare("fakeDecodeFeatures", all, O.Multimodal.fakeDecodeFeatures(p), N.Multimodal.fakeDecodeFeatures(p))
    Seq(1, 7, 16, 65).foreach(k => compare(s"resizePooled($k)", all,
      O.Multimodal.resizePooled(p, k), N.Multimodal.resizePooled(p, k)))
    Seq(8, 16).foreach(k => compare(s"perceptualHash($k)", all,
      O.Multimodal.perceptualHash(p, k), N.Multimodal.perceptualHash(p, k)))
    compare("dHashBandsFromPooled(pooledProfile(65))", pooledBound,
      O.Multimodal.dHashBandsFromPooled(col("po"), 4, 16),
      N.Multimodal.dHashBandsFromPooled(col("pn"), 4, 16))
    // new functions on the heavy rows: must complete
    val hv = all.filter(col("heavy")).select(N.Multimodal.decodeFeatures(p), N.Multimodal.pooledProfile(p, 65),
      N.Multimodal.exposureKeep(p), newFormat).collect()
    log(s"heavy rows through the new dispatchers: ${hv.length} completed")

    log(f"SUMMARY: $checks functions, $total comparisons, $diverged divergences; $fixed + $fixedEnc fixed (old isWav admitted a WAV whose data chunk runs past the payload end; old encodeBmp of a NULL pixel array wrote padding under a header claiming pixels)")
    out.close()
    spark.stop()
  }
}
