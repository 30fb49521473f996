package graft

import graft.functions.TopKBuffer

/** Randomized (seeded, deterministic) checks for the custom algorithmic
  * kernels: the bounded-heap top-k buffer against a sort-take reference
  * model, and the distributed prefix sum against the sequential fold
  * across random lengths and layouts.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def randomScored(rnd: scala.util.Random, n: Int) =
    List.fill(n)((math.rint(rnd.between(-100.0, 100.0) * 1e6) / 1e6,
      rnd.nextLong(50)))

  test("TopKBuffer == sort-take reference across 200 random cases") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { trial =>
      val xs = randomScored(rnd, rnd.nextInt(60))
      val k = 1 + rnd.nextInt(12)
      val buf = new TopKBuffer(k)
      xs.foreach { case (s, i) => buf.add(s, i) }
      val ref = xs.sortBy { case (s, i) => (-s, i) }.take(k)
      assert(buf.sortedPairs.toSeq == ref, s"trial=$trial k=$k")
    }
  }

  test("TopKBuffer merge == single buffer over the concatenation") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { trial =>
      val a = randomScored(rnd, rnd.nextInt(40))
      val b = randomScored(rnd, rnd.nextInt(40))
      val k = 1 + rnd.nextInt(8)
      val merged = new TopKBuffer(k)
      a.foreach { case (s, i) => merged.add(s, i) }
      val other = new TopKBuffer(k)
      b.foreach { case (s, i) => other.add(s, i) }
      merged.merge(other)
      val whole = new TopKBuffer(k)
      (a ++ b).foreach { case (s, i) => whole.add(s, i) }
      assert(merged.sortedPairs.toSeq == whole.sortedPairs.toSeq,
        s"trial=$trial k=$k")
    }
  }

  test("BMP codec roundtrip == identity on random dims (all pad cases) " +
      "and random pixels, incl. degenerate 0-width/0-height") {
    import graft.ext.BmpCodec
    import org.apache.spark.sql.functions.{col, length, when}
    val rnd = new scala.util.Random(1311)
    val cases = (1 to 40).map { i =>
      // dims 0..9 sweep every row-pad case and both degenerate axes
      val w = rnd.nextInt(10)
      val h = rnd.nextInt(8)
      val px = List.fill(w * h)(rnd.nextInt(0x1000000))
      (i.toLong, px, w, h)
    }
    val out = cases.toDF("id", "px", "w", "h")
      .select(col("id"), col("px"), col("w"), col("h"),
        BmpCodec.encodeBmp(col("px"), col("w"), col("h")).as("bmp"))
      .select(col("id"),
        BmpCodec.isBmp(col("bmp")).as("ok"),
        BmpCodec.width(col("bmp")).as("w2"),
        BmpCodec.height(col("bmp")).as("h2"),
        BmpCodec.pixels(col("bmp")).as("dec"),
        length(col("bmp")).as("len"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3),
          r.getSeq[Int](4), r.getInt(5))).toMap
    cases.foreach { case (id, px, w, h) =>
      val (ok, w2, h2, dec, len) = out(id)
      assert(ok, s"case $id must tag as BMP")
      assert(w2 == w && h2 == h, s"case $id dims")
      assert(dec == px, s"case $id (w=$w h=$h pad=${(4 - w * 3 % 4) % 4})")
      assert(len == 54 + (w * 3 + (4 - w * 3 % 4) % 4) * h)
    }
    // the RLE8 BMP variant, both encoders: rows of random runs (some
    // past the 255 run cap) and noise; the mode-2 fixture leaves the
    // bottom row, cols 3-4 and col w-1 to palette index 0
    import graft.ext.Rle8Codec
    def runRow(w: Int): List[Int] = if (w == 0) Nil else {
      val len = math.min(w, if (rnd.nextBoolean()) 1 + rnd.nextInt(4)
        else 200 + rnd.nextInt(400))
      val v = rnd.nextInt(256)
      List.fill(len)(v) ++ runRow(w - len)
    }
    val rle = (1 to 30).map { i =>
      val (w, h) = if (i % 3 == 0) (200 + rnd.nextInt(500), 1 + rnd.nextInt(3))
        else (7 + rnd.nextInt(10), 2 + rnd.nextInt(6))
      val gs = if (i % 2 == 0) List.fill(w * h)(rnd.nextInt(256))
        else List.fill(h)(runRow(w)).flatten
      (i.toLong, gs, w, h)
    } ++ Seq((31L, Nil, 0, 4), (32L, Nil, 5, 0))
    val rout = rle.toDF("id", "gs", "w", "h")
      .select(col("id"),
        Rle8Codec.encodeRle8(col("gs"), col("w"), col("h")).as("r1"),
        when(col("w") >= 7 && col("h") >= 2, Rle8Codec.encodeRle8Mode2(
          col("gs"), col("w"), col("h"))).as("r2"))
      .select(col("id"), Rle8Codec.isRle8(col("r1")),
        Rle8Codec.pixels(col("r1")), Rle8Codec.isRle8(col("r2")),
        Rle8Codec.pixels(col("r2")))
      .collect().map(r => r.getLong(0) -> r).toMap
    rle.foreach { case (id, gs, w, h) =>
      val r = rout(id)
      val rgb = gs.map(g => g * 65536 + g * 256 + g)
      assert(r.getBoolean(1) && r.getSeq[Int](2) == rgb, s"RLE8 case $id")
      if (w >= 7 && h >= 2) {
        val m2 = rgb.zipWithIndex.map { case (p, i) =>
          val (y, x) = (i / w, i % w)
          if (y == h - 1 || x == 3 || x == 4 || x == w - 1) 0 else p
        }
        assert(r.getBoolean(3) && r.getSeq[Int](4) == m2,
          s"RLE8 mode-2 case $id (w=$w h=$h)")
      }
    }
  }

  test("DQ quarantine partitions EXACTLY on random frames and rulebooks") {
    import graft.ops.DqConstraints
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(77)
    (1 to 5).foreach { trial =>
      val rows = (1 to 50 + rnd.nextInt(100)).map(i =>
        (i.toLong, rnd.nextInt(100), rnd.between(-1.0, 1.0)))
      val df = rows.toDF("id", "a", "b")
      val cut1 = rnd.nextInt(100)
      val cut2 = math.rint(rnd.between(-1.0, 1.0) * 100) / 100
      val rules = Seq(
        s"a_above_$cut1" -> (col("a") > cut1),
        s"b_above_$cut2" -> (col("b") > cut2))
      val (clean, quar) = DqConstraints.quarantine(df, rules)
      val cleanIds = clean.select("id").collect().map(_.getLong(0)).toSet
      val quarIds = quar.select("id").collect().map(_.getLong(0)).toSet
      // exact partition: disjoint, and union = input
      assert((cleanIds & quarIds).isEmpty, s"trial $trial overlap")
      assert(cleanIds ++ quarIds == rows.map(_._1).toSet,
        s"trial $trial lost rows")
      // reference model agrees row by row
      val refQuar = rows.filter { case (_, a, b) =>
        a > cut1 || b > cut2 }.map(_._1).toSet
      assert(quarIds == refQuar, s"trial $trial routing")
    }
  }

  test("native as-of == sequential reference model on random workloads " +
      "(directions, tolerance, nulls)") {
    val rnd = new scala.util.Random(2024)
    def gen(n: Int): Seq[(Option[Int], Option[Int], String)] =
      (1 to n).map(i => (
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(5)),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(30)),
        s"v$i"))
    (1 to 6).foreach { trial =>
      val fwd = trial % 2 == 0
      val tol = if (trial % 3 == 0) Some(5L) else None
      val left = gen(60 + rnd.nextInt(60))
      // right unique per (key, time): the operator's tie contract
      val right = gen(40 + rnd.nextInt(40))
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val expected = left.map { case (k, t, lv) =>
        val rv = (for { kk <- k; tt <- t } yield {
          val cands = right.filter(r =>
            r._1.contains(kk) && r._2.exists(rt =>
              (if (fwd) rt >= tt else rt <= tt) &&
                tol.forall(x => math.abs(rt.toLong - tt) <= x)))
          if (cands.isEmpty) "null"
          else if (fwd) cands.minBy(_._2.get)._3
          else cands.maxBy(_._2.get)._3
        }).getOrElse("null")
        (k.fold("null")(_.toString), t.fold("null")(_.toString), lv, rv)
      }
      val l = left.toDF("k", "t", "lv")
      val r = right.toDF("k", "rt", "rv")
      val got = graft.plans.AsofJoinNative
        .join(l, r, Seq("k"), "t", "rt", forward = fwd, tolerance = tol)
        .collect().map(x => (
          if (x.isNullAt(0)) "null" else x.getInt(0).toString,
          if (x.isNullAt(1)) "null" else x.getInt(1).toString,
          x.getString(2), Option(x.getString(3)).getOrElse("null")))
      assert(got.sortBy(_.toString).toSeq ==
        expected.sortBy(_.toString).toSeq,
        s"trial=$trial fwd=$fwd tol=$tol")
    }
  }

  test("PqOps.codes/lut == scalar reference model on random codebooks") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(99)
    (1 to 50).foreach { trial =>
      val m = 1 + rnd.nextInt(4)
      val k = 1 + rnd.nextInt(8)
      val subDim = 1 + rnd.nextInt(5)
      val books = Array.fill(m, k, subDim)(rnd.between(-1f, 1f))
      // occasional duplicate centroid so the first-tie rule is exercised
      if (k > 1 && trial % 3 == 0) books(0)(k - 1) = books(0)(0).clone()
      val fb = graft.functions.PqOps.flatten(books)
      val emb = Array.fill(m * subDim)(rnd.between(-1f, 1f))
      val arr = ArrayData.toArrayData(emb)
      // reference model: same argmin/dot definitions, written naively
      def dot(sub: Array[Float], c: Array[Float]): Double =
        sub.zip(c).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val expCodes = (0 until m).map { i =>
        val sub = emb.slice(i * subDim, (i + 1) * subDim)
        val dists = books(i).map(c =>
          c.map(v => v.toDouble * v).sum - 2.0 * dot(sub, c))
        dists.indexOf(dists.min)
      }
      val gotCodes = graft.functions.PqOps.codes(arr, fb)
      assert((0 until m).forall(i => gotCodes.getInt(i) == expCodes(i)),
        s"trial=$trial codes")
      val gotLut = graft.functions.PqOps.lut(arr, fb)
      (0 until m).foreach { i =>
        val sub = emb.slice(i * subDim, (i + 1) * subDim)
        (0 until k).foreach { j =>
          assert(gotLut.getDouble(i * k + j) == dot(sub, books(i)(j)),
            s"trial=$trial lut($i,$j)")
        }
      }
    }
  }

  test("removeDupSpans == naive positional reference on random corpora") {
    val rnd = new scala.util.Random(21)
    (1 to 8).foreach { trial =>
      val n = 3 // small gram width so duplicates actually occur
      // vocabulary small enough that cross-doc n-gram collisions happen
      val docs = (0 until 12).map { id =>
        val len = 3 + rnd.nextInt(12)
        (id.toLong,
          Seq.fill(len)("w" + rnd.nextInt(6)).mkString(" "))
      }
      // naive reference: covered = union of [s, s+n-1] for every gram
      // occurring in >= 2 distinct docs
      val grams = docs.flatMap { case (id, text) =>
        val tk = text.split(" ")
        (0 to tk.length - n).map(s => (id, s, tk.slice(s, s + n).mkString(" ")))
      }
      val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
        .keySet
      val expected = docs.map { case (id, text) =>
        val tk = text.split(" ")
        val covered = (0 to tk.length - n)
          .filter(s => dup(tk.slice(s, s + n).mkString(" ")))
          .flatMap(s => s until s + n).toSet
        val kept = tk.zipWithIndex.collect {
          case (t, p) if !covered(p) => t }
        (id, (kept.mkString(" "), tk.length.toLong, covered.size.toLong))
      }.toMap
      val got = graft.ext.TextDedup.removeDupSpans(
        docs.toDF("doc_id", "text"), "text", "doc_id", n = n)
        .collect().map(r =>
          r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      graft.ops.CacheScope.releaseAll()
      assert(got == expected, s"trial=$trial")
    }
  }

  test("packOffsets == sequential fold for random lengths and layouts") {
    val rnd = new scala.util.Random(13)
    (1 to 5).foreach { trial =>
      val rows = (0 until 40).map(i => (i.toLong, rnd.nextLong(10)))
      val parts = 1 + rnd.nextInt(9)
      val df = rows.toDF("doc_id", "n").repartition(parts)
      val got = graft.ext.Packing.packOffsets(df, "doc_id", "n", 7)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      var off = 0L
      rows.foreach { case (id, n) =>
        assert(got(id) == off, s"trial=$trial parts=$parts id=$id")
        off += n
      }
    }
  }

  test("paretoCumShare == sequential fold over random values and layouts") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(23)
    (1 to 5).foreach { trial =>
      val rows = (0 until 50).map(i =>
        (i.toLong, BigDecimal(rnd.nextInt(1000)) / 100))
      val parts = 1 + rnd.nextInt(9)
      val df = rows.toDF("k", "v")
        .select(col("k"), col("v").cast(DecimalType(18, 6)).as("v"))
        .repartition(parts)
      val got = RetailQueries.paretoCumShare(df, "k", "v")
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("cum_share")))
        .toMap
      graft.ops.CacheScope.releaseAll()
      val total = rows.map(_._2).sum
      var cum = BigDecimal(0)
      rows.sortBy { case (k, v) => (-v, k) }.foreach { case (k, v) =>
        cum += v
        // term-for-term replica of the operator's arithmetic: exact
        // decimal → nearest double, IEEE division, HALF_UP 6-dp round
        val expect = BigDecimal(cum.toDouble / total.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got(k) == expect,
          s"trial=$trial parts=$parts k=$k: ${got(k)} vs $expect")
      }
    }
  }

  test("tokenBudgetSelect == sequential greedy over random corpora/layouts") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(99)
    val words = Vector("the", "cat", "sat", "on", "mat", "and", "a", "dog",
      "ran", "far", "xyzzy", "qwerty", "12", "lorem!")
    (1 to 5).foreach { trial =>
      val n = 40 + rnd.nextInt(80)
      val docs = (1 to n).map { i =>
        val len = 1 + rnd.nextInt(60)
        (i.toLong,
          Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(1 + rnd.nextInt(8))
      val budget = 50L + rnd.nextInt(2000)
      try {
        val got = graft.ext.Curation
          .tokenBudgetSelect(df, "text", "doc_id", budget)
          .select("doc_id", "n_tokens", "cum_tokens")
          .as[(Long, Long, Long)].collect().toSet
        // sequential greedy over the SAME Spark-computed signals — the
        // property isolates the distributed prefix-sum machinery
        val sig = df.select(col("doc_id"),
            graft.ext.TextStats.tokenCount(col("text")).cast("long"),
            graft.ext.TextStats.qualityScore(col("text")))
          .as[(Long, Long, Double)].collect()
          .sortBy { case (id, _, q) => (-q, id) }
        var off = 0L
        val expected = sig.iterator.map { case (id, nn, _) =>
          off += nn; (id, nn, off)
        }.takeWhile(_._3 <= budget).toSet
        assert(got == expected, s"trial=$trial budget=$budget")
      } finally graft.ops.CacheScope.releaseAll()
    }
  }

  test("canonicalizeUrl is idempotent over random URL shapes") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val hosts = Seq("X.com", "shop.Example.COM", "a.b.co:8080")
    val paths = Seq("", "/", "/p/Q", "/p/Q/", "/a//")
    val queries = Seq("", "?utm_source=x", "?a=1&utm_medium=m&b=2",
      "?ref&z=9", "?reference=2&gclid=g")
    val frags = Seq("", "#top", "#s/2?x=1")
    val urls = List.fill(200)(
      s"https://${hosts(rnd.nextInt(hosts.size))}" +
        paths(rnd.nextInt(paths.size)) + queries(rnd.nextInt(queries.size)) +
        frags(rnd.nextInt(frags.size)))
    val out = urls.toDF("url").select(
      graft.ext.Markup.canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"),
        graft.ext.Markup.canonicalizeUrl(col("c1")).as("c2"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent: '${r.getString(0)}' -> '${r.getString(1)}'"))
  }

  test("resizePooled: k cells, weighted cell means reproduce global mean") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(23)
    val texts = List.fill(60)(
      (1 to (1 + rnd.nextInt(90))).map(_ => ('a' + rnd.nextInt(26)).toChar)
        .mkString)
    for (k <- Seq(2, 7, 16)) {
      val rows = texts.toDF("text").select(col("text"),
        graft.ext.Multimodal.resizePooled(
          graft.ext.Multimodal.asPayload(col("text")), k).as("p"))
        .collect()
      rows.foreach { r =>
        val text = r.getString(0)
        val cells = r.getSeq[Any](1)
        assert(cells.length == k)
        val n = text.length
        // block j weight = block length; weighted mean of non-null cells
        // must equal the exact byte mean (cells are rounded to 6 dp, so
        // allow k rounding quanta of drift)
        val weighted = (0 until k).map { j =>
          val len = ((j + 1) * n / k) - (j * n / k)
          if (len == 0) 0.0
          else cells(j).asInstanceOf[Double] * len
        }.sum / n
        val exact = text.map(_.toInt).sum.toDouble / n
        assert(math.abs(weighted - exact) <= k * 5e-7 + 1e-9,
          s"k=$k n=$n weighted=$weighted exact=$exact")
      }
    }
  }

  test("tCloseness: tv distance stays in [0,1]; identical distributions " +
      "give 0; a degenerate group approaches the disjoint bound") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    // random corpus over 3 groups x 4 sensitive values
    val rows = List.fill(600)(
      (s"g${rnd.nextInt(3)}", s"v${rnd.nextInt(4)}"))
      .toDF("g", "v")
    val tv = graft.ext.Curation.tCloseness(rows, Seq("g"), "v", t = 0.2)
      .collect().map(r => r.getAs[String]("g") ->
        r.getAs[Double]("tv_dist")).toMap
    graft.ops.CacheScope.releaseAll()
    assert(tv.values.forall(d => d >= 0.0 && d <= 1.0), tv.toString)
    // disjoint supports: each group exclusively holds ONE of 4 equally
    // frequent values -> tv = ½(|1−¼| + 3·|0−¼|) = 0.75 per group
    val disjoint = (0 until 400).map(i => (s"g${i % 4}", s"v${i % 4}"))
      .toDF("g", "v")
    val tvU = graft.ext.Curation.tCloseness(disjoint, Seq("g"), "v", 0.2)
      .collect().map(_.getAs[Double]("tv_dist"))
    graft.ops.CacheScope.releaseAll()
    assert(tvU.forall(_ == 0.75), tvU.toSeq.toString)
    val same = (0 until 400).map(i => (s"g${i % 4}", "only"))
      .toDF("g", "v")
    val tvS = graft.ext.Curation.tCloseness(same, Seq("g"), "v", 0.2)
      .collect().map(_.getAs[Double]("tv_dist"))
    graft.ops.CacheScope.releaseAll()
    assert(tvS.forall(_ == 0.0), tvS.toSeq.toString)
    // NULL quasi key is a legitimate group (unknown nation): with every
    // group identically distributed, the NULL group must ALSO score 0 —
    // a null-unsafe join would zero its own counts and mis-score 0.5
    val withNull = (0 until 400).map { i =>
      val g = if (i % 4 == 0) null else s"g${i % 4}"
      // v keyed on i/4 so every group (incl. NULL) sees v0/v1 50:50 —
      // i % 2 would fix each group to ONE value (i % 4 pins the parity)
      (g, s"v${(i / 4) % 2}")
    }.toDF("g", "v")
    val tvN = graft.ext.Curation.tCloseness(withNull, Seq("g"), "v", 0.2)
      .collect().map(r => Option(r.getAs[String]("g")) ->
        r.getAs[Double]("tv_dist")).toMap
    graft.ops.CacheScope.releaseAll()
    assert(tvN.contains(None), "NULL-keyed group must appear in the audit")
    assert(tvN.values.forall(_ == 0.0),
      s"identically distributed groups (incl. NULL key) must score 0: $tvN")
  }

  test("standardizeEmbeddings: z-scores recenter to ~0 mean, unit " +
      "spread; zero-variance dims emit 'n' gaps") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 50).map { i =>
      // dim 2 is CONSTANT -> sd = 0 -> 'n'
      (i.toLong, Seq(rnd.nextFloat() * 4f - 2f, rnd.nextFloat(), 3.5f))
    }.toDF("vec_id", "embedding")
    val out = graft.ext.Similarity
      .standardizeEmbeddings(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 50)
    val cells = out.values.map(_.split(",", -1)).toSeq
    assert(cells.forall(_.length == 3))
    assert(cells.forall(_.apply(2) == "n"), "constant dim must emit 'n'")
    (0 until 2).foreach { d =>
      val zs = cells.map(c => c(d).toLong / 1e6)
      val mean = zs.sum / zs.size
      val varr = zs.map(z => (z - mean) * (z - mean)).sum / zs.size
      assert(math.abs(mean) < 1e-3, s"dim $d mean $mean")
      assert(math.abs(varr - 1.0) < 1e-2, s"dim $d var $varr")
    }
  }

  test("WAV VAD == sequential islands reference on random clips " +
      "(random run patterns, partial tails, empty clips)") {
    import graft.ext.WavCodec
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(2025)
    // reference model: the documented frame/threshold/islands semantics
    def ref(ss: Seq[Int]): Seq[(Int, Int, Int, Long, Long)] = {
      val frames = ss.grouped(16).toVector
      val active = frames.map(f =>
        f.map(x => math.abs(x.toLong)).sum.toDouble / f.length >= 1000.0)
      var seg = 0
      val rows = frames.indices.flatMap { i =>
        if (active(i)) {
          if (i == 0 || !active(i - 1)) seg += 1
          Some((seg, i, frames(i).length))
        } else None
      }
      rows.groupBy(_._1).toSeq.map { case (s, fs) =>
        (s, fs.map(_._2).min, fs.map(_._2).max, fs.size.toLong,
          fs.map(_._3.toLong).sum)
      }.sortBy(_._1)
    }
    val cases = (1 to 30).map { i =>
      val n = rnd.nextInt(120) // 0 included: empty clips must emit nothing
      val ss = List.tabulate(n) { j =>
        if (rnd.nextInt(3) == 0) rnd.nextInt(257) - 128 // quiet frame zone
        else {
          val mag = 4000 + rnd.nextInt(28000)
          if (rnd.nextBoolean()) mag else -mag
        }
      }
      (i.toLong, ss)
    }
    val out = WavCodec.vadSegments(
        cases.toDF("id", "ss").select(col("id"),
          WavCodec.encodeWav(col("ss"), lit(8000)).as("wav")),
        "id", "wav")
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("seg_id"), r.getAs[Int]("start_frame"),
          r.getAs[Int]("end_frame"), r.getAs[Long]("n_frames"),
          r.getAs[Long]("n_samples")))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1).toSeq }
    graft.ops.CacheScope.releaseAll()
    cases.foreach { case (id, ss) =>
      val expect = ref(ss)
      val got = out.getOrElse(id, Seq.empty)
      assert(got == expect, s"clip $id (n=${ss.length}): $got vs $expect")
    }
  }

  test("prefixFilterJaccardPairs == ngramJaccardPairs across random " +
      "corpora and thresholds") {
    import graft.ext.TextDedup
    val rnd = new scala.util.Random(77)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    (1 to 4).foreach { trial =>
      val docs = (1 to 25).map { id =>
        val len = 5 + rnd.nextInt(9)
        (id.toLong, List.fill(len)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val theta = Seq(0.3, 0.5, 0.7, 0.9)(rnd.nextInt(4))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      val full = TextDedup.ngramJaccardPairs(
        docs, "text", "doc_id", n = 3, threshold = theta)
        .collect().map(key).toSet
      val pf = TextDedup.prefixFilterJaccardPairs(
        docs, "text", "doc_id", n = 3, threshold = theta)
        .collect().map(key).toSet
      assert(pf == full, s"trial=$trial theta=$theta")
    }
  }

  test("BloomSemiJoin == plain semi-join over random keys, NULL keys, " +
      "and collision-heavy bitmaps") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(451)
    (1 to 4).foreach { trial =>
      val fact = (1 to 80).map { i =>
        (i.toLong, if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(50).toLong))
      }.toDF("row_id", "k")
      val dim = (1 to 15).map { _ =>
        if (rnd.nextInt(8) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(50).toLong)
      }.toDF("k")
      val plain = fact.join(dim.distinct(), Seq("k"), "left_semi")
        .select("row_id").as[Long].collect().sorted.toSeq
      val mBits = Seq(64, 256)(rnd.nextInt(2))
      val viaBloom = graft.ops.BloomSemiJoin.prefilteredSemiJoin(
          fact, "k", dim, "k", mBits = mBits,
          numHashes = 1 + rnd.nextInt(3))
        .select("row_id").as[Long].collect().sorted.toSeq
      assert(viaBloom == plain, s"trial=$trial mBits=$mBits")
    }
  }

  test("netpbm codecs roundtrip == identity on random dims and pixels, " +
      "incl. degenerate 0-width/0-height") {
    import graft.ext.{PgmCodec, PpmCodec}
    import org.apache.spark.sql.functions.{col, length}
    val rnd = new scala.util.Random(2711)
    val cases = (1 to 40).map { i =>
      val w = rnd.nextInt(10)
      val h = rnd.nextInt(8)
      val px = List.fill(w * h)(rnd.nextInt(0x1000000))
      val gs = List.fill(w * h)(rnd.nextInt(256))
      (i.toLong, px, gs, w, h)
    }
    val out = cases.map { case (id, px, gs, w, h) => (id, px, gs, w, h) }
      .toDF("id", "px", "gs", "w", "h")
      .select(col("id"),
        PpmCodec.encodePpm(col("px"), col("w"), col("h")).as("ppm"),
        PgmCodec.encodePgm(col("gs"), col("w"), col("h")).as("pgm"))
      .select(col("id"),
        PpmCodec.isPpm(col("ppm")).as("pok"),
        PpmCodec.width(col("ppm")).as("pw"),
        PpmCodec.height(col("ppm")).as("ph"),
        PpmCodec.pixels(col("ppm")).as("pdec"),
        length(col("ppm")).as("plen"),
        PgmCodec.isPgm(col("pgm")).as("gok"),
        PgmCodec.pixels(col("pgm")).as("gdec"),
        length(col("pgm")).as("glen"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getSeq[Int](4),
          r.getInt(5), r.getBoolean(6), r.getSeq[Int](7), r.getInt(8)))
      .toMap
    cases.foreach { case (id, px, gs, w, h) =>
      val (pok, pw, ph, pdec, plen, gok, gdec, glen) = out(id)
      assert(pok && pw == w && ph == h, s"case $id PPM header")
      assert(pdec == px, s"case $id PPM pixels (w=$w h=$h)")
      assert(plen == 19 + 3 * w * h, s"case $id PPM length")
      assert(gok, s"case $id PGM header")
      assert(gdec == gs.map(g => g * 65536 + g * 256 + g),
        s"case $id PGM replicated-channel pixels (w=$w h=$h)")
      assert(glen == 19 + w * h, s"case $id PGM length")
    }
    // WAV: 0, 1 and random sample counts; out-of-range samples wrap
    import graft.ext.WavCodec
    val wavs = (Seq(0, 1, 2) ++ Seq.fill(20)(rnd.nextInt(300)))
      .zipWithIndex.map { case (n, i) =>
        (i.toLong, List.fill(n)(rnd.nextInt(100000) - 50000),
          8000 + rnd.nextInt(40000))
      }
    val wout = wavs.toDF("id", "ss", "rate")
      .select(col("id"), WavCodec.encodeWav(col("ss"), col("rate")).as("w"))
      .select(col("id"), WavCodec.isWav(col("w")),
        WavCodec.sampleRate(col("w")), WavCodec.numSamples(col("w")),
        WavCodec.samples(col("w")), length(col("w")))
      .collect().map(r => r.getLong(0) -> r).toMap
    wavs.foreach { case (id, ss, rate) =>
      val r = wout(id)
      assert(r.getBoolean(1) && r.getLong(2) == rate &&
        r.getLong(3) == ss.size, s"WAV case $id header")
      assert(r.getSeq[Int](4) == ss.map(_.toShort.toInt), s"WAV case $id")
      assert(r.getInt(5) == 44 + 2 * ss.size, s"WAV case $id length")
    }
  }

  test("codec totality: every mutated payload is rejected by its " +
      "validator or decodes to exactly w·h pixels (n samples), no NULL") {
    import graft.ext.{BmpCodec, PgmCodec, PpmCodec, Rle8Codec, WavCodec}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242)
    val (w, h) = (col("w"), col("h"))
    val imgs = (Seq.fill(10)((1 + rnd.nextInt(12), 1 + rnd.nextInt(6))) ++
        Seq((0, 3), (4, 0), (9, 2))).map { case (a, b) =>
      (a, b, List.fill(a * b)(rnd.nextInt(0x1000000)),
        List.fill(a * b)(rnd.nextInt(3) * 100))
    }.toDF("w", "h", "px", "gs")
      .select(BmpCodec.encodeBmp(col("px"), w, h),
        PpmCodec.encodePpm(col("px"), w, h),
        PgmCodec.encodePgm(col("gs"), w, h),
        Rle8Codec.encodeRle8(col("gs"), w, h),
        when(w >= 7 && h >= 2, Rle8Codec.encodeRle8Mode2(col("gs"), w, h)))
    val wavs = Seq.fill(6)(List.fill(rnd.nextInt(40))(rnd.nextInt(65536) -
      32768)).toDF("ss").select(WavCodec.encodeWav(col("ss"), lit(8000)))
    val valid = (imgs.collect() ++ wavs.collect())
      .flatMap(_.toSeq.collect { case b: Array[Byte] => b }).toSeq
    // truncations, single-byte flips (header, command stream and body)
    // and concatenations. RLE8's width/height high bytes are not
    // flipped: that yields a VALID stream over a canvas of up to 2^40
    // pixels, which the pixel-array API would have to materialize.
    val mutated = valid.flatMap { p =>
      val rle = p.length >= 1078 && p(30) == 1
      Seq.fill(3)(p.take(rnd.nextInt(p.length))) ++ Seq.fill(8) {
        val o = rnd.nextInt(p.length)
        val c = p.clone()
        if (!(rle && (o % 4 != 2) && o >= 19 && o <= 25)) c(o) = rnd.nextInt(256).toByte
        c
      }
    } ++ Seq.fill(20)(valid(rnd.nextInt(valid.size)) ++
      valid(rnd.nextInt(valid.size)))
    val df = mutated.map(Option(_)).toDF("p").cache()
    val p = col("p")
    def check(name: String, ok: Column, dec: Column, n: Column,
        feats: Column): Unit = {
      val admitted = df.filter(ok).count()
      val bad = df.filter(ok && !(size(dec) === n &&
        !exists(dec, _.isNull) && size(feats) === 4 &&
        !exists(feats, _.isNull))).count()
      val leaked = df.filter(!ok && dec.isNotNull).count()
      assert(admitted > 0, s"$name: no mutated payload was admitted")
      assert(bad == 0, s"$name: $bad admitted payloads decode partially")
      assert(leaked == 0, s"$name: $leaked rejected payloads decode")
    }
    check("bmp", BmpCodec.isBmp(p), BmpCodec.pixels(p),
      BmpCodec.numPixels(p), BmpCodec.bmpFeatures(p))
    check("ppm", PpmCodec.isPpm(p), PpmCodec.pixels(p),
      PpmCodec.numPixels(p), PpmCodec.ppmFeatures(p))
    check("pgm", PgmCodec.isPgm(p), PgmCodec.pixels(p),
      PgmCodec.numPixels(p), PgmCodec.pgmFeatures(p))
    check("rle8", Rle8Codec.isRle8(p), Rle8Codec.pixels(p),
      Rle8Codec.numPixels(p), Rle8Codec.rle8Features(p))
    check("wav", WavCodec.isWav(p), WavCodec.samples(p),
      WavCodec.numSamples(p), WavCodec.waveFeatures(p))
    df.unpersist()
  }

  test("ArchiveIndex write+append+compact == session-frame reference " +
      "across random corpora and bucket counts") {
    import graft.ext.{ArchiveIndex, TextDedup}
    val rnd = new scala.util.Random(9134)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def randDocs(offset: Long, n: Int) = (1 to n).map { i =>
      (offset + i,
        List.fill(4 + rnd.nextInt(8))(words(rnd.nextInt(words.size)))
          .mkString(" "))
    }.toDF("id", "text")
    (1 to 3).foreach { trial =>
      val nB = 1 + rnd.nextInt(16)
      val arch = randDocs(0, 10 + rnd.nextInt(20))
      val batch = randDocs(1000, 5 + rnd.nextInt(10))
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-ai-prop$trial")
      try {
        ArchiveIndex.write(arch, "text", "id", nB, base.toString)
        assert(ArchiveIndex.nBuckets(spark, base.toString) == nB)
        ArchiveIndex.appendBucketedTable(
          TextDedup.exactDedup(batch, "text", "id"), "fp",
          ArchiveIndex.fpDir(base.toString), nB)
        val (bb, bh) = TextDedup.lshIndex(batch, "text", "id")
        ArchiveIndex.appendBucketedTable(bb, "band",
          ArchiveIndex.ibDir(base.toString), nB)
        ArchiveIndex.appendBucketedTable(bh, "id",
          ArchiveIndex.ihDir(base.toString), nB)
        ArchiveIndex.compact(spark, base.toString)
        // reference: session-frame builds unioned PER SIDE (the fp
        // table's contract is per-writer rows, not a re-dedup of the
        // union — stage 1 guarantees disjointness in the real loop)
        def fpSet(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
          .toSet
        val fpRef = fpSet(TextDedup.exactDedup(arch, "text", "id")) ++
          fpSet(TextDedup.exactDedup(batch, "text", "id"))
        assert(fpSet(ArchiveIndex.readFp(spark, base.toString)) == fpRef,
          s"trial=$trial nB=$nB fp drift")
        val (ab, ah) = TextDedup.lshIndex(arch, "text", "id")
        def bandSet(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(bandSet(ArchiveIndex.readBands(spark, base.toString)) ==
          bandSet(ab) ++ bandSet(bb), s"trial=$trial nB=$nB band drift")
        def hsSet(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).mkString(","))).toSet
        assert(hsSet(ArchiveIndex.readHashes(spark, base.toString)) ==
          hsSet(ah) ++ hsSet(bh), s"trial=$trial nB=$nB hash drift")
        // packed floor: at most one data file per bucket dir
        Seq(ArchiveIndex.fpDir(base.toString),
            ArchiveIndex.ibDir(base.toString),
            ArchiveIndex.ihDir(base.toString)).foreach { d =>
          Option(new java.io.File(d).listFiles())
            .getOrElse(Array.empty)
            .filter(_.getName.startsWith("bkt=")).foreach { b =>
              val nf = Option(b.listFiles()).getOrElse(Array.empty)
                .count(_.getName.endsWith(".parquet"))
              assert(nf == 1, s"trial=$trial ${b.getPath}: $nf files")
            }
        }
      } finally rm(base.toFile)
    }
  }

  test("ArchiveIndex randomized manifest lifecycle: interleaved appends " +
      "and compacts under random cadence and grace preserve content, a " +
      "pinned reader's snapshot, and exact manifest↔disk consistency " +
      "after a grace-0 pass") {
    import graft.ext.{ArchiveIndex, TextDedup}
    val rnd = new scala.util.Random(41213)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def randDocs(offset: Long, n: Int) = (1 to n).map { i =>
      (offset + i,
        List.fill(4 + rnd.nextInt(8))(words(rnd.nextInt(words.size)))
          .mkString(" "))
    }.toDF("id", "text")
    def fpSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
    (1 to 3).foreach { trial =>
      val nB = 1 + rnd.nextInt(8)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-ai-life$trial")
      try {
        val dir = s"$base/fp"
        val first = TextDedup.exactDedup(
          randDocs(0, 5 + rnd.nextInt(10)), "text", "id")
        ArchiveIndex.writeBucketedTable(first, "fp", dir, nB)
        var ref = fpSet(first)
        // a reader pinned mid-lifecycle: once held, every later
        // compact must run with a grace covering it
        var held: Option[(org.apache.spark.sql.DataFrame,
          Set[(String, Long, Long)])] = None
        (1 to 6).foreach { step =>
          val b = TextDedup.exactDedup(
            randDocs(step * 1000L, 3 + rnd.nextInt(6)), "text", "id")
          ArchiveIndex.appendBucketedTable(b, "fp", dir, nB)
          ref = ref ++ fpSet(b)
          if (rnd.nextBoolean()) {
            if (held.isEmpty && rnd.nextBoolean())
              held = Some((ArchiveIndex.readBucketedTable(spark, dir)
                .select("fp", "representative_id", "n_copies"), ref))
            ArchiveIndex.compactBucketedDir(spark, dir,
              gcGraceMs = if (held.isDefined) 86400000L else 0L)
          }
          assert(fpSet(ArchiveIndex.readBucketedTable(spark, dir)
            .select("fp", "representative_id", "n_copies")) == ref,
            s"trial=$trial step=$step nB=$nB content drift")
        }
        held.foreach { case (r, snap) =>
          assert(fpSet(r) == snap,
            s"trial=$trial pinned reader drifted across compactions")
        }
        // final grace-0 pass: physical data files must equal the
        // current manifest EXACTLY — nothing stranded, nothing live
        // outside the snapshot
        ArchiveIndex.compactBucketedDir(spark, dir, gcGraceMs = 0L)
        val manifested = ArchiveIndex.currentManifest(spark, dir)
          .get.toSet
        val physical = Option(new java.io.File(dir).listFiles())
          .getOrElse(Array.empty)
          .filter(_.getName.startsWith("bkt=")).flatMap { bd =>
            Option(bd.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.endsWith(".parquet"))
              .map(f => s"${bd.getName}/${f.getName}")
          }.toSet
        assert(physical == manifested,
          s"trial=$trial manifest/disk divergence: " +
            s"stranded=${physical -- manifested} " +
            s"phantom=${manifested -- physical}")
        assert(fpSet(ArchiveIndex.readBucketedTable(spark, dir)
          .select("fp", "representative_id", "n_copies")) == ref)
      } finally rm(base.toFile)
    }
  }
}
