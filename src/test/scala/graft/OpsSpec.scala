package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops._
import graft.pipeline.Transform
import graft.sinks.Sinks
import graft.sources.CsvSource

/** Unit specs for operator semantics, including the order sensitivities and
  * defect resolutions called out in SURVEY.md §3.3 / §7.4. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("P2 normalizeName: lowercase, strip, whitespace/hyphen runs → _") {
    assert(Projections.normalizeName(" Courier  Status ") == "courier_status")
    assert(Projections.normalizeName("GROSS AMT") == "gross_amt")
    assert(Projections.normalizeName("ship-service-level") == "ship_service_level")
  }

  test("P4 before F7: sentinel strings count as non-null in the row ratio") {
    val df = Seq(("NA", "NA", "NA", "x")).toDF("a", "b", "c", "d")
    // sentinels not yet nulled → 0% null → row survives P4
    assert(Projections.rowNullRatioBelow(0.5)(df).count() == 1)
    val nulled = ScalarFns.sentinelsToNull(df)
    assert(Projections.rowNullRatioBelow(0.5)(nulled).count() == 0)
  }

  test("F6 adoption boundary: exactly 90% is NOT adopted, >90% is") {
    val vals90 = (1 to 9).map(i => s"$i.5") :+ "not a number" // 9/10 = 90%
    val df90 = vals90.toDF("amount")
    assert(Transform(df90).schema("amount").dataType.typeName == "string")
    val vals91 = (1 to 10).map(i => s"$i.5") :+ "not a number" // 10/11 > 90%
    val df91 = vals91.toDF("amount")
    assert(Transform(df91).schema("amount").dataType.typeName == "double")
  }

  test("F5 decision is column-level: one parseable value flips the strategy") {
    val noParse = Seq("jan", "FEB ", "xxx").toDF("month")
    val outB = Transform(noParse).orderBy("month").collect().map(_.getString(0))
    assert(outB.toSet == Set("January", "February", null))
    // one datetime-parseable value → whole column uses strategy A
    val withParse = Seq("2021-06-01", "jan", "xxx").toDF("month")
    val outA = Transform(withParse).collect().map(_.getString(0))
    assert(outA.count(_ == "June") == 1 && outA.count(_ == null) == 2)
  }

  test("F7 all sentinels map to null (property)") {
    val df = ScalarFns.naSentinels.toDF("v")
    val out = ScalarFns.sentinelsToNull(df).collect().map(_.getString(0))
    assert(out.forall(_ == null))
  }

  test("D1/D2 idempotence: clean(clean(x)) == clean(x)") {
    val df = Seq((1, "a"), (1, "a"), (2, "b"), (2, "c"), (3, "d"))
      .toDF("k", "v")
    val once = Dedup.dropDuplicateRows(df)
    assert(once.count() == Dedup.dropDuplicateRows(once).count())
    val (clean, flagged) = Dedup.conflictSplit("k")(once)
    assert(clean.count() == 2 && flagged.count() == 2) // k=2 conflicts
    val (clean2, flagged2) = Dedup.conflictSplit("k")(clean)
    assert(clean2.count() == clean.count() && flagged2.count() == 0)
  }

  test("DQ quarantine: exact partition, rulebook-order violated_rules") {
    import graft.ops.DqConstraints
    import org.apache.spark.sql.functions.{col, lit}
    val df = Seq((1L, 10.0, 0.02), (2L, -5.0, 0.02), (3L, 60.0, 0.50),
      (4L, 20.0, 0.09), (5L, 30.0, 0.00))
      .toDF("id", "qty", "disc")
    val rules = Seq(
      "qty_nonpositive" -> (col("qty") <= 0),
      "qty_too_big" -> (col("qty") > 50),
      "disc_above_approval" -> (col("disc") > 0.08))
    val (clean, quar) = DqConstraints.quarantine(df, rules)
    // clean ∪ quarantined = input, disjoint by id
    val cleanIds = clean.collect().map(_.getLong(0)).toSet
    val quarIds = quar.select("id").collect().map(_.getLong(0)).toSet
    assert(cleanIds == Set(1L, 5L))
    assert(quarIds == Set(2L, 3L, 4L))
    assert((cleanIds & quarIds).isEmpty)
    assert(clean.columns.toSeq == df.columns.toSeq) // schema untouched
    // violated_rules joins every tripped rule in rulebook order
    val v = quar.select("id", "violated_rules").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(2L) == "qty_nonpositive")
    assert(v(3L) == "qty_too_big,disc_above_approval")
    assert(v(4L) == "disc_above_approval")
    // a row violating NO rule never gains the column; empty rulebook is
    // a loud error, not an everything-clean silent pass
    assertThrows[IllegalArgumentException](
      DqConstraints.quarantine(df, Seq.empty))
    // NULL predicate input routes CLEAN (a NULL rule result is "not
    // violated" — the checkRules counting convention)
    val withNull = Seq((9L, Option.empty[java.lang.Double], 0.01))
      .toDF("id", "qty", "disc")
      .select(col("id"), col("qty").cast("double").as("qty"), col("disc"))
    val (c2, q2) = DqConstraints.quarantine(withNull,
      Seq("qty_nonpositive" -> (col("qty") <= lit(0.0))))
    assert(c2.count() == 1 && q2.count() == 0)
  }

  test("O1 partition property: part1 ∪ pivot ∪ part2 == input") {
    val df = Seq((0L, "1", "x"), (1L, "2", "y"), (2L, "hdr", "cols"),
      (3L, "4", "z")).toDF("idx", "a", "b")
    val (p1, p2opt) = OrderedSplit.embeddedHeaderSplit(
      df, Seq("a", "b"), Projections.allAlphabetic(Seq("a", "b")), "idx")
    assert(p1.count() == 2)
    assert(p2opt.get.count() == 1)
    assert(p2opt.get.columns.toSeq == Seq("hdr", "cols"))
    assert(p1.count() + 1 + p2opt.get.count() == df.count())
  }

  test("S5 router classification") {
    import CsvSource._
    assert(classify("Amazon Sale Report_x.csv") == AmazonSale)
    assert(classify("International Sale Report_x.csv") == InternationalSale)
    assert(classify("Sale Report_x.csv") == PlainSale)
    assert(classify("inventory.csv") == Unrecognized)
  }

  test("S2 raw name filter") {
    assert(CsvSource.rawNameFilter("amazon sale report.csv"))
    assert(!CsvSource.rawNameFilter("sale%20report.csv"))
    assert(!CsvSource.rawNameFilter("sale report.txt"))
  }

  test("JSONL source: schema enforced, corrupt lines quarantined") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toFile
    val f = new java.io.File(dir, "corpus.jsonl")
    java.nio.file.Files.write(f.toPath,
      ("""{"doc_id": 1, "text": "hello world", "lang": "en"}""" + "\n" +
        """{"doc_id": 2, "text": "bonjour", "lang": "fr"}""" + "\n" +
        """not json at all{{""" + "\n" +
        """{"doc_id": "NaN-ish", "text": 42}""" + "\n" +
        """{"doc_id": 3, "text": "ok", "lang": null}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val (clean, corrupt) =
      graft.sources.JsonlSource.read(spark, f.toString, schema)
    try {
      assert(clean.columns.toSeq == Seq("doc_id", "text", "lang"))
      val ids = clean.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L))
      // the type-mismatched line is corrupt (doc_id not a long), the
      // non-JSON line too; the explicit-null line is clean
      assert(corrupt.count() == 2)
    } finally CacheScope.releaseAll()
  }

  test("S3 encoding fallback: ISO-8859-1 bytes decode after fallback") {
    val dir = java.nio.file.Files.createTempDirectory("enc").toFile
    val f = new java.io.File(dir, "latin sale.csv")
    val bytes = "name,city\ncafé,Zürich\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    java.nio.file.Files.write(f.toPath, bytes)
    val out = CsvSource.read(spark, f.getPath).collect()
    assert(out.head.getString(0) == "café")
    assert(out.head.getString(1) == "Zürich")
  }

  /** A CSV file written with `bytes`, read by CsvSource and by the plain
    * header + inferSchema file scan. */
  private def readBoth(bytes: Array[Byte]) = {
    val dir = java.nio.file.Files.createTempDirectory("src").toFile
    val f = new java.io.File(dir, "probe sale.csv")
    java.nio.file.Files.write(f.toPath, bytes)
    (CsvSource.read(spark, f.getPath), spark.read.option("header", "true")
      .option("inferSchema", "true").csv(f.getPath))
  }

  test("S3 encoding: valid UTF-8 holding a literal U+FFFD stays UTF-8") {
    val (df, _) = readBoth("name,mark\ncafé,a\uFFFDb\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val row = df.collect().head
    assert(row.getString(0) == "café")
    assert(row.getString(1) == "a\uFFFDb")
  }

  test("S3: a later copy of the header line is a data row, as in the file scan") {
    val (df, scan) = readBoth("a,b\n1,x\na,b\n2,y\n".getBytes("UTF-8"))
    assert(df.schema == scan.schema)
    assert(df.collect().toSeq == scan.collect().toSeq)
    assert(df.count() == 3)
  }

  test("S3: CRLF and LF line ends give identical frames") {
    val text = "id,name,amount\n1,café,2.5\n\n2,bar,3\n"
    val (lf, scan) = readBoth(text.getBytes("UTF-8"))
    val (crlf, _) = readBoth(text.replace("\n", "\r\n").getBytes("UTF-8"))
    assert(crlf.schema == lf.schema)
    assert(crlf.collect().toSeq == lf.collect().toSeq)
    assert(lf.schema == scan.schema)
    assert(lf.collect().toSeq == scan.collect().toSeq)
    // a UTF-8 byte-order mark is skipped, as the file scan skips it
    val (bom, bomScan) = readBoth(("\uFEFF" + text).getBytes("UTF-8"))
    assert(bom.schema == lf.schema && bomScan.schema == lf.schema)
    assert(bom.collect().toSeq == lf.collect().toSeq)
  }

  test("K4 upsert SQL matches reference ON CONFLICT shape") {
    val sql = Sinks.upsertSql("amazon_sale", Seq("order_id", "date", "amount"),
      Seq("order_id", "date"))
    assert(sql == "INSERT INTO amazon_sale (order_id, date, amount) " +
      "VALUES (?, ?, ?) ON CONFLICT (order_id, date) DO NOTHING")
  }

  test("P8 identity-dup guard: same DataFrame object written once") {
    val df = Seq((1, "x")).toDF("a", "b")
    val empty = df.limit(0)
    val out = java.nio.file.Files.createTempDirectory("p8").toString
    val written = try Sinks.writeCsvAll(
      Seq("first" -> df, "alias_of_first" -> df, "empty" -> empty), out)
    finally CacheScope.releaseAll()
    assert(written == Seq("first"))
  }

  test("P7 empty guard") {
    try {
      assert(CacheScope.isEmpty(Seq.empty[(Int, String)].toDF("a", "b")))
      assert(!CacheScope.isEmpty(Seq((1, "x")).toDF("a", "b")))
    } finally CacheScope.releaseAll()
  }

  test("q_waiting_supplier: EXISTS/NOT-EXISTS plan as hash semi/anti joins") {
    val df = AnalyticsQueries.qWaitingSupplier.run(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    // the non-equi residual must ride a HASH join on l_orderkey, not
    // degrade to an all-pairs nested loop
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("parquet scan: predicates push down, projection prunes columns") {
    val sf = "/root/testdata/sf0.001"
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 10.0)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val plan = df.queryExecution.executedPlan.toString
    // the filter reaches the scan (evaluated inside parquet row groups,
    // enabling statistics/row-group skipping at 100 TB)...
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThan(l_quantity"), plan)
    // ...and the scan schema carries ONLY filter + output columns — a
    // 16-column fact table read as 3 columns of IO
    val readSchema = plan.split("ReadSchema:").last
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(!readSchema.contains("l_shipdate"), readSchema)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      Tables.orders(spark, sf).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(s"$dir/fact")
      val fact = spark.read.parquet(s"$dir/fact")
      // the dim must be a SCANNED source with a real Filter node — a
      // local Seq would constant-fold the filter away and DPP's
      // selectivity check would see nothing to prune with
      Seq(("F", "finished"), ("X", "unused")).toDF("status", "label")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val dim = spark.read.parquet(s"$dir/dim")
        .filter(col("label") === "finished")
      val joined = fact.join(dim, col("o_orderstatus") === col("status"))
      val plan = joined.queryExecution.executedPlan.toString
      // the fact scan's partition filter is a RUNTIME subquery fed by the
      // dim side — only matching partition directories are read
      assert(plan.contains("dynamicpruning"), plan)
      val expected = Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "F").count()
      assert(joined.count() == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ORC round-trip: schema and rows survive the columnar sink") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    try {
      val orders = Tables.orders(spark, sf)
      orders.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.schema == orders.schema)
      assert(back.count() == orders.count())
      assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
      // ORC scans take pushed filters too — same contract as parquet
      val plan = back.filter(col("o_totalprice") > 1000.0)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: ["), plan)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bucketed tables: co-located key join plans with NO shuffle exchange") {
    val sf = "/root/testdata/sf0.001"
    Sinks.writeBucketed(Tables.orders(spark, sf), "orders_bkt",
      Seq("o_orderkey"), 4, sortCols = Seq("o_orderkey"))
    Sinks.writeBucketed(Tables.lineitem(spark, sf), "lineitem_bkt",
      Seq("l_orderkey"), 4, sortCols = Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
      // and it still computes the right thing
      val expected = Tables.orders(spark, sf).join(
        Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == expected)
      // grouped aggregation on the bucket key rides the bucketing too:
      // the catalog's output partitioning satisfies the agg's
      // distribution requirement, so there is no Exchange either
      val agg = spark.table("orders_bkt").groupBy("o_orderkey").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(agg.count() == Tables.orders(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("F9 timestampedKey: UTC-stamped object key shape") {
    val at = java.time.Instant.parse("2024-01-02T03:04:05Z")
    assert(ScalarFns.timestampedKey("cleaned-zone", "amazon_sale", at)
      == "cleaned-zone/amazon_sale_2024-01-02_03-04-05.csv")
  }

  test("F10 withAudit: appends loaded_at + data_source literal columns") {
    val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05")
    val out = ScalarFns.withAudit("part1", ts)(Seq("a").toDF("c"))
    assert(out.columns.toSeq == Seq("c", "loaded_at", "data_source"))
    val row = out.collect()(0)
    assert(row.getTimestamp(1) == ts && row.getString(2) == "part1")
  }

  test("A1 profile: describe-parity stats, nulls for non-numeric, ddof=1") {
    val df = Seq(
      (1.0: java.lang.Double, "x"), (2.0: java.lang.Double, "y"),
      (3.0: java.lang.Double, null), (null: java.lang.Double, "y"))
      .toDF("num", "str")
    val rows = Profiling.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val n = rows("num")
    assert(n.getLong(1) == 3 && n.getLong(2) == 1 && n.getLong(3) == 3)
    assert(n.getDouble(6) == 2.0)           // mean of 1,2,3
    assert(n.getDouble(7) == 1.0)           // sample std (ddof=1)
    assert(n.getDouble(8) == 1.5 && n.getDouble(9) == 2.0
      && n.getDouble(10) == 2.5)            // interpolated quartiles
    val s = rows("str")
    assert(s.getLong(1) == 3 && s.getLong(2) == 1)
    (6 to 10).foreach(i => assert(s.isNullAt(i))) // non-numeric → null stats
    // single-input-scan plan: no union of per-column aggregates
    val plan = Profiling.profile(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Union"))
  }

  test("A1 profile: n=1 column has null std, n=0 column has null stats") {
    val df = Seq((java.lang.Double.valueOf(5.0), null: java.lang.Double))
      .toDF("one", "none")
    val rows = Profiling.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("one").getDouble(6) == 5.0 && rows("one").isNullAt(7))
    (6 to 10).foreach(i => assert(rows("none").isNullAt(i)))
  }

  test("AsofJoin: backward inclusive, row-level null carry, no-match null") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 5L, "p0"),
      (2L, 15L, "p3")).toDF("k", "ts", "pid")
    // right row at ts=18 has a genuinely-NULL v: the match for ts=20 must
    // keep that NULL, not fall back to ts=8's "a" (row-level semantics)
    val right = Seq((1L, 8L, Option("a")), (1L, 10L, Option("b")),
      (1L, 18L, None: Option[String]), (2L, 99L, Option("z")))
      .toDF("k", "ts", "v")
    val out = AsofJoin(left, right, Seq("k"), "ts", "ts")
      .orderBy("k", "ts").collect()
    // ts=5: no right at-or-before → null; ts=10: tie is INCLUSIVE → "b";
    // ts=20: latest right is ts=18 whose v is null → null (not "a");
    // k=2 ts=15: right only at 99 (future) → null
    assert(out.map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(3)))).toSeq == Seq(
      (1L, 5L, None), (1L, 10L, Some("b")), (1L, 20L, None),
      (2L, 15L, None)))
    // exactly one Exchange: the union shuffles ONCE on the key
    val plan = AsofJoin(left, right, Seq("k"), "ts", "ts")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length == 2)
  }

  test("GraftExtensions: native functions callable from SQL") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      """SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))""")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql(
      "SELECT size(shingle_hashes('a b c d', 2))").head().getInt(0)
    assert(sh == 3) // "a b", "b c", "c d"
    spark.range(10).createOrReplaceTempView("ext_nums")
    val tk = spark.sql(
      """SELECT top_k(CAST(id AS DOUBLE), id, 3) FROM ext_nums""")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(_.getLong(0)) == Seq(9L, 8L, 7L))
    val kmv = spark.sql(
      "SELECT kmv_sketch(id, 4) FROM ext_nums").head().getSeq[Long](0)
    assert(kmv == Seq(0L, 1L, 2L, 3L))
    // non-literal k is rejected with a clear message
    val err = intercept[Exception](
      spark.sql("SELECT kmv_sketch(id, CAST(id AS INT)) FROM ext_nums")
        .head())
    assert(err.getMessage.contains("INT literal")
      || Option(err.getCause).exists(_.getMessage.contains("INT literal")))
    // nfc: decomposed e+U+0301 composes to precomposed U+00E9; already-
    // normalized and NULL inputs pass through
    val nfcRow = spark.sql(
      "SELECT nfc('cafe\\u0301'), nfc('abc'), nfc(CAST(NULL AS STRING))")
      .head()
    assert(nfcRow.getString(0) == "caf\u00E9")
    assert(nfcRow.getString(1) == "abc")
    assert(nfcRow.isNullAt(2))
    // int_dot: exact integer arithmetic in BIGINT
    val idot = spark.sql(
      "SELECT int_dot(array(1, 2, 3), array(4, 5, 6))").head().getLong(0)
    assert(idot == 32L)
    // hll_sketch: 2^p registers; estimate matches the Column-API path
    val sk = spark.sql(
      "SELECT hll_sketch(id, 4) FROM ext_nums").head().getSeq[Int](0)
    assert(sk.length == 16)
    val sqlEst = spark.sql("SELECT hll_sketch(id, 4) AS sk FROM ext_nums")
      .select(graft.ops.IncrementalAgg.hllEstimate(col("sk"), 4))
      .head().getDouble(0)
    val colEst = spark.range(10).toDF("id")
      .agg(graft.functions.HllAgg.hll_sketch(col("id"), 4).as("sk"))
      .select(graft.ops.IncrementalAgg.hllEstimate(col("sk"), 4))
      .head().getDouble(0)
    assert(sqlEst == colEst, "SQL and Column hll_sketch must agree")
  }

  test("CartesianGuard: vetoes big all-pairs joins, passes safe plans") {
    import graft.plans.CartesianGuard
    CartesianGuard.register(spark)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("value"))
    val ev2 = ev.select(col("event_id").as("e2"), col("user_id").as("u2"),
      col("value").as("v2"))
    def nonEqui = ev.join(ev2, abs(col("value") - col("v2")) < 0.001)
    try {
      spark.conf.set(CartesianGuard.enabledKey, "true")
      spark.conf.set(CartesianGuard.thresholdKey, "1024") // events >> 1KB
      // the optimizer wraps rule exceptions; check the cause chain
      val err = intercept[Exception](nonEqui.queryExecution.executedPlan)
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("BandAgg"), msgs.take(500))
      // a small broadcast side is a legitimate nested loop: passes
      val tiny = spark.range(3).select(col("id").cast("double").as("v2"))
      assert(ev.join(broadcast(tiny), abs(col("value") - col("v2")) < 0.001)
        .count() >= 0)
      // equi-joins of any size pass
      assert(ev.join(ev2, col("event_id") === col("e2")).count() > 0)
      // guard off (the default): the same non-equi join plans fine
      spark.conf.set(CartesianGuard.enabledKey, "false")
      nonEqui.queryExecution.executedPlan
    } finally {
      spark.conf.set(CartesianGuard.enabledKey, "false")
      spark.conf.unset(CartesianGuard.thresholdKey)
    }
  }

  test("profile(approx): sketch quartiles track exact within rank error") {
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
    def quartiles(exact: Boolean): Map[String, (Double, Double, Double)] =
      Profiling.profile(df, exactQuantiles = exact)
        .filter(col("q25").isNotNull)
        .select("column", "q25", "median", "q75").collect()
        .map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val ex = quartiles(exact = true)
    val ap = quartiles(exact = false)
    assert(ex.keySet == ap.keySet && ex.keySet == Set(
      "l_quantity", "l_extendedprice"))
    for (c <- ex.keys) {
      val ((a1, a2, a3), (b1, b2, b3)) = (ex(c), ap(c))
      // GK accuracy 10000 on ~6k rows: rank error < 1 row, but values
      // land on actual data points vs interpolation — allow 2% relative
      def close(x: Double, y: Double) = math.abs(x - y) <= 0.02 * math.abs(x)
      assert(close(a1, b1) && close(a2, b2) && close(a3, b3), c)
    }
    // non-numeric column stays all-null in both
    assert(Profiling.profile(df, exactQuantiles = false)
      .filter(col("column") === "l_returnflag")
      .select("q25").head().isNullAt(0))
  }

  test("NfcNormalize: codegen'd (not CodegenFallback), both paths agree") {
    import graft.functions.NfcNormalize
    assert(!NfcNormalize(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString("x"),
      org.apache.spark.sql.types.StringType)).isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
    val df = spark.range(3).select(
      concat(lit("A\u030A e\u0301 x"), col("id").cast("string")).as("t"))
    val expected = (0 until 3).map(i => "\u00C5 \u00E9 x" + i)
    for (flag <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", flag)
      try {
        val got = df.select(NfcNormalize.nfc(col("t")))
          .collect().map(_.getString(0)).toSeq
        assert(got == expected, s"wholeStage=$flag")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("clustered parquet sink: one file per partition, sorted within") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("clustered").toString
    Sinks.writeClusteredParquet(docs, dir,
      partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
    val root = new java.io.File(dir)
    val partDirs = root.listFiles().filter(_.getName.startsWith("lang="))
    assert(partDirs.length == 5) // en/fr/de/es/zh
    partDirs.foreach { p =>
      val files = p.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${p.getName}: ${files.length} files")
      // rows inside the single file are clustered on doc_id
      val ids = spark.read.parquet(files.head.getPath)
        .select("doc_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"${p.getName} not sorted")
    }
    // round-trip completeness
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("salted join: equals the plain join, joins on the salt key") {
    val left = (1 to 100)
      .map(i => (if (i % 2 == 0) 1L else i.toLong, i.toLong))
      .toDF("k", "rid")
    val right = Seq((1L, "hot"), (3L, "a"), (5L, "b")).toDF("k", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("rid", "v").as[(Long, String)].collect().sorted.toSeq
    val plain = rows(left.join(right, Seq("k")))
    val salted = rows(SkewJoin.saltedJoin(left, right, Seq("k"), 4,
      leftSaltCols = Seq("rid")))
    // 50 evens + i=1 itself hit the hot key, plus the 2 singletons
    assert(salted == plain && plain.size == 53)
    // the physical join really keys on (k, __salt) — the hot key is
    // spread across salt buckets, not funneled to one task
    val plan = SkewJoin.saltedJoin(left, right, Seq("k"), 4, Seq("rid"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"))
    // reserved-name collision is rejected
    intercept[IllegalArgumentException](SkewJoin.saltedJoin(
      left.withColumnRenamed("rid", "__salt"), right, Seq("k"), 4,
      Seq("k")))
  }

  test("zorder: interleave matches reference bits, bucket is monotone") {
    // reference interleave (dim i bit b -> position b*ndims+i)
    def zref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).sum
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (127L, 127L), (3L, 5L),
      (64L, 2L))
    val out = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Sinks.zorderValue(Seq(col("x"), col("y")), 7).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (x, y, z) => assert(z == zref(x, y, 7), s"($x,$y)") }
    // zBucket: integer rescale into [0, 2^bits), monotone, endpoints hit
    val b = spark.range(0, 1000)
      .select(Sinks.zBucket(col("id"), lit(0L), lit(999L), 8).as("b"))
      .as[Long].collect()
    assert(b.head == 0L && b.last == 255L && b.min == 0L && b.max == 255L)
    assert(b.sameElements(b.sorted))
  }

  test("zorder sink: every file covers a small box in BOTH dimensions") {
    val grid = spark.range(128L * 128L)
      .select((col("id") % 128).as("x"), (col("id") / 128).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    Sinks.writeZOrdered(grid, dir, Seq("x", "y"), bits = 7, numFiles = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 4) // range partitioner may merge a few
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y")).head()
      ((r.getLong(1) - r.getLong(0)) / 128.0,
        (r.getLong(3) - r.getLong(2)) / 128.0)
    }
    val (mx, my) = (spans.map(_._1).sum / spans.length,
      spans.map(_._2).sum / spans.length)
    // a single-key sort layout leaves the OTHER dimension's span at ~1.0
    // per file; the z-curve bounds both, so min/max file skipping works
    // for filters on either column
    assert(mx < 0.6 && my < 0.6, s"mean spans x=$mx y=$my")
    // round-trip completeness, helper columns dropped
    val back = spark.read.parquet(dir)
    assert(back.columns.sorted.sameElements(Array("x", "y")))
    assert(back.count() == 128L * 128L)
  }

  test("BandAgg: equals the brute-force pairwise aggregate, including " +
      "nulls, duplicate keys, hot keys, and empty bands") {
    import org.apache.spark.sql.types.DecimalType
    // adversarial layout: a hot key (30 rows at k=500, several sharing
    // values), duplicate keys elsewhere, NULL values, a NULL key on each
    // side, band edges landing exactly on points, and left rows whose
    // band is empty
    val right = ((1L to 30L).map(i =>
      (i, 500L, if (i % 5 == 0) null else s"${i * 1.5}")) ++ Seq(
      (31L, 100L, "2.25"), (32L, 100L, null), (33L, 199L, "7.0"),
      (34L, 201L, "-3.5"), (35L, 9000L, "1.0"),
      (36L, null, "99.0"))) // NULL key matches nothing
      .map { case (i, k, v) =>
        (i, k.asInstanceOf[java.lang.Long],
          Option(v).map(_.toDouble).map(Double.box).orNull
            .asInstanceOf[java.lang.Double])
      }.toDF("rid", "rk", "rv")
    val left = Seq(1L -> 100L, 2L -> 500L, 3L -> 300L, 4L -> 99L,
      5L -> 20000L, 6L -> null.asInstanceOf[java.lang.Long])
      .map { case (i, k) => (i, k.asInstanceOf[java.lang.Long]) }
      .toDF("lid", "lk")
    val tol = 100L
    val got = BandAgg(left, "lid", "lk", right, "rk", "rv", tol)
      .orderBy("lid")
      .select(col("lid"), col("band_cnt"), col("band_nn"),
        col("band_val").cast("double"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    // brute force over the same frames (the semantics being replaced)
    val brute = left.join(right,
        abs(col("lk") - col("rk")) <= tol, "inner")
      .groupBy(col("lid"))
      .agg(count(lit(1)).as("c"),
        count(col("rv")).as("nn"),
        sum(col("rv").cast(DecimalType(38, 2))).cast("double").as("v"))
      .orderBy("lid")
      .as[(Long, Long, Long, java.lang.Double)].collect().toSeq
    val gotNonEmpty = got.filter(_._2 > 0L)
      .map { case (id, c, nn, v) =>
        (id, c, nn, if (nn == 0L) null else Double.box(v)) }
    assert(gotNonEmpty == brute,
      s"band aggregate drifted from pairwise:\n$gotNonEmpty\nvs\n$brute")
    // empty bands and NULL left keys come back as explicit zero rows
    assert(got.filter(_._2 == 0L).map(_._1) == Seq(5L),
      "empty-band left rows must surface with band_cnt = 0")
    // decimal exactness at the band edge: lid=1 (k=100) spans [0,200] —
    // 2.25 + 7.0 with the 201 point excluded and the NULL uncounted
    val lid1 = got.find(_._1 == 1L).get
    assert(lid1 == ((1L, 3L, 2L, 9.25)), s"edge inclusivity: $lid1")
    graft.ops.CacheScope.releaseAll()
  }

  test("BandAgg: plan is pair-free — no join of point rows, windows " +
      "partitioned or per-partition-total-grained") {
    val l = (1L to 50L).map(i => (i, i * 10L)).toDF("lid", "lk")
    val r = (1L to 50L).map(i => (i, i * 7L, i * 1.0)).toDF("rid", "rk", "rv")
    val plan = BandAgg(l, "lid", "lk", r, "rk", "rv", 25L)
      .queryExecution.executedPlan.toString
    graft.ops.CacheScope.releaseAll()
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      "BandAgg planned a pair-producing join")
    // the one range exchange is the prefix backbone
    assert(plan.contains("rangepartitioning"),
      "BandAgg lost its range-partitioned prefix backbone")
  }

  test("BandAgg: a single pathological key spreads across range " +
      "partitions via the salt and still sums exactly") {
    // ONE key owns the whole right side (the flash-sale instant): the
    // r14 shape concentrated it in one range partition (equal keys are
    // never split), one task sorting the band; the r15 __salt sort-key
    // tiebreak lets the sampled boundaries cut inside the hot key's
    // point mass. Correctness first: exact decimal totals against the
    // closed form, band edges inclusive, off-band points excluded.
    val hotN = 5000L
    val right = spark.range(1L, hotN + 1L)
      .select(col("id").as("rid"), lit(1000L).as("rk"),
        (col("id") % 97L).cast("double").as("rv"))
    val left = Seq((1L, 1000L), (2L, 995L), (3L, 2000L))
      .toDF("lid", "lk")
    val got = BandAgg(left, "lid", "lk", right, "rk", "rv", 10L)
      .orderBy("lid")
      .select(col("lid"), col("band_cnt"),
        col("band_val").cast("double"))
      .as[(Long, Long, Double)].collect().toSeq
    val total = (1L to hotN).map(_ % 97L).sum.toDouble
    assert(got == Seq((1L, hotN, total), (2L, hotN, total), (3L, 0L, 0.0)),
      s"hot-key band aggregate drifted: $got")
    // and the salt is actually in the range-partition key
    val plan = BandAgg(left, "lid", "lk", right, "rk", "rv", 10L)
      .queryExecution.executedPlan.toString
    graft.ops.CacheScope.releaseAll()
    assert(plan.contains("__salt"),
      "BandAgg lost its hot-key salt in the range partitioning")
  }

  test("AsofJoin rejects colliding right value column names") {
    val l = Seq((1L, 1L, "x")).toDF("k", "ts", "v")
    val r = Seq((1L, 1L, "y")).toDF("k", "ts", "v")
    intercept[IllegalArgumentException](AsofJoin(l, r, Seq("k"), "ts", "ts"))
  }

  test("variant extraction: typed get, missing key → NULL, = from_json") {
    import org.apache.spark.sql.types._
    val df = Seq((1L, """{"k": 42}"""), (2L, """{"k": 0}"""),
      (3L, """{"other": 7}"""), (4L, """{"k": -5, "extra": [1,2]}"""))
      .toDF("id", "props")
    val viaVariant = df.select(col("id"),
      variant_get(parse_json(col("props")), "$.k", "int").as("k"))
      .as[(Long, Option[Int])].collect().toMap
    assert(viaVariant == Map(1L -> Some(42), 2L -> Some(0),
      3L -> None, 4L -> Some(-5)))
    // the schema-ful classic path agrees with the schemaless variant path
    val viaFromJson = df.select(col("id"),
      from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
        .getField("k").as("k"))
      .as[(Long, Option[Int])].collect().toMap
    assert(viaFromJson == viaVariant)
  }

  test("Cdc.applyChanges: latest-wins, deletes drop, inserts land, no window") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "st", "pr")
    val changes = Seq(
      (1L, 1L, "U", "a2", 11.0),  // plain update
      (2L, 1L, "U", "b2", 21.0),  // update then delete: delete wins by seq
      (2L, 2L, "D", "", 0.0),
      (3L, 2L, "U", "c3", 33.0),  // out-of-order arrival: seq 2 beats seq 1
      (3L, 1L, "U", "c2", 32.0),
      (9L, 1L, "U", "new", 99.0)) // insert under a fresh key
      .toDF("k", "seq", "op", "st", "pr")
    val out = Cdc.applyChanges(base, changes, Seq("k"), "seq", "op",
      Seq("st", "pr"))
    val got = out.as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a2", 11.0), (3L, "c3", 33.0), (9L, "new", 99.0)))
    // windowless: one hash aggregate, no Window/Sort in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
  }

  test("runtime bloom filter: selective dim filter reaches the fact scan") {
    // the 100 TB story: a selective filter on the dimension side of a
    // shuffle join sows a bloom filter onto the fact side, so the big
    // scan drops non-joining rows BEFORE the exchange
    val sf = "/root/testdata/sf0.001"
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        "100MB",
      // the injection rule requires a LARGE application side; the prod
      // default (10GB) is exactly right at 100 TB and excludes the tiny
      // test table, so drop it to 0 for the plan assertion only
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables.lineitem(spark, sf)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter injected:\n$optimized")
      assert(joined.collect().map(_.getLong(1)).sum > 0)
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("ORC sink: round-trip identity and pushed filters on the read") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val src = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_returnflag"))
    graft.sinks.Sinks.writeOrc(src, dir)
    val back = graft.sinks.Sinks.readOrc(spark, dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    val srcAgg = src.groupBy(col("l_returnflag"))
      .agg(Det.dsum(col("l_quantity"))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val backAgg = back.groupBy(col("l_returnflag"))
      .agg(Det.dsum(col("l_quantity"))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(backAgg == srcAgg, "ORC round trip must preserve every value")
    // scan-tightness: the predicate must reach the ORC scan
    val plan = back.filter(col("l_quantity") > 30.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)]") ||
      plan.contains("GreaterThan(l_quantity,30.0)"),
      s"filter not pushed to the ORC scan:\n${plan.take(800)}")
  }

  // ---- CacheScope.all: the fan-out contract ------------------------------

  test("CacheScope.all: what branches persist and count, the caller's " +
      "releaseAll frees") {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.clearCache(spark)
    val frames = (1 to 4).map(i => spark.range(i * 10L).toDF("id"))
    val rows = try {
      val r = CacheScope.all(frames.map(df => () => CacheScope.counts(df).rows))
      assert(frames.forall(_.storageLevel != StorageLevel.NONE))
      // the branches' counts are recorded in the caller's scope
      assert(jobsDuring(frames.foreach(CacheScope.counts(_): Unit)) == 0)
      r
    } finally CacheScope.releaseAll()
    assert(rows == Seq(10L, 20L, 30L, 40L))
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    assert(Bridge.cacheIsEmpty(spark))
  }

  test("CacheScope.all: when a branch fails, the others finish first, " +
      "then the first failure is rethrown") {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.clearCache(spark)
    val finished = new java.util.concurrent.atomic.AtomicInteger()
    val slow = spark.range(100L).toDF("id")
    val e = intercept[IllegalStateException] {
      try CacheScope.all(Seq[() => Any](
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); CacheScope.counts(slow); finished.incrementAndGet() },
        () => throw new IllegalArgumentException("second")))
      finally CacheScope.releaseAll()
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(finished.get == 1)
    assert(Bridge.cacheIsEmpty(spark))
  }

  test("CacheScope.all: nested calls run every branch at once, no branch " +
      "outlives the call, and a call forks at most four threads") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    // nine leaves that can only pass the barrier together: a pool that
    // queued, or a nested call that waited on its parent's thread, would
    // time the barrier out
    val barrier = new CyclicBarrier(9)
    val sums = CacheScope.all((0 until 3).map(i => () =>
      CacheScope.all((0 until 3).map(j => () => {
        barrier.await(60, TimeUnit.SECONDS); i * 3 + j
      })).sum))
    assert(sums == Seq(3, 12, 21))
    val running = new java.util.concurrent.atomic.AtomicInteger()
    CacheScope.all((1 to 5).map(i => () => {
      running.incrementAndGet(); Thread.sleep(40L * i); running.decrementAndGet()
    }))
    assert(running.get == 0)
    intercept[IllegalArgumentException](CacheScope.all(Seq.fill(6)(() => 1)))
  }

  test("CacheScope: an unrelated thread's scope is its own — this " +
      "thread's releaseAll leaves its frames cached") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val other = spark.range(5L).toDF("id")
    val mine = spark.range(6L).toDF("id")
    val filled = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val t = new Thread(() => {
      try {
        CacheScope.counts(other)
        filled.countDown()
        done.await(60, TimeUnit.SECONDS)
      } finally CacheScope.releaseAll()
      ()
    })
    t.start()
    assert(filled.await(60, TimeUnit.SECONDS))
    try CacheScope.counts(mine) finally CacheScope.releaseAll()
    assert(mine.storageLevel == StorageLevel.NONE)
    assert(other.storageLevel != StorageLevel.NONE)
    done.countDown()
    t.join(60000)
    assert(other.storageLevel == StorageLevel.NONE)
  }

  test("CacheScope.eachFrame: frames that read one unfilled cache fill it " +
      "once, as one after the other would") {
    def frames() = {
      val parent = CacheScope.persist(spark.range(1000L).toDF("id")
        .withColumn("k", col("id") % 7))
      Seq(parent.filter(col("k") === 1), spark.range(3L).toDF("id"),
        parent.filter(col("k") > 1))
    }
    val serial = jobsDuring {
      try frames().foreach(CacheScope.counts(_): Unit)
      finally CacheScope.releaseAll()
    }
    var rows = Seq.empty[Long]
    val fanned = jobsDuring {
      try rows = CacheScope.eachFrame(frames())(identity)(CacheScope.counts(_).rows)
      finally CacheScope.releaseAll()
    }
    assert(fanned == serial)
    assert(rows == Seq(143L, 3L, 714L))
  }
}
