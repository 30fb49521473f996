package graft

import java.sql.{Connection, DriverManager, Timestamp}

import org.apache.spark.sql.types.{IntegerType, TimestampType}
import org.apache.spark.storage.StorageLevel

import graft.sinks.{PgLoad, Sinks}

/** Integration spec for the assembled Postgres load path, run against
  * embedded Derby (the JDBC engine shipped with Spark) through PgLoad's
  * dialect hooks — same orchestration code, Derby-compatible SQL text.
  * Derby is in-process, so executor-side `foreachPartition` connections
  * land in the same in-memory database under local[*].
  */
class PgLoadSpec extends SparkSpec {
  import spark.implicits._

  private def q(id: String) = "\"" + id + "\""

  /** Derby renderings of the four reference tables: same columns, same
    * order, same constraints where Derby supports them (CHECK yes,
    * ON CONFLICT no). TEXT→VARCHAR, SERIAL→IDENTITY; identifiers quoted
    * (`date`, `size` collide with reserved words). */
  private def derbyDdl(name: String, serialCol: Option[String],
      cols: Seq[(String, String)], tail: String = ""): String = {
    val idCol = serialCol.map(c =>
      s"${q(c)} INTEGER GENERATED ALWAYS AS IDENTITY PRIMARY KEY, ").getOrElse("")
    val colDefs = cols.map { case (n, t) => s"${q(n)} $t" }.mkString(", ")
    s"CREATE TABLE ${q(name)} ($idCol$colDefs$tail)"
  }

  private val amazonCols = Seq(
    "order_id" -> "VARCHAR(100) NOT NULL", "date" -> "DATE NOT NULL",
    "status" -> "VARCHAR(100)", "fulfillment" -> "VARCHAR(100)",
    "sales_channel" -> "VARCHAR(100)", "ship_service_level" -> "VARCHAR(100)",
    "sku" -> "VARCHAR(100)", "category" -> "VARCHAR(100)",
    "size" -> "VARCHAR(100)", "asin" -> "VARCHAR(100)",
    "courier_status" -> "VARCHAR(100)", "quantity" -> "INTEGER",
    "amount" -> "FLOAT", "ship_city" -> "VARCHAR(100)",
    "ship_state" -> "VARCHAR(100)", "ship_postal_code" -> "FLOAT",
    "ship_country" -> "VARCHAR(100)", "b2b" -> "VARCHAR(100)",
    "loaded_at" -> "TIMESTAMP")

  private def ddls(dbSuffix: String): Seq[String] = Seq(
    derbyDdl("amazon_sale", None, amazonCols,
      s", PRIMARY KEY (${q("order_id")}, ${q("date")})"),
    derbyDdl("amazon_sale_version", Some("version_id"), amazonCols),
    derbyDdl("sale", Some("id"), Seq(
      "sku_code" -> "VARCHAR(100) NOT NULL", "design_no" -> "VARCHAR(100)",
      "stock" -> "INTEGER", "category" -> "VARCHAR(100)",
      "size" -> "VARCHAR(100)", "color" -> "VARCHAR(100)",
      "loaded_at" -> "TIMESTAMP")),
    derbyDdl("international_sales", Some("id"), Seq(
      "data_source" -> ("VARCHAR(10) CHECK (" +
        q("data_source") + " IN ('part1', 'part2'))"),
      "customer" -> "VARCHAR(100)", "date" -> "DATE",
      "months" -> "VARCHAR(100)", "style" -> "VARCHAR(100)",
      "sku" -> "VARCHAR(100)", "pcs" -> "INTEGER", "rate" -> "VARCHAR(100)",
      "gross_amount" -> "FLOAT", "size" -> "VARCHAR(100)",
      "stock" -> "INTEGER", "loaded_at" -> "TIMESTAMP"))) ++
    identityWarmup

  /** Derby allocates an IDENTITY column's value range on the table's
    * first insert. When that allocation races a concurrent compile of
    * the same INSERT on another connection (the sink's per-partition
    * writers), it cannot get the catalog row lock and fails with 40XL1
    * ("A lock could not be obtained", SequenceUpdater contention).
    * One serial insert per IDENTITY table right after the DDL allocates
    * the range up front; the sink's concurrent inserts then draw from
    * the cached range. The row is deleted again, so every table starts
    * empty (ids start at 2 instead of 1; no test reads them). */
  private val identityWarmup: Seq[String] = Seq(
    "amazon_sale_version" ->
      s"(${q("order_id")}, ${q("date")}) VALUES ('warmup', DATE('2000-01-01'))",
    "sale" -> s"(${q("sku_code")}) VALUES ('warmup')",
    "international_sales" -> s"(${q("customer")}) VALUES ('warmup')")
    .flatMap { case (t, row) =>
      Seq(s"INSERT INTO ${q(t)} $row", s"DELETE FROM ${q(t)}")
    }

  /** Quoted-identifier SQL text for the hooks (Derby rejects bare `date`). */
  private def quotedInsert(table: String, cols: Seq[String]): String =
    s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
  private def quotedUpsert(table: String, cols: Seq[String],
      conflict: Seq[String]): String = quotedInsert(table, cols)
  private def quotedPromote(stage: String, target: String,
      cols: Seq[String], conflict: Seq[String]): String = {
    val collist = cols.map(q).mkString(", ")
    s"INSERT INTO ${q(target)} ($collist) SELECT $collist FROM ${q(stage)}"
  }

  private def freshDb(name: String): () => Connection = {
    val url = s"jdbc:derby:memory:$name;create=true"
    () => DriverManager.getConnection(url)
  }

  private def queryLong(connect: () => Connection, sql: String): Long = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private val loadedAt = Timestamp.valueOf("2024-01-02 03:04:05")

  /** Jobs one `runWithPg` starts on the three landing fixtures, as the
    * handler ran them one after another. */
  private val HandlerJobs = 30

  private def fixtures = (
    // amazon clean: date/amount arrive as cleaned STRINGS (pipeline shape)
    Seq(("O1", "2022-04-30", "shipped", "merchant", 2, "449.5", "mumbai"),
      ("O2", "2022-05-01", "cancelled", "amazon", 1, "99.0", "delhi"))
      .toDF("order_id", "date", "status", "fulfillment", "quantity",
        "amount", "ship_city"),
    Seq(("O9", "2022-04-30", "shipped", "amazon", 3, "10.0", "pune"),
      ("O9", "2022-04-30", "shipped", "amazon", 4, "12.0", "pune"))
      .toDF("order_id", "date", "status", "fulfillment", "quantity",
        "amount", "ship_city"),
    Seq(("SKU1", "D1", 5, "kurta", "M", "red"),
      ("SKU2", "D2", 0, "top", "S", "blue"))
      .toDF("sku_code", "design_no", "stock", "category", "size", "color"),
    // international part1: missing size/stock → O2 padding must fill nulls
    Seq(("CUST A", "2022-06-05", "June", "ST1", "SKU1", "3", "120.5", "361.5"))
      .toDF("customer", "date", "months", "style", "sku", "pcs", "rate",
        "gross_amount"),
    // part2: pcs/gross_amount numeric already (post-Transform shape)
    Seq(("CUST B", "2022-06-06", "June", "ST2", "SKU2", 4, "99.0", 396.0))
      .toDF("customer", "date", "months", "style", "sku", "pcs", "rate",
        "gross_amount"))

  test("loadAll: full 5-frame orchestration lands typed rows (Derby)") {
    val connect = freshDb("graftpg1")
    PgLoad.runDdl(connect, ddls("1"))
    val (am, fl, sa, i1, i2) = fixtures
    val written = PgLoad.loadAll(am, fl, sa, i1, i2, loadedAt, connect,
      upsertSqlFor = quotedUpsert, insertSqlFor = quotedInsert,
      createTables = false)
    assert(written == Seq("amazon_sale", "amazon_sale_version", "sale",
      "international_sales"))
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("amazon_sale")}") == 2)
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("amazon_sale_version")}") == 2)
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("sale")}") == 2)
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("international_sales")}") == 2)
    // O2 padding: part1 row has NULL size/stock but tagged source + audit
    assert(queryLong(connect,
      s"""SELECT count(*) FROM ${q("international_sales")}
          WHERE ${q("data_source")} = 'part1' AND ${q("size")} IS NULL
            AND ${q("stock")} IS NULL AND ${q("loaded_at")} IS NOT NULL""") == 1)
    // typed coercion: amount survived as a number, date as a real DATE
    assert(queryLong(connect,
      s"""SELECT count(*) FROM ${q("amazon_sale")}
          WHERE ${q("amount")} > 90""") == 2)
    assert(queryLong(connect,
      s"""SELECT count(*) FROM ${q("amazon_sale")}
          WHERE ${q("date")} = DATE('2022-04-30')""") == 1)
    // CHECK constraint is live: a bad data_source is rejected
    val c = connect()
    try {
      intercept[java.sql.SQLException] {
        c.createStatement().execute(
          s"""INSERT INTO ${q("international_sales")}
              (${q("data_source")}, ${q("customer")})
              VALUES ('part3', 'X')""")
      }
    } finally c.close()
  }

  test("loadAllStaged: single-commit promotion, stages dropped (Derby)") {
    val connect = freshDb("graftpg2")
    PgLoad.runDdl(connect, ddls("2"))
    val (am, fl, sa, i1, i2) = fixtures
    val written = PgLoad.loadAllStaged(am, fl, sa, i1, i2, loadedAt, connect,
      promoteSqlFor = quotedPromote, createTables = false)
    assert(written.toSet ==
      Set("amazon_sale", "amazon_sale_version", "sale", "international_sales"))
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("amazon_sale")}") == 2)
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("international_sales")}") == 2)
    // stage tables are gone
    val c = connect()
    try {
      val rs = c.getMetaData.getTables(null, null, "%stage%", null)
      assert(!rs.next())
    } finally c.close()
  }

  test("loadAllStaged: failed promotion rolls back ALL targets (K6)") {
    val connect = freshDb("graftpg3")
    PgLoad.runDdl(connect, ddls("3"))
    val (am, fl, sa, i1, i2) = fixtures
    var calls = 0
    val failLast: (String, String, Seq[String], Seq[String]) => String =
      (stage, target, cols, cc) => {
        calls += 1
        if (calls == 5) s"INSERT INTO ${q(target)} (${q("customer")}) " +
          s"SELECT ${q("no_such_col")} FROM ${q(stage)}" // boom on the LAST one
        else quotedPromote(stage, target, cols, cc)
      }
    intercept[java.sql.SQLException] {
      PgLoad.loadAllStaged(am, fl, sa, i1, i2, loadedAt, connect,
        promoteSqlFor = failLast, createTables = false)
    }
    // all-or-nothing: earlier promotions rolled back with the failed one
    Seq("amazon_sale", "amazon_sale_version", "sale", "international_sales")
      .foreach { t =>
        assert(queryLong(connect, s"SELECT count(*) FROM ${q(t)}") == 0,
          s"table $t should be empty after rollback")
      }
  }

  test("loadAllStaged: a batch committed under a LEGACY ledger key " +
    "replays as a no-op across the namespace upgrade") {
    val connect = freshDb("graftpglegacy")
    PgLoad.runDdl(connect, ddls("legacy"))
    val (am, fl, sa, i1, i2) = fixtures
    // the OLD release commits the batch under its (raw-spelling) key
    val first = PgLoad.loadAllStaged(am, fl, sa, i1, i2, loadedAt, connect,
      promoteSqlFor = quotedPromote, createTables = false,
      ledgerKey = Some("amazon#deadbeef#0"))
    assert(first.nonEmpty)
    val before = queryLong(connect,
      s"SELECT count(*) FROM ${q("amazon_sale")}")
    // the upgraded release replays the SAME batch under the canonical
    // key, carrying the legacy key: promotion must be a no-op
    val replay = PgLoad.loadAllStaged(am, fl, sa, i1, i2, loadedAt, connect,
      promoteSqlFor = quotedPromote, createTables = false,
      ledgerKey = Some("amazon#cafe0123#0"),
      legacyLedgerKeys = Seq("amazon#deadbeef#0"))
    assert(replay.isEmpty, "legacy-committed batch must not promote again")
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("amazon_sale")}") == before)
    // the canonical key was NOT claimed by the no-op replay, and a
    // genuinely NEW batch under the canonical namespace still loads
    assert(queryLong(connect,
      """SELECT count(*) FROM graft_load_ledger
         WHERE batch_key = 'amazon#cafe0123#0'""") == 0)
    val am2 = Seq(("O3", "2022-05-02", "shipped", "merchant", 1, "10.0",
      "pune")).toDF("order_id", "date", "status", "fulfillment",
      "quantity", "amount", "ship_city")
    val next = PgLoad.loadAllStaged(am2, fl, sa, i1, i2, loadedAt, connect,
      promoteSqlFor = quotedPromote, createTables = false,
      ledgerKey = Some("amazon#cafe0123#1"),
      legacyLedgerKeys = Seq("amazon#deadbeef#1"))
    assert(next.nonEmpty, "a fresh batch id must still promote")
  }

  test("K3 DDL strings carry the reference columns and constraints") {
    // the canonical Postgres DDLs (ecommerce_s3_to_pg.py:449-533)
    assert(PgLoad.allDdl.size == 4)
    assert(PgLoad.amazonSaleDdl.contains("PRIMARY KEY (order_id, date)"))
    assert(PgLoad.amazonSaleVersionDdl.contains("version_id SERIAL PRIMARY KEY"))
    assert(PgLoad.saleDdl.contains("sku_code TEXT NOT NULL"))
    assert(PgLoad.internationalSalesDdl.contains(
      "CHECK (data_source IN ('part1', 'part2'))"))
    val expectedAmazonCols = Seq("order_id", "date", "status", "fulfillment",
      "sales_channel", "ship_service_level", "sku", "category", "size",
      "asin", "courier_status", "quantity", "amount", "ship_city",
      "ship_state", "ship_postal_code", "ship_country", "b2b", "loaded_at",
      "created_at")
    expectedAmazonCols.foreach(c => assert(
      PgLoad.amazonSaleDdl.contains(s"\n    $c "), s"missing column $c"))
    // default (Postgres) upsert keeps the reference conflict clause
    assert(Sinks.upsertSql("amazon_sale", Seq("a", "b"), Seq("a"))
      .endsWith("ON CONFLICT (a) DO NOTHING"))
    assert(PgLoad.promoteSql("s", "amazon_sale", Seq("a"), Seq("a"))
      .contains("ON CONFLICT"))
  }

  test("runWithPg: raw landing dir → cleaned CSVs AND all four PG tables") {
    val landing = java.nio.file.Files.createTempDirectory("pg_landing").toFile
    val out = java.nio.file.Files.createTempDirectory("pg_out").toString
    Seq("Amazon Sale Report_2022-04-30_10-00-00.csv",
      "Sale Report_2022-04-30_10-00-00.csv",
      "International Sale Report_2022-04-30_10-00-00.csv").foreach { n =>
      java.nio.file.Files.copy(
        new java.io.File(TestSpark.fixture(n)).toPath,
        new java.io.File(landing, n).toPath)
    }
    val connect = freshDb("graftpg5")
    PgLoad.runDdl(connect, ddls("5"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planListener)
    val written = try graft.app.BatchMain.runWithPg(
      spark, landing.toString, out, connect, loadedAt,
      upsertSqlFor = quotedUpsert, insertSqlFor = quotedInsert,
      createTables = false)
    finally {
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark)
      spark.listenerManager.unregister(planListener)
    }
    // P7 is decided without a limit operator (a limit's generated class
    // is never reused), in every plan the handler runs
    assert(!plans.isEmpty)
    plans.forEach(p => assert(
      !p.contains("LocalLimit") && !p.contains("GlobalLimit"), p))
    assert(written == Seq("amazon_sale", "amazon_sale_version", "sale",
      "international_sales"))
    // same counts as the CSV zone (StreamingSpec golden numbers)
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("amazon_sale")}") == 8)
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("amazon_sale_version")}") == 2)
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("sale")}") == 5)
    assert(queryLong(connect,
      s"""SELECT count(*) FROM ${q("international_sales")}
          WHERE ${q("data_source")} = 'part1'""") == 4)
    assert(queryLong(connect,
      s"""SELECT count(*) FROM ${q("international_sales")}
          WHERE ${q("data_source")} = 'part2'""") == 3)
    // the CSV zone landed too, from the SAME cleaned frames
    def readOut(sub: String) =
      spark.read.option("header", "true").csv(s"$out/$sub")
    assert(readOut("amazon_sale").count() == 8)
    assert(readOut("international_2").count() == 3)
    // every loaded row carries the audit timestamp
    assert(queryLong(connect,
      s"""SELECT count(*) FROM ${q("amazon_sale")}
          WHERE ${q("loaded_at")} IS NULL""") == 0)
  }

  test("loadClassStream: file stream → Derby, restart does NOT double-load") {
    val landing = java.nio.file.Files.createTempDirectory("pg_stream").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("pg_ckpt").toString
    val fixture = new java.io.File(
      TestSpark.fixture("Amazon Sale Report_2022-04-30_10-00-00.csv"))
    java.nio.file.Files.copy(fixture.toPath,
      new java.io.File(landing, fixture.getName).toPath)
    val connect = freshDb("graftpg6")
    PgLoad.runDdl(connect, ddls("6"))
    val schema = graft.sources.CsvSource.read(spark, fixture.getPath).schema
    def startStream() = graft.streaming.StreamPipeline.loadClassStream(
      graft.streaming.StreamPipeline.fileStream(
        spark, landing.toString, schema, glob = "Amazon*.csv"),
      graft.sources.CsvSource.AmazonSale, connect, ckpt,
      loadedAtFor = _ => loadedAt,
      promoteSqlFor = quotedPromote)
    startStream().awaitTermination(120000)
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("amazon_sale")}") == 8)
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("amazon_sale_version")}") == 2)
    // restart over the same checkpoint: the batch is already committed,
    // so even the APPEND-ONLY version table stays at 2 (exactly-once)
    startStream().awaitTermination(120000)
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("amazon_sale")}") == 8)
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("amazon_sale_version")}") == 2)
  }

  test("loadAllStaged decides emptiness on the cleaned frames and " +
      "persists no prepared frame") {
    val connect = freshDb("graftpgprep")
    PgLoad.runDdl(connect, ddls("prep"))
    val (am, fl, _, _, _) = fixtures
    val empty = spark.emptyDataFrame
    try {
      val jobs = jobsDuring {
        PgLoad.loadAllStaged(am, fl, empty, empty, empty, loadedAt, connect,
          promoteSqlFor = quotedPromote, createTables = false): Unit
      }
      // one cache fill each for am, fl and the one empty frame, then the
      // two stage writes; deciding on the prepared frames instead filled
      // five caches (7 jobs)
      assert(jobs == 5, s"loadAllStaged started $jobs jobs")
      val sale = Map("stock" -> IntegerType, "loaded_at" -> TimestampType)
      Seq(PgLoad.prepareStamped(am, loadedAt),
        PgLoad.prepareStamped(fl, loadedAt),
        PgLoad.prepareStamped(empty, loadedAt, sale),
        PgLoad.prepareInternational(empty, "part1", loadedAt),
        PgLoad.prepareInternational(empty, "part2", loadedAt))
        .foreach(p => assert(p.storageLevel == StorageLevel.NONE,
          s"prepared frame persisted: ${p.queryExecution.logical}"))
    } finally graft.ops.CacheScope.releaseAll()
    assert(queryLong(connect, s"SELECT count(*) FROM ${q("amazon_sale")}") == 2)
    assert(queryLong(connect,
      s"SELECT count(*) FROM ${q("amazon_sale_version")}") == 2)
  }

  test("batch, batch+JDBC and per-class stream drivers land the same rows") {
    import java.nio.file.Files
    import graft.app.BatchMain
    import graft.sources.CsvSource
    import graft.streaming.StreamPipeline
    val classes = Seq(
      (CsvSource.AmazonSale, "Amazon*.csv",
        "Amazon Sale Report_2022-04-30_10-00-00.csv"),
      (CsvSource.PlainSale, "Sale*.csv",
        "Sale Report_2022-04-30_10-00-00.csv"),
      (CsvSource.InternationalSale, "International*.csv",
        "International Sale Report_2022-04-30_10-00-00.csv"))
    val landing = Files.createTempDirectory("drivers_landing").toFile
    classes.foreach { case (_, _, n) =>
      Files.copy(new java.io.File(TestSpark.fixture(n)).toPath,
        new java.io.File(landing, n).toPath)
    }
    // routed by no driver: S2 drops it, no class glob matches it
    Files.writeString(new java.io.File(landing, "inventory notes.csv").toPath,
      "sku,qty\nA,1\n")
    def tmp(p: String) = Files.createTempDirectory(p).toString

    val batchOut = tmp("drivers_batch")
    BatchMain.run(spark, landing.toString, batchOut, None)
    val pgOut = tmp("drivers_pg")
    val connect = freshDb("graftdrivers")
    PgLoad.runDdl(connect, ddls("drivers"))
    BatchMain.runWithPg(spark, landing.toString, pgOut, connect, loadedAt,
      upsertSqlFor = quotedUpsert, insertSqlFor = quotedInsert,
      createTables = false)
    val streamOut = tmp("drivers_stream")
    classes.foreach { case (cls, glob, n) =>
      val schema = CsvSource.read(spark, TestSpark.fixture(n)).schema
      StreamPipeline.cleanClassStream(
        StreamPipeline.fileStream(spark, landing.toString, schema, glob),
        cls, streamOut, tmp("drivers_ckpt")).awaitTermination(120000)
    }

    def rows(path: String): (Seq[String], Seq[String]) = {
      val df = spark.read.option("header", "true").csv(path)
      (df.columns.toSeq, df.collect().map(_.mkString("|")).toSeq.sorted)
    }
    val csvCounts = Seq("amazon_sale", "amazon_sale_duplicates", "sale",
      "international_1", "international_2").map { f =>
      val batch = rows(s"$batchOut/$f")
      assert(batch._2.nonEmpty, f)
      assert(rows(s"$pgOut/$f") == batch, s"runWithPg differs in $f")
      assert(rows(s"$streamOut/run_*/batch_*/$f") == batch,
        s"cleanClassStream differs in $f")
      f -> batch._2.size.toLong
    }.toMap
    def table(t: String, where: String = "") =
      queryLong(connect, s"SELECT count(*) FROM ${q(t)} $where")
    def part(p: String) = s"WHERE ${q("data_source")} = '$p'"
    assert(table("amazon_sale") == csvCounts("amazon_sale"))
    assert(table("amazon_sale_version") == csvCounts("amazon_sale_duplicates"))
    assert(table("sale") == csvCounts("sale"))
    assert(table("international_sales", part("part1")) ==
      csvCounts("international_1"))
    assert(table("international_sales", part("part2")) ==
      csvCounts("international_2"))
  }

  test("runWithPg: the handler's job count, and [dq] lines in csvZone order") {
    val landing = java.nio.file.Files.createTempDirectory("jobs_landing").toFile
    val out = java.nio.file.Files.createTempDirectory("jobs_out").toString
    Seq("Amazon Sale Report_2022-04-30_10-00-00.csv",
      "Sale Report_2022-04-30_10-00-00.csv",
      "International Sale Report_2022-04-30_10-00-00.csv").foreach { n =>
      java.nio.file.Files.copy(
        new java.io.File(TestSpark.fixture(n)).toPath,
        new java.io.File(landing, n).toPath)
    }
    val connect = freshDb("graftpgjobs")
    PgLoad.runDdl(connect, ddls("jobs"))
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val jobs = try jobsDuring {
      graft.app.BatchMain.runWithPg(spark, landing.toString, out, connect,
        loadedAt, upsertSqlFor = quotedUpsert, insertSqlFor = quotedInsert,
        createTables = false): Unit
    } finally {
      System.setErr(stderr)
      stderr.print(err.toString)
    }
    // the serial handler's count: a fan-out that fills a shared cache
    // twice (the two amazon frames read D2's one cache) starts more
    assert(jobs == HandlerJobs, s"runWithPg started $jobs jobs")
    val dq = err.toString.linesIterator.collect {
      case l if l.startsWith("[dq] ") => l.split(' ')(1).stripPrefix(s"$out/")
    }.toSeq
    assert(dq == Seq("amazon_sale", "amazon_sale_duplicates", "sale",
      "international_1", "international_2"))
  }

  test("loadAll skips empty frames like the reference's df.empty guards") {
    val connect = freshDb("graftpg4")
    PgLoad.runDdl(connect, ddls("4"))
    val (am, _, _, _, _) = fixtures
    val written = PgLoad.loadAll(am, am.limit(0), am.limit(0).toDF(),
      am.limit(0), am.limit(0), loadedAt, connect,
      upsertSqlFor = quotedUpsert, insertSqlFor = quotedInsert,
      createTables = false)
    assert(written == Seq("amazon_sale"))
  }

  test("writeStagePartitions: a re-executed task cannot duplicate its " +
      "partition (delete-then-insert is atomic per attempt)") {
    import spark.implicits._
    val connect = freshDb("graftretry")
    val df = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4)
    val c = connect()
    try {
      val st = c.createStatement()
      st.executeUpdate(
        s"""CREATE TABLE ${q("stg")} (${q("id")} BIGINT,
           ${q("v")} VARCHAR(32), ${q("__part")} INTEGER)""")
      st.close()
    } finally c.close()
    graft.sinks.Sinks.writeStagePartitions(df, "stg", connect)
    // simulate every task being retried: the whole write runs AGAIN
    // against the already-populated stage
    graft.sinks.Sinks.writeStagePartitions(df, "stg", connect)
    val n = {
      val cc = connect()
      try {
        val rs = cc.createStatement()
          .executeQuery(s"SELECT count(*) FROM ${q("stg")}")
        rs.next(); rs.getLong(1)
      } finally cc.close()
    }
    assert(n == 20, s"retried stage write duplicated rows: $n")
  }

  test("sweepStaleStages drops crashed runs' orphans, keeps the live tag " +
      "and the target tables") {
    val connect = freshDb("graftsweep")
    PgLoad.runDdl(connect, ddls("sweep"))
    val c = connect()
    try {
      val st = c.createStatement()
      // orphans a JVM-killed default-UUID run would leave behind
      st.executeUpdate(s"CREATE TABLE ${q("amazon_sale_stage_deadbeef_0")} " +
        s"(${q("x")} INTEGER)")
      st.executeUpdate(
        s"CREATE TABLE ${q("international_sales_stage_deadbeef_4")} " +
          s"(${q("x")} INTEGER)")
      // a live concurrent run's stage (keepTag) must survive
      st.executeUpdate(s"CREATE TABLE ${q("sale_stage_live1234_2")} " +
        s"(${q("x")} INTEGER)")
      // unrelated table that merely contains 'stage' must survive
      st.executeUpdate(s"CREATE TABLE ${q("stage_notes")} " +
        s"(${q("x")} INTEGER)")
      st.close()
    } finally c.close()
    val dropped = PgLoad.sweepStaleStages(connect, keepTag = "live1234")
    assert(dropped.toSet == Set("amazon_sale_stage_deadbeef_0",
      "international_sales_stage_deadbeef_4"))
    def exists(t: String): Boolean = {
      val cc = connect()
      try {
        val rs = cc.getMetaData.getTables(null, null, t, Array("TABLE"))
        try rs.next() finally rs.close()
      } finally cc.close()
    }
    assert(!exists("amazon_sale_stage_deadbeef_0"))
    assert(!exists("international_sales_stage_deadbeef_4"))
    assert(exists("sale_stage_live1234_2"))
    assert(exists("stage_notes"))
    assert(exists("amazon_sale")) // targets untouched
    // a second sweep with no keepTag clears the remaining stage too
    assert(PgLoad.sweepStaleStages(connect) == Seq("sale_stage_live1234_2"))
    assert(!exists("sale_stage_live1234_2"))
  }
}
