package graft.sinks

import java.sql.{Connection, Timestamp}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, IntegerType, StringType, TimestampType}

import graft.ops.{qcol, CacheScope, ScalarFns}

/** The assembled Postgres load path — the reference's entire sink half
  * (`load_to_pg`, ecommerce_s3_to_pg.py:449-633): four table DDLs, then
  * five frame loads with audit columns, in reference order:
  *
  *  1. amazon clean → `amazon_sale` upsert (`ON CONFLICT (order_id, date)
  *     DO NOTHING`, :541-549)
  *  2. amazon flagged duplicates → `amazon_sale_version` append (:552-566)
  *  3. sale → `sale` append (:568-580)
  *  4. international part1 → `international_sales` with O2 padding +
  *     `data_source='part1'`/`loaded_at` tags (F10) (:582-601)
  *  5. international part2 → same with `data_source='part2'` (:603-619)
  *
  * Empty frames are skipped like the reference's `if not df.empty` guards.
  * That list — target, conflict columns, typing — is written once
  * (`frameLoads`), and both [[loadAll]] and [[loadAllStaged]] iterate it;
  * they differ only in how a frame reaches its target.
  *
  * Transaction semantics (K6): [[loadAll]] writes each frame with
  * per-partition transactions — retry-safe through the idempotent upsert
  * but not all-or-nothing. [[loadAllStaged]] restores the reference's
  * single-commit semantics (:621-626) at cluster scale: executors append
  * to unconstrained stage tables, then ONE driver-side transaction
  * promotes every stage into its target and commits — the visible tables
  * change atomically or not at all.
  *
  * SQL-text hooks (`upsertSqlFor`/`insertSqlFor`/`promoteSqlFor`) exist so
  * the integration spec can run the SAME orchestration against embedded
  * Derby (the only JDBC engine in this environment); production defaults
  * emit the reference's Postgres statements.
  */
object PgLoad {

  // ---- K3: the four DDLs (ecommerce_s3_to_pg.py:449-533, column-for-column)

  val amazonSaleDdl: String =
    """CREATE TABLE IF NOT EXISTS amazon_sale(
      |    order_id TEXT NOT NULL,
      |    date DATE NOT NULL,
      |    status TEXT,
      |    fulfillment TEXT,
      |    sales_channel TEXT,
      |    ship_service_level TEXT,
      |    sku TEXT,
      |    category TEXT,
      |    size TEXT,
      |    asin TEXT,
      |    courier_status TEXT,
      |    quantity INTEGER,
      |    amount FLOAT,
      |    ship_city TEXT,
      |    ship_state TEXT,
      |    ship_postal_code FLOAT,
      |    ship_country TEXT,
      |    b2b TEXT,
      |    loaded_at TIMESTAMP,
      |    created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
      |    PRIMARY KEY (order_id, date)
      |)""".stripMargin

  val amazonSaleVersionDdl: String =
    """CREATE TABLE IF NOT EXISTS amazon_sale_version(
      |    version_id SERIAL PRIMARY KEY,
      |    order_id TEXT NOT NULL,
      |    date DATE NOT NULL,
      |    status TEXT,
      |    fulfillment TEXT,
      |    sales_channel TEXT,
      |    ship_service_level TEXT,
      |    sku TEXT,
      |    category TEXT,
      |    size TEXT,
      |    asin TEXT,
      |    courier_status TEXT,
      |    quantity INTEGER,
      |    amount FLOAT,
      |    ship_city TEXT,
      |    ship_state TEXT,
      |    ship_postal_code FLOAT,
      |    ship_country TEXT,
      |    b2b TEXT,
      |    loaded_at TIMESTAMP,
      |    created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
      |)""".stripMargin

  val saleDdl: String =
    """CREATE TABLE IF NOT EXISTS sale(
      |    id SERIAL PRIMARY KEY,
      |    sku_code TEXT NOT NULL,
      |    design_no TEXT,
      |    stock INTEGER,
      |    category TEXT,
      |    size TEXT,
      |    color TEXT,
      |    loaded_at TIMESTAMP,
      |    created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
      |)""".stripMargin

  val internationalSalesDdl: String =
    """CREATE TABLE IF NOT EXISTS international_sales(
      |    id SERIAL PRIMARY KEY,
      |    data_source TEXT CHECK (data_source IN ('part1', 'part2')),
      |    customer TEXT,
      |    date DATE,
      |    months TEXT,
      |    style TEXT,
      |    sku TEXT,
      |    pcs INTEGER,
      |    rate TEXT,
      |    gross_amount FLOAT,
      |    size TEXT NULL,
      |    stock INTEGER NULL,
      |    loaded_at TIMESTAMP,
      |    created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
      |)""".stripMargin

  val allDdl: Seq[String] =
    Seq(amazonSaleDdl, amazonSaleVersionDdl, saleDdl, internationalSalesDdl)

  /** Run DDL statements once from the driver. */
  def runDdl(connect: () => Connection, ddls: Seq[String] = allDdl): Unit = {
    val conn = connect()
    try {
      val st = conn.createStatement()
      ddls.foreach(st.execute)
      if (!conn.getAutoCommit) conn.commit()
    } finally conn.close()
  }

  /** Best-effort statements (stage drops/creates where "doesn't exist" /
    * "already exists" are expected states, dialects lacking IF EXISTS). */
  private def execQuietly(connect: () => Connection, sqls: Seq[String]): Unit =
    sqls.foreach { s =>
      try runDdl(connect, Seq(s))
      catch { case _: java.sql.SQLException => () }
    }

  /** Batch ledger for exactly-once promotion: one row per committed
    * load, inserted INSIDE the promote transaction, PRIMARY KEY so a
    * replayed batch cannot commit twice. */
  val ledgerDdl: String =
    "CREATE TABLE graft_load_ledger (batch_key VARCHAR(200) PRIMARY KEY)"

  /** True iff `key` is already committed in the load ledger. */
  private def ledgerHas(connect: () => Connection, key: String): Boolean = {
    val c = connect()
    try {
      val ps = c.prepareStatement(
        "SELECT 1 FROM graft_load_ledger WHERE batch_key = ?")
      try { ps.setString(1, key); ps.executeQuery().next() }
      finally ps.close()
    } finally c.close()
  }

  // ---- typed projections -----------------------------------------------

  /** Column types of the amazon DDLs (the cleaned frames carry cleaned
    * STRINGS for date/amount; pandas hands psycopg2 typed values, so the
    * Spark parity is an explicit coerce-to-null cast before binding). */
  val amazonColumnTypes: Map[String, DataType] = Map(
    "date" -> DateType, "quantity" -> IntegerType, "amount" -> DoubleType,
    "ship_postal_code" -> DoubleType, "loaded_at" -> TimestampType)

  val internationalTableCols: Seq[String] =
    graft.pipeline.Cleaners.internationalTargetCols // :584-588

  val internationalColumnTypes: Map[String, DataType] = Map(
    "date" -> DateType, "pcs" -> IntegerType, "gross_amount" -> DoubleType,
    "stock" -> IntegerType, "loaded_at" -> TimestampType)

  /** Coerce the frame's own columns to their DDL types (unknown columns
    * pass through as-is — the insert lists the frame's columns, like the
    * reference's `df.columns.tolist()`). */
  private def typed(df: DataFrame, types: Map[String, DataType]): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      types.get(c) match {
        case Some(dt) => tryCastTo(qcol(c), dt).as(c)
        case None => qcol(c)
      }
    }: _*)

  private def tryCastTo(c: Column, dt: DataType): Column = dt match {
    case DateType => try_to_date(c.cast(StringType))
    case _ => c.try_cast(dt.catalogString)
  }

  /** International frame made insert-ready: O2-pad to the table columns,
    * coerce types, tag `data_source` + `loaded_at` (F10), select in the
    * reference's insert order `table_cols + [data_source, loaded_at]`
    * (:589-596). */
  def prepareInternational(
      df: DataFrame, source: String, loadedAt: Timestamp): DataFrame = {
    val padded = df.select(internationalTableCols.map { c =>
      if (df.columns.contains(c)) qcol(c) else lit(null).cast(StringType).as(c)
    }: _*)
    typed(padded, internationalColumnTypes)
      .transform(ScalarFns.withAudit(source, loadedAt))
      .select((internationalTableCols ++ Seq("data_source", "loaded_at"))
        .map(qcol): _*)
  }

  /** Amazon/sale frames: stamp `loaded_at` (:537-539) and coerce types. */
  def prepareStamped(df: DataFrame, loadedAt: Timestamp,
      types: Map[String, DataType] = amazonColumnTypes): DataFrame =
    typed(df.withColumn("loaded_at", lit(loadedAt)), types)

  // ---- the load orchestration ------------------------------------------

  /** The five-frame load list both load paths iterate: `(target,
    * conflictCols, prepared frame)` in reference order, for each cleaned
    * frame that is not empty. Emptiness is decided on the CLEANED frame
    * through [[CacheScope.isEmpty]]: a frame [[Sinks.writeCsvAll]]
    * already decided is not probed again, each write reads the cleaned
    * frame's scope cache, and no typed, stamped frame is persisted. */
  private def frameLoads(amazonClean: DataFrame, amazonFlagged: DataFrame,
      sale: DataFrame, international1: DataFrame, international2: DataFrame,
      loadedAt: Timestamp): Seq[(String, Seq[String], DataFrame)] =
    Seq[(String, Seq[String], DataFrame, DataFrame => DataFrame)](
      ("amazon_sale", Seq("order_id", "date"), amazonClean,
        prepareStamped(_, loadedAt)),
      ("amazon_sale_version", Nil, amazonFlagged, prepareStamped(_, loadedAt)),
      ("sale", Nil, sale, prepareStamped(_, loadedAt,
        Map("stock" -> IntegerType, "loaded_at" -> TimestampType))),
      ("international_sales", Nil, international1,
        prepareInternational(_, "part1", loadedAt)),
      ("international_sales", Nil, international2,
        prepareInternational(_, "part2", loadedAt))
    ).collect { case (target, cc, df, prepare) if !CacheScope.isEmpty(df) =>
      (target, cc, prepare(df))
    }

  /** One full load run (K3+K4+K5+F10): DDL, then the `frameLoads` list,
    * `amazon_sale` through `upsertSqlFor` (its conflict columns), every
    * other target through `insertSqlFor`. Returns the target tables
    * actually written (empty frames skipped). Per-partition transactions;
    * see [[loadAllStaged]] for single-commit semantics. */
  def loadAll(
      amazonClean: DataFrame,
      amazonFlagged: DataFrame,
      sale: DataFrame,
      international1: DataFrame,
      international2: DataFrame,
      loadedAt: Timestamp,
      connect: () => Connection,
      upsertSqlFor: (String, Seq[String], Seq[String]) => String = Sinks.upsertSql,
      insertSqlFor: (String, Seq[String]) => String = Sinks.insertSql,
      createTables: Boolean = true,
      batchSize: Int = 1000): Seq[String] = {
    if (createTables) runDdl(connect)
    val written = frameLoads(amazonClean, amazonFlagged, sale,
      international1, international2, loadedAt).map { case (target, cc, df) =>
      val cols = df.columns.toSeq
      Sinks.writePartitions(df,
        if (cc.isEmpty) insertSqlFor(target, cols)
        else upsertSqlFor(target, cols, cc),
        connect, batchSize)
      target
    }
    // distinct: both international parts target one table, and
    // loadAllStaged reports it once too — keep the contracts equal
    written.distinct
  }

  // ---- K6: single-transaction variant ----------------------------------

  /** Map a Spark column type to portable SQL for stage tables (accepted by
    * both Postgres and Derby). */
  private def sqlType(dt: DataType): String = dt match {
    case IntegerType => "INTEGER"
    case org.apache.spark.sql.types.LongType => "BIGINT"
    case DoubleType => "DOUBLE PRECISION"
    case org.apache.spark.sql.types.FloatType => "REAL"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    // Derby's VARCHAR ceiling (32672) — the widest portable string type
    // (Postgres targets use TEXT); a narrower stage would wedge a
    // streaming batch forever on a long-but-target-legal value, since
    // every replay re-fails the same stage insert
    case _ => "VARCHAR(32672)"
  }

  /** Lower-case identifiers are quoted in stage/promote SQL: a no-op for
    * Postgres (unquoted folds to lower case) but required wherever a
    * column name collides with a reserved word (`date`, `size`) in
    * stricter dialects like the Derby the spec runs against. */
  private[sinks] def qid(id: String): String = "\"" + id + "\""

  def stageDdl(stageTable: String, df: DataFrame): String =
    (df.schema.fields
      .map(f => s"${qid(f.name)} ${sqlType(f.dataType)}")
      // __part: the writing task's partition id — what makes the stage
      // write idempotent under task retry (Sinks.writeStagePartitions
      // deletes-then-reinserts its own partition atomically)
      :+ s"${qid("__part")} INTEGER")
      .mkString(s"CREATE TABLE ${qid(stageTable)} (", ", ", ")")

  /** Default promotion statement: plain column-matched insert; the
    * amazon_sale target keeps the reference's conflict clause. */
  def promoteSql(stageTable: String, targetTable: String,
      cols: Seq[String], conflictCols: Seq[String]): String = {
    val collist = cols.map(qid).mkString(", ")
    val base = s"INSERT INTO ${qid(targetTable)} ($collist) " +
      s"SELECT $collist FROM ${qid(stageTable)}"
    if (conflictCols.isEmpty) base
    else s"$base ON CONFLICT (${conflictCols.map(qid).mkString(", ")}) DO NOTHING"
  }

  /** All-or-nothing load (reference :621-626 commits ONCE): executors
    * append every frame into per-run stage tables (unconstrained, so
    * nothing can fail mid-write), then one driver connection promotes all
    * stages into their targets in a single transaction and drops the
    * stages. A crash before COMMIT leaves the target tables untouched —
    * the reference's rollback semantics, kept even though the heavy write
    * fan-out stays distributed.
    *
    * Crash-safety of the stages themselves: names carry `runTag`, stale
    * same-name stages are dropped before creation, and cleanup runs in a
    * finally — a failed run can be re-run without manual repair. Because
    * the default tag is a fresh UUID per call, a run that dies before the
    * finally (JVM kill) leaves stage tables a LATER default-tag run would
    * never name. Reclaiming those orphans is OPT-IN: a single-writer
    * startup caller passes `sweepStale = true` (with `createTables`)
    * to sweep ALL leftover `<target>_stage_*` tables via
    * [[sweepStaleStages]] before staging. The default is false because
    * the sweep drops every stage table regardless of owner — two
    * concurrent default-arg loads, each safe on its own via per-call
    * UUID tags, would otherwise drop each other's in-flight stages
    * mid-promotion. Out-of-band reclamation (an explicit
    * [[sweepStaleStages]] call at a known-quiet moment) is the safe
    * default posture for multi-writer deployments.
    *
    * `ledgerKey` makes the promotion EXACTLY-ONCE for replayed batches
    * (streaming foreachBatch is at-least-once): the key is inserted into
    * `graft_load_ledger` (PRIMARY KEY) inside the SAME transaction as
    * the promotes — a replay of an already-committed batch hits the key
    * violation, rolls back, and returns Nil; a replay of a batch that
    * crashed before COMMIT sees untouched targets and promotes cleanly.
    */
  def loadAllStaged(
      amazonClean: DataFrame,
      amazonFlagged: DataFrame,
      sale: DataFrame,
      international1: DataFrame,
      international2: DataFrame,
      loadedAt: Timestamp,
      connect: () => Connection,
      promoteSqlFor: (String, String, Seq[String], Seq[String]) => String =
        promoteSql,
      createTables: Boolean = true,
      batchSize: Int = 1000,
      runTag: String = "",
      ledgerKey: Option[String] = None,
      sweepStale: Boolean = false,
      legacyLedgerKeys: Seq[String] = Nil): Seq[String] = {
    // unique per call unless the caller pins one (loadClassStream pins
    // the checkpoint hash): two concurrent default-tag loads would
    // otherwise DROP each other's in-flight stage tables
    val tag =
      if (runTag.nonEmpty) runTag
      else java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    if (createTables) {
      // sweepStale is OPT-IN: the sweep drops EVERY `<target>_stage_*`
      // table, so a second concurrent default-arg load would lose its
      // in-flight stages mid-promotion. A single-writer startup caller
      // that wants self-healing passes sweepStale = true (or calls
      // sweepStaleStages itself before fanning out loads)
      if (sweepStale) sweepStaleStages(connect)
      runDdl(connect)
    }
    if (ledgerKey.isDefined) execQuietly(connect, Seq(ledgerDdl))
    // Cheap pre-flight: a replayed ALREADY-COMMITTED batch should skip the
    // whole stage-write fan-out, not rewrite every frame and then discover
    // the duplicate at promote time. Purely an optimization — the
    // authoritative exactly-once guard stays the PK claim inside the
    // promote transaction below (this probe alone would race).
    if ((ledgerKey.toSeq ++ legacyLedgerKeys)
      .exists(ledgerHas(connect, _))) return Nil

    val loads = frameLoads(amazonClean, amazonFlagged, sale,
      international1, international2, loadedAt)
    // a target missing from loadTargets would mint stage names the
    // sweep pattern never matches — orphans would accumulate silently
    require(loads.forall(l => loadTargets.contains(l._1)),
      s"loadAllStaged target not in PgLoad.loadTargets: " +
        loads.map(_._1).filterNot(loadTargets.contains).mkString(", "))

    val stageNames = loads.indices.map(i =>
      s"${loads(i)._1}_stage_${tag}_$i")
    try {
      val staged = loads.zipWithIndex.map { case ((target, cc, df), i) =>
        val stage = stageNames(i)
        execQuietly(connect, Seq(s"DROP TABLE ${qid(stage)}")) // stale run
        runDdl(connect, Seq(stageDdl(stage, df)))
        Sinks.writeStagePartitions(df, stage, connect, batchSize)
        (stage, target, cc, df.columns.toSeq)
      }

      // ONE transaction: the ledger claim + every promotion, then commit
      val conn = connect()
      try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        val claimed = ledgerKey match {
          case Some(k) =>
            try {
              val ps = conn.prepareStatement(
                "INSERT INTO graft_load_ledger (batch_key) VALUES (?)")
              try { ps.setString(1, k); ps.executeUpdate() }
              finally ps.close()
              // migration guard: a batch committed by an OLDER release
              // may sit in the ledger under a differently-derived key
              // (e.g. the pre-canonicalization checkpoint-path hash).
              // Checked INSIDE the claim transaction so the canonical
              // claim rolls back atomically — the replayed batch stays
              // a no-op instead of promoting twice across the upgrade.
              val legacyHit = legacyLedgerKeys.nonEmpty && {
                val qs = conn.prepareStatement(
                  "SELECT 1 FROM graft_load_ledger WHERE batch_key = ?")
                try legacyLedgerKeys.exists { lk =>
                  qs.setString(1, lk)
                  val rs = qs.executeQuery()
                  try rs.next() finally rs.close()
                } finally qs.close()
              }
              if (legacyHit) { conn.rollback(); false } else true
            } catch {
              case e: java.sql.SQLException
                  if e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException]
                    || Option(e.getSQLState).exists(_.startsWith("23")) =>
                conn.rollback() // batch already committed once: no-op replay
                false
            }
          case None => true
        }
        if (!claimed) return Nil
        staged.foreach { case (stage, target, cc, cols) =>
          st.execute(promoteSqlFor(stage, target, cols, cc))
        }
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally conn.close()

      staged.map(_._2).distinct
    } finally execQuietly(connect,
      stageNames.map(s => s"DROP TABLE ${qid(s)}"))
  }

  /** The four load targets — ONE list, consumed by both the staged-load
    * frame order and the stale-stage sweep pattern, so adding a target
    * cannot silently exempt its orphans from sweeping. */
  private[sinks] val loadTargets =
    Seq("amazon_sale", "amazon_sale_version", "sale", "international_sales")

  /** Stage tables a crashed run can orphan: `<target>_stage_<tag>_<i>`. */
  private val staleStageName =
    ("^(" + loadTargets.mkString("|") + ")_stage_.+_\\d+$").r

  /** Drop leftover `<target>_stage_*` tables from runs that crashed
    * before their finally-cleanup (the default per-call UUID `runTag`
    * means a rerun never names — and so never self-heals — a dead run's
    * stages). Enumerates the catalog via JDBC metadata and drops every
    * table matching the stage naming scheme, except those carrying
    * `keepTag`. Single-writer operation: call at startup, not while
    * another load is staging. Returns the dropped table names. */
  def sweepStaleStages(
      connect: () => Connection, keepTag: String = ""): Seq[String] = {
    val conn = connect()
    val stale = try {
      // scope the listing to the CONNECTION'S CURRENT SCHEMA: the
      // unqualified DROP below resolves through the search path, so
      // enumerating other schemas could drop (or falsely report
      // dropping) a sibling environment's live stage table
      val schema =
        try Option(conn.getSchema).filter(_.nonEmpty).orNull
        catch { case _: Throwable => null } // JDBC 4.1 optional
      val rs = conn.getMetaData.getTables(null, schema, "%", Array("TABLE"))
      val names = Seq.newBuilder[String]
      try {
        while (rs.next()) names += rs.getString("TABLE_NAME")
      } finally rs.close()
      names.result().filter { n =>
        staleStageName.pattern.matcher(n).matches() &&
          (keepTag.isEmpty || !n.contains(s"_stage_${keepTag}_"))
      }
    } finally conn.close()
    execQuietly(connect, stale.map(n => s"DROP TABLE ${qid(n)}"))
    stale
  }
}
