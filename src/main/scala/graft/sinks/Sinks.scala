package graft.sinks

import java.sql.Connection

import org.apache.spark.sql.{DataFrame, Row}

/** Sinks (SURVEY.md §2.7, K1-K6). */
object Sinks {

  /** K1/K2 — cleaned CSV sink (`load_to_s3`, ecommerce_s3_to_pg.py:637-685).
    * Header on, overwrite per timestamped key; s3a:// in production, file
    * path in tests — identical code path. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** ORC round trip — Spark's second native columnar format (same jars,
    * same pushdown/pruning machinery through the OrcFileFormat source):
    * the interchange format a warehouse that standardized on ORC
    * (Hive-lineage clusters) would hand us. OpsSpec pins the round-trip
    * identity AND that a filter over the ORC read reaches the scan as a
    * pushed filter, so the scan-tight properties PLANS.md documents for
    * parquet hold for ORC too. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.orc(path)

  /** K2 batch upload with the P7 empty guard and P8 identity-dup guard
    * (`load_to_s3`, ecommerce_s3_to_pg.py:637-685): a DataFrame OBJECT
    * already written under another name is skipped — reference `id(df)`
    * set semantics, i.e. reference identity, not value equality. Returns
    * the names actually written. Emptiness is the row count of
    * [[graft.ops.CacheScope.counts]], which persists and fills each
    * frame: a later sink of the same run ([[PgLoad.loadAll]]) reads the
    * cache and the recorded answer, and the caller ends the run with
    * `releaseAll`. Each written frame gets one `[dq]` line on stderr from
    * the same fill's counts — `n_rows` and each column's `nulls_<c>` — at
    * no job: a non-zero null count in a column P5 made critical is a
    * cleaner-regression alarm. */
  def writeCsvAll(tables: Seq[(String, DataFrame)], outDir: String): Seq[String] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    tables.flatMap { case (name, df) =>
      if (df == null || seen.contains(df)) None
      else {
        val counts = graft.ops.CacheScope.counts(df)
        if (counts.rows == 0) None
        else {
          seen.add(df)
          val path = s"$outDir/$name"
          writeCsv(df, path)
          System.err.println(s"[dq] $path n_rows=${counts.rows} " +
            df.columns.zip(counts.nonNull)
              .map { case (c, nn) => s"nulls_$c=${counts.rows - nn}" }
              .mkString(" "))
          Some(name)
        }
      }
    }
  }

  /** Clustered parquet layout sink — the 100 TB table-layout companion
    * to the CSV/JDBC parity sinks. Three knobs that decide whether a
    * petabyte table is scannable:
    *
    *  - hive `partitionBy(partitionCols)` → partition pruning on the
    *    coarse key (date, language, source);
    *  - `sortWithinPartitions(partitionCols ++ sortCols)` → row groups
    *    clustered on `sortCols`, so parquet min/max statistics prune
    *    inside each partition too;
    *  - `repartition` on the partition key (plus an optional hash salt)
    *    → each hive partition is written by `filesPerPartition` tasks,
    *    not by every task: without this, N shuffle tasks × P partitions
    *    emit N·P small files and the table dies of metadata, the classic
    *    small-files failure. `maxRecordsPerFile` caps the other extreme.
    *
    * `filesPerPartition > 1` trades file count for write parallelism on
    * skewed partition keys (one giant date still fans out). */
  def writeClusteredParquet(df: DataFrame, dir: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      filesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    import org.apache.spark.sql.functions._
    require(partitionCols.nonEmpty, "need at least one partition column")
    require(filesPerPartition > 0, "filesPerPartition must be positive")
    val pcols = partitionCols.map(graft.ops.qcol)
    // salt source: the sort keys when given, else every non-partition
    // column — hash() with zero args is an analysis error, and hashing
    // the full row also spreads a partition skewed onto ONE sort-key
    // value across its salt buckets
    val saltCols = {
      val cs = if (sortCols.nonEmpty) sortCols
        else df.columns.toSeq.filterNot(partitionCols.contains)
      if (cs.nonEmpty) cs else partitionCols
    }
    val distKeys =
      if (filesPerPartition == 1) pcols
      else pcols :+ pmod(hash(saltCols.map(graft.ops.qcol): _*),
        lit(filesPerPartition))
    df.repartition(distKeys: _*)
      .sortWithinPartitions(
        (partitionCols ++ sortCols).map(graft.ops.qcol): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(dir)
  }

  /** Bit-interleaved Z-order value over pre-bucketed dimensions: bit b of
    * bucket i lands at position b·ndims+i, so consecutive z-values stay
    * close in EVERY dimension at once. Inputs must already be integer
    * buckets in [0, 2^bits) (see [[zBucket]]); bits·ndims ≤ 62 keeps the
    * value in a long. Pure static shifts — one codegen'd projection. */
  def zorderValue(buckets: Seq[org.apache.spark.sql.Column],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val nd = buckets.length
    require(nd > 0 && bits * nd <= 62, s"bits($bits) * dims($nd) must be <= 62")
    val terms = for {
      (c, ci) <- buckets.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)),
      b * nd + ci)
    terms.reduce(_ + _) // bit positions are disjoint, so + is |
  }

  /** Scale a long column into [0, 2^bits) given broadcast min/max —
    * integer arithmetic end-to-end (a double rescale would round
    * differently across engines): ((c−mn)·2^bits) div (mx−mn+1).
    * Caller guarantees (mx−mn)·2^bits fits in int64. */
  def zBucket(c: org.apache.spark.sql.Column, mn: org.apache.spark.sql.Column,
      mx: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.graftbridge.Bridge
    val num = (c.cast("long") - mn.cast("long")) * lit(1L << bits)
    val den = mx.cast("long") - mn.cast("long") + lit(1L)
    Bridge.toCol(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      Bridge.toExpr(num), Bridge.toExpr(den))).cast("long")
  }

  /** Z-order clustered parquet sink — multi-dimensional layout companion
    * to [[writeClusteredParquet]] (which clusters on ONE sort prefix:
    * filters on the second sort key prune nothing). Here every file
    * covers a small hyper-rectangle of the z-curve, so parquet min/max
    * file skipping prunes scans filtered on ANY of the z-dimensions —
    * the standard data-lake layout trick (Delta/Iceberg OPTIMIZE ZORDER)
    * built from plain Spark primitives.
    *
    * Cost shape at 100 TB: one tiny min/max aggregate (2 longs per
    * dimension, broadcast back), one codegen'd projection for the
    * z-value, one range repartition on it (the same shuffle a plain
    * sorted write pays), sorted-within-partition write. */
  def writeZOrdered(df: DataFrame, dir: String, zCols: Seq[String],
      bits: Int = 8, numFiles: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    require(zCols.nonEmpty, "need at least one z-order column")
    val reserved = "__z" +: zCols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c"))
    require(!df.columns.exists(reserved.contains),
      s"columns ${reserved.mkString(", ")} are reserved by writeZOrdered")
    val aggs = zCols.flatMap(c =>
      Seq(min(graft.ops.qcol(c)).as(s"__mn_$c"),
        max(graft.ops.qcol(c)).as(s"__mx_$c")))
    val mm = df.agg(aggs.head, aggs.tail: _*)
    val buckets = zCols.map(c =>
      zBucket(graft.ops.qcol(c), col(s"__mn_$c"), col(s"__mx_$c"), bits))
    df.crossJoin(broadcast(mm))
      .withColumn("__z", zorderValue(buckets, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop((zCols.map(c => s"__mn_$c") ++ zCols.map(c => s"__mx_$c")
        :+ "__z"): _*)
      .write.mode("overwrite").parquet(dir)
  }

  /** D3/K4 — idempotent upsert: the reference's
    * `INSERT ... ON CONFLICT (order_id, date) DO NOTHING`
    * (ecommerce_s3_to_pg.py:541-549). Spark's JDBC sink has no upsert, so
    * this builds the statement for a `foreachPartition` writer: each
    * partition opens its own connection/transaction and batches inserts.
    * Partition-level (not single-txn) atomicity — idempotence via the
    * conflict clause makes retries safe, strictly stronger than the
    * reference's duplicate-Lambda mitigation (README.md:119-127).
    */
  def upsertSql(table: String, columns: Seq[String],
      conflictCols: Seq[String]): String = {
    val collist = columns.mkString(", ")
    val placeholders = columns.map(_ => "?").mkString(", ")
    s"INSERT INTO $table ($collist) VALUES ($placeholders) " +
      s"ON CONFLICT (${conflictCols.mkString(", ")}) DO NOTHING"
  }

  /** Plain positional insert statement (the reference's non-conflict
    * `INSERT INTO t (cols) VALUES %s`, ecommerce_s3_to_pg.py:552-566). */
  def insertSql(table: String, columns: Seq[String]): String = {
    val placeholders = columns.map(_ => "?").mkString(", ")
    s"INSERT INTO $table (${columns.mkString(", ")}) VALUES ($placeholders)"
  }

  /** K4/K6 executor-side batched writer (like psycopg2's execute_values)
    * for an arbitrary positional-parameter statement over the frame's
    * columns (in column order). `connect` is a serializable factory so
    * tests can inject an embedded connection; production passes a
    * DriverManager lambda. Per-partition connection + transaction; see
    * K6 notes on [[upsertSql]] — for all-or-nothing loads use
    * [[PgLoad.loadAllStaged]]. */
  def writePartitions(
      df: DataFrame,
      sql: String,
      connect: () => Connection,
      batchSize: Int = 1000): Unit =
    writeBatched(df, sql, None, connect, batchSize)

  /** Stage-table writer that stays correct under Spark TASK RETRY:
    * foreachPartition commits per partition, so a task that dies AFTER
    * its commit but before reporting success is re-executed and would
    * duplicate its rows — the ledger key only dedups whole-batch
    * replays, not intra-batch retries. Each task therefore tags its
    * rows with its partition id and DELETEs that partition's rows from
    * any prior attempt inside the SAME transaction as the re-insert:
    * delete+insert+commit is atomic, so any number of sequential
    * retries leaves exactly one copy. (Speculative DUPLICATE attempts
    * running concurrently are the one case this cannot cover — JDBC
    * sinks require `spark.speculation=false`, the standard contract.)
    * The `__part` column exists only in the stage; promotion selects
    * the data columns explicitly and never sees it. */
  def writeStagePartitions(
      df: DataFrame,
      stageTable: String,
      connect: () => Connection,
      batchSize: Int = 1000): Unit = {
    val columns = df.columns.toSeq
    val q = (id: String) => "\"" + id + "\""
    val insert =
      s"INSERT INTO ${q(stageTable)} (${columns.map(q).mkString(", ")}, " +
        s"${q("__part")}) VALUES (${columns.map(_ => "?").mkString(", ")}, ?)"
    val delete = s"DELETE FROM ${q(stageTable)} WHERE ${q("__part")} = ?"
    writeBatched(df, insert, Some(delete), connect, batchSize)
  }

  /** The one executor-side JDBC loop: each non-empty partition opens one
    * connection and one transaction, binds every row's columns in order
    * to `sql` in batches of `batchSize`, and commits; any failure rolls
    * the partition back. With `deleteByPart`, the partition id is bound
    * as one more trailing parameter of every row, and `deleteByPart`
    * (one `?`, the partition id) runs first in the same transaction. */
  private def writeBatched(df: DataFrame, sql: String,
      deleteByPart: Option[String], connect: () => Connection,
      batchSize: Int): Unit = {
    val width = df.columns.length
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.nonEmpty) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conn = connect()
        try {
          conn.setAutoCommit(false)
          deleteByPart.foreach { delete =>
            val del = conn.prepareStatement(delete)
            try { del.setInt(1, pid); del.executeUpdate(); () }
            finally del.close()
          }
          val st = conn.prepareStatement(sql)
          var i = 0
          rows.foreach { row =>
            (0 until width).foreach(j => st.setObject(j + 1, row.get(j)))
            if (deleteByPart.isDefined) st.setInt(width + 1, pid)
            st.addBatch()
            i += 1
            if (i % batchSize == 0) st.executeBatch()
          }
          st.executeBatch()
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally conn.close()
      }
    }
  }

  /** Scale-path persistence: bucketed (and optionally sort-ordered)
    * parquet table. Joins and aggregations keyed on the bucket columns
    * then run WITHOUT a shuffle exchange — at 100 TB, pre-bucketing the
    * fact tables on their join keys turns every downstream key-equi-join
    * into a zip of co-located buckets (spec asserts the exchange-free
    * plan). Bucket count should approximate target parallelism ×
    * desired split size; both join sides must share it. */
  def writeBucketed(
      df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).saveAsTable(table)
  }
}
