package graft.app

import java.sql.{Connection, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.CacheScope
import graft.pipeline.Cleaners
import graft.sinks.{PgLoad, Sinks}
import graft.sources.CsvSource

/** Batch driver — the `lambda_handler` equivalent (SURVEY.md §3.2):
  * list the raw landing dir (S4 mtime window + S2 name filter), route each
  * file by name (S5), read it with encoding fallback (S3), clean per class
  * ([[Cleaners.byClass]]), land cleaned CSVs (K2). Listing uses the
  * Hadoop FileSystem API, so the same code walks file://, hdfs:// or
  * s3a:// landing zones.
  *
  * Usage: runMain graft.app.BatchMain <rawDir> <outDir> [modifiedAfterMs]
  */
object BatchMain {
  def main(args: Array[String]): Unit = {
    val rawDir = args(0)
    val outDir = args(1)
    val modifiedAfterMs = if (args.length > 2) Some(args(2).toLong) else None
    val spark = graft.Session()
    run(spark, rawDir, outDir, modifiedAfterMs)
    spark.stop()
  }

  /** [[runWithPg]] without its JDBC half. */
  def run(spark: SparkSession, rawDir: String, outDir: String,
      modifiedAfterMs: Option[Long]): Unit =
    try Sinks.writeCsvAll(Cleaners.byClass(
      latestPerClass(spark, rawDir, modifiedAfterMs)).csvZone, outDir): Unit
    finally CacheScope.releaseAll()

  /** S4 mtime window + S2 name filter + S5 routing; the reference keeps
    * one variable per class — last file of a class wins (SURVEY.md §3.2
    * step 2), preserved via maxBy(mtime). The routed files are read
    * concurrently, one branch per class ([[CacheScope.all]]). */
  def latestPerClass(spark: SparkSession, rawDir: String,
      modifiedAfterMs: Option[Long]): Map[CsvSource.FileClass, DataFrame] = {
    val path = new Path(rawDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val routed = fs.listStatus(path).toSeq
      .filter(_.isFile)
      .filter(f => modifiedAfterMs.forall(f.getModificationTime > _)) // S4
      .filter(f => CsvSource.rawNameFilter(f.getPath.getName.toLowerCase)) // S2
      .groupBy(f => CsvSource.classify(f.getPath.getName)) // S5
      .toSeq.map { case (cls, clsFiles) =>
        cls -> clsFiles.maxBy(_.getModificationTime).getPath.toString
      }
    routed.map(_._1).zip(CacheScope.all(routed.map { case (_, file) =>
      () => CsvSource.read(spark, file)
    })).toMap
  }

  /** The COMPLETE reference handler shape (`lambda_handler`,
    * ecommerce_s3_to_pg.py:688-741): route → clean each class ONCE →
    * land cleaned CSVs (`load_to_s3`) AND run the five-frame Postgres
    * load (`load_to_pg`) over the same frames. Returns the JDBC tables
    * written. SQL-text hooks as in [[PgLoad.loadAll]] (the spec drives
    * this against embedded Derby).
    *
    * Each step fans out over its independent classes, frames or tables
    * ([[CacheScope.all]]). Two barriers stay: every CSV lands before any
    * JDBC load starts (the reference runs `load_to_s3` first), and the
    * caches are released after everything has joined. */
  def runWithPg(
      spark: SparkSession, rawDir: String, outDir: String,
      connect: () => Connection, loadedAt: Timestamp,
      modifiedAfterMs: Option[Long] = None,
      upsertSqlFor: (String, Seq[String], Seq[String]) => String =
        Sinks.upsertSql,
      insertSqlFor: (String, Seq[String]) => String = Sinks.insertSql,
      createTables: Boolean = true): Seq[String] = {
    try {
      val c = Cleaners.byClass(latestPerClass(spark, rawDir, modifiedAfterMs))
      // load_to_s3: K2 cleaned-CSV zone with the P7/P8 guards
      Sinks.writeCsvAll(c.csvZone, outDir)
      // load_to_pg: the assembled five-frame load
      PgLoad.loadAll(c.amazonClean, c.amazonDuplicates, c.sale,
        c.international1, c.international2, loadedAt, connect,
        upsertSqlFor, insertSqlFor, createTables)
    } finally CacheScope.releaseAll()
  }
}
