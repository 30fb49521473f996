// Codegen census of the handler op, kept as the record of how
// plans/r19/census.txt was produced. It is not part of either build:
// to rerun it, copy this file into perfbench/src/main/scala/perfbench/ of
// a checkout, build the benchmark once (`python3 perfbench/run.py
// --workload handler --seed 2 --seconds 1 --trace 0` writes the runtime
// classpath to .bench_build/classpath.txt), then run
//   java <the --add-opens flags of perfbench/run.py> -Xmx3g \
//     [-Dspark.sql.codegen.cache.maxEntries=1000000] \
//     -cp "$(cat .bench_build/classpath.txt)" perfbench.Census \
//     <sf-data-dir> <seed> <ops> <work-dir>
// The maxEntries property unbounds Spark's codegen cache (100 entries by
// default), so a repeat op's count is its recompiles, not evictions.

package perfbench

import java.io.File
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.app.BatchMain
import graft.ops.CacheScope
import graft.pipeline.Cleaners
import graft.sinks.{PgLoad, Sinks}
import graft.sources.CsvSource

/** Per op of the handler workload's call sequence (the layer calls of
  * `Handler.runTraced`): the classes Spark compiles in each layer
  * (`CodegenMetrics.METRIC_COMPILATION_TIME` count delta), and the keys
  * of Spark's codegen cache grouped by the class loader they are keyed
  * under, with the keys each op added per loader. */
object Census {
  def main(args: Array[String]): Unit = {
    val Array(data, seedArg, opsArg, workArg) = args
    val (seed, ops, work) = (seedArg.toLong, opsArg.toInt, new File(workArg))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("census")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val landing = new File(work, "landing")
    Workload.rm(landing)
    Landing.generate(spark, new File(data, "sf0.1").getPath, landing, seed,
      Handler.Scale)
    val driverLoader = Thread.currentThread.getContextClassLoader
    val loaderNames = scala.collection.mutable.LinkedHashMap.empty[AnyRef, String]
    def loaderName(l: AnyRef): String = loaderNames.getOrElseUpdate(l,
      if (l eq driverLoader) "driver"
      else s"${l.getClass.getSimpleName}#${loaderNames.size}")
    def keysByLoader(): Map[String, Set[AnyRef]] = {
      val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      val m = gen.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      val wrapper = m.invoke(gen)
      val guava = wrapper.getClass.getMethod("cache").invoke(wrapper)
      val keys = Class.forName("org.sparkproject.guava.cache.Cache")
        .getMethod("asMap").invoke(guava)
        .asInstanceOf[java.util.Map[AnyRef, AnyRef]].keySet()
      keys.asScala.toSeq.map { k =>
        val (ref, code) = k.asInstanceOf[(java.lang.ref.WeakReference[AnyRef], AnyRef)]
        Option(ref.get()).fold("(collected)")(loaderName) -> code
      }.groupBy(_._1).map { case (l, ks) => l -> ks.map(_._2).toSet }
    }
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val loadedAt = Timestamp.valueOf("2022-04-30 10:00:00")
    var before = keysByLoader()
    (0 until ops).foreach { op =>
      val out = new File(work, "cleaned")
      Workload.rm(out)
      val db = new DerbyTarget(s"census$op")
      db.create()
      val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      def layer[A](name: String)(body: => A): A = {
        val c0 = compiled()
        try body finally perLayer(name) = compiled() - c0
      }
      try {
        val byClass = layer("sources") {
          BatchMain.latestPerClass(spark, landing.getPath, None)
        }
        val empty = spark.emptyDataFrame
        try {
          val (amC, amF) = layer("pipeline.amazon") {
            byClass.get(CsvSource.AmazonSale)
              .map(Cleaners.amazon(_, cacheSplit = true)).getOrElse((empty, empty))
          }
          val sa = layer("pipeline.sale") {
            byClass.get(CsvSource.PlainSale).map(Cleaners.sale).getOrElse(empty)
          }
          val (i1, i2) = layer("pipeline.international") {
            byClass.get(CsvSource.InternationalSale)
              .map(Cleaners.international).getOrElse((empty, empty))
          }
          layer("sinks.csv") {
            Sinks.writeCsvAll(Seq(
              "amazon_sale" -> amC, "amazon_sale_duplicates" -> amF,
              "sale" -> sa, "international_1" -> i1, "international_2" -> i2),
              out.getPath)
          }
          layer("sinks.jdbc") {
            PgLoad.loadAll(amC, amF, sa, i1, i2, loadedAt, db.connect,
              DerbyTarget.upsertSql, DerbyTarget.insertSql, createTables = false)
          }
        } finally CacheScope.releaseAll()
      } finally db.drop()
      val after = keysByLoader()
      println(s"[census] op $op compiled ${perLayer.values.sum}: " +
        perLayer.map { case (l, n) => s"$l=$n" }.mkString(" "))
      println(s"[census] op $op cache keys ${after.values.map(_.size).sum} by loader: " +
        after.toSeq.sortBy(_._1).map { case (l, ks) =>
          s"$l=${ks.size} (+${(ks -- before.getOrElse(l, Set.empty)).size})"
        }.mkString(" "))
      before = after
    }
    spark.stop()
  }
}
