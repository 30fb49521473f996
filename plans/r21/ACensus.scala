// Codegen census of the analytics op, kept as the record of how
// plans/r21/acensus.txt was produced. It is not part of either build:
// to rerun it, copy this file into perfbench/src/main/scala/perfbench/ of
// a checkout, build the benchmark once (`python3 perfbench/run.py
// --workload analytics --seed 1 --seconds 1 --trace 0` writes the runtime
// classpath to .bench_build/classpath.txt), then run
//   java <the --add-opens flags of perfbench/run.py> -Xmx3g \
//     [-Dspark.sql.codegen.cache.maxEntries=1000000] \
//     -cp "$(cat .bench_build/classpath.txt)" perfbench.ACensus \
//     <sf-data-dir> <seed> <ops> <work-dir>
// The maxEntries property unbounds Spark's codegen cache (100 entries by
// default), so a repeat op's count is its recompiles, not evictions.

package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeAndComment

import graft.ops.CacheScope

/** Per op of the analytics workload's call sequence (`Corpus.run`, then
  * the three pinned queries as `Queries` runs them): the classes Spark
  * compiles in each part (`CodegenMetrics.METRIC_COMPILATION_TIME` count
  * delta), the keys of Spark's codegen cache grouped by the class loader
  * they are keyed under with the keys each op added per loader, and the
  * keys that are the same code up to their numeric literals. */
object ACensus {
  def main(args: Array[String]): Unit = {
    val Array(data, seedArg, opsArg, workArg) = args
    val (seed, ops, work) = (seedArg.toLong, opsArg.toInt, new File(workArg))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("acensus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = new Corpus(spark, seed, work, new File(data))
    corpus.prepare()
    val sf = new File(data, Queries.ScaleFactor).getPath
    val byName = graft.Registry.all.map(q => q.name -> q).toMap

    val driverLoader = Thread.currentThread.getContextClassLoader
    val loaderNames = scala.collection.mutable.LinkedHashMap.empty[AnyRef, String]
    def loaderName(l: AnyRef): String = loaderNames.getOrElseUpdate(l,
      if (l eq driverLoader) "driver"
      else s"${l.getClass.getSimpleName}#${loaderNames.size}")
    def keysByLoader(): Map[String, Set[CodeAndComment]] = {
      val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      val m = gen.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      val wrapper = m.invoke(gen)
      val guava = wrapper.getClass.getMethod("cache").invoke(wrapper)
      val keys = Class.forName("org.sparkproject.guava.cache.Cache")
        .getMethod("asMap").invoke(guava)
        .asInstanceOf[java.util.Map[AnyRef, AnyRef]].keySet()
      keys.asScala.toSeq.map { k =>
        val (ref, code) = k.asInstanceOf[
          (java.lang.ref.WeakReference[AnyRef], CodeAndComment)]
        Option(ref.get()).fold("(collected)")(loaderName) -> code
      }.groupBy(_._1).map { case (l, ks) => l -> ks.map(_._2).toSet }
    }
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // a double literal in generated Java: 0.5D, 1.0E-6D, -2.25D
    val doubleLit = "-?\\d+\\.\\d+(E-?\\d+)?D".r

    var before = keysByLoader()
    (0 until ops).foreach { op =>
      corpus.before(op)
      val perPart = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      def part[A](name: String)(body: => A): A = {
        val c0 = compiled()
        try body finally perPart(name) = compiled() - c0
      }
      part("corpus")(corpus.run())
      Queries.Pinned.foreach { name =>
        part(name) {
          try Digest.observe(byName(name).run(spark, sf))._1
            .write.mode("overwrite").format("noop").save()
          finally CacheScope.releaseAll()
        }
      }
      val after = keysByLoader()
      println(s"[acensus] op $op compiled ${perPart.values.sum}: " +
        perPart.map { case (p, n) => s"$p=$n" }.mkString(" "))
      println(s"[acensus] op $op cache keys ${after.values.map(_.size).sum} by loader: " +
        after.toSeq.sortBy(_._1).map { case (l, ks) =>
          s"$l=${ks.size} (+${(ks -- before.getOrElse(l, Set.empty)).size})"
        }.mkString(" "))
      val shapes = after.values.toSeq.flatMap(
        // by the generated body alone: the comments beside it repeat the
        // plan's literals in their own spelling
        _.groupBy(code => doubleLit.replaceAllIn(code.body, "?D"))
          .values.filter(_.size > 1))
      println(s"[acensus] op $op keys equal up to double literals: " +
        s"${shapes.map(_.size).sum} keys in ${shapes.size} shapes " +
        shapes.map(_.size).sorted.mkString("(", ",", ")"))
      before = after
    }
    spark.stop()
  }
}
