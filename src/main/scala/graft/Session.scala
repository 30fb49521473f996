package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (and the test harness) gets
  * its session here, so engine settings cannot drift between entry
  * points. A `spark.master` already set by the launcher (spark-submit)
  * wins; otherwise the session runs `local[cores]`. Shuffle partitions
  * follow the core count; time zone is UTC (oracle determinism).
  */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, otherwise the JVM's available processors. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = cpus): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark =
      (if (sys.props.contains("spark.master")) b else b.master(s"local[$cores]"))
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
