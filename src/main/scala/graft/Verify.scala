package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional comma-separated subset for the dev loop; the driver passes 2 args
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Record the breakage IN the artifact — a silently-missing dump
        // reads as a shrunken registry, not a red row (round-4 lesson).
        // The marker lives INSIDE the query's own directory: the driver
        // provably try/excepts per query (the r4 ext_tokenize_ids ERR
        // row), so a parquet-less dir surfaces as that query's red row;
        // a NEW top-level file could trip a listing the driver only
        // guards against oracle_sql.json.
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        val dir = new java.io.File(s"$outDir/$name")
        // clear any stale output from a previous run first — a leftover
        // parquet dump would mask this failure as a green row, and an
        // aborted write can leave a _temporary/ SUBDIRECTORY with part
        // files, so the delete must be recursive, not top-level-only
        graft.ops.Scratch.rmRf(dir)
        dir.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_VERIFY_ERROR.txt"),
          msg.take(4000))
      } finally graft.ops.CacheScope.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
          failed.keys.mkString(", "))
    }
    spark.stop()
  }
}
