package perfbench

import java.io.File

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digests: the wrapping sum of a 64-bit hash
  * per row, so partitioning and row order never change a digest. Doubles
  * are rounded to 6 decimals first, so a last-bit difference in an
  * aggregation order does not flip it. */
object Digest {

  def ofString(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b5e) & 0xffffffffL)

  private def canonical(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    case f: Float => canonical(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  def ofValues(vs: Seq[Any]): Long = ofString(vs.map(canonical).mkString("\u0001"))

  /** Rows and digest of a CSV folder written with a header line per file. */
  def ofCsvDir(dir: File): (Long, Long) = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    var n = 0L
    var digest = 0L
    parts.foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).foreach { line =>
        n += 1
        digest += ofString(line)
      } finally src.close()
    }
    (n, digest)
  }

  private def normalized(f: StructField): Column = f.dataType match {
    case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(col(f.name), x => round(x.cast(DoubleType), 6))
    case _: MapType | _: StructType | _: ArrayType => to_json(col(f.name))
    case _ => col(f.name)
  }

  /** Row hash summed exactly (DECIMAL(38,0) cannot overflow here). */
  private def aggs(df: DataFrame): (Column, Column) = {
    val fields = df.schema.fields.toSeq
    val h =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.map(f => normalized(f).as(f.name)): _*)
    (count(lit(1)).as("rows"),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("digest"))
  }

  /** `df` with an observation that yields its row count and digest once an
    * action over it completes — the check rides on the timed action. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val (rows, digest) = aggs(renamed)
    (renamed.observe(obs, rows, digest), obs)
  }

  def ofObservation(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("digest").toString)
  }

  def ofFrame(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val (rows, digest) = aggs(renamed)
    val r = renamed.agg(rows, digest).head()
    (r.getLong(0), r.get(1).toString)
  }
}
