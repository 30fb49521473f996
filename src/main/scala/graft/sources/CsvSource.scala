package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}

import org.apache.hadoop.fs.Path
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** CSV sources (SURVEY.md §2.1, S2-S5).
  *
  * - S3: each routed file is decoded once — UTF-8 unless its bytes are not
  *   valid UTF-8, then ISO-8859-1 (ecommerce_s3_to_pg.py:107-114) — and its
  *   column types are inferred over the whole file
  *   (ecommerce_raw_to_s3.py:95-99).
  * - S4: the modified-time window and S2: the raw-name filter both prune at
  *   listing time, before any bytes are read (`BatchMain.latestPerClass`).
  *   The reference's filename-timestamp regex is dead code (unformatted
  *   `{}` placeholder at :80, see SURVEY.md defects), so the *effective*
  *   S4 semantics is the `LastModified` window at :94-102.
  * - S5: the filename router below.
  */
object CsvSource {

  /** S3 — read one CSV file with the reference's encoding fallback. The
    * bytes are read once through the Hadoop FileSystem (file://, hdfs://
    * and s3a:// alike) and decoded by a strict UTF-8 decoder; a
    * `CharacterCodingException` — the reference's `UnicodeDecodeError` —
    * selects ISO-8859-1 instead. The decoded lines keep file order (O1's
    * embedded-header split depends on it), and the file scan's rules hold:
    * a leading UTF-8 byte-order mark is skipped, LF, CR and CRLF end a
    * line, blank lines are dropped, only the first non-blank line is the
    * header (a later copy of it is a data row), and the type vote leaves
    * out every line equal to the header. One job: the inference. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val file = new Path(path)
    val in = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(file)
    val bytes = try in.readAllBytes() finally in.close()
    val lines = decode(bytes).split("\r\n|\r|\n")
    val head = lines.indexWhere(_.trim.nonEmpty)
    if (head < 0) spark.emptyDataFrame
    else {
      // as many partitions as the file scan splits the file into
      // (FilePartition.maxSplitBytes): a small file is one partition
      def conf(key: String) = JavaUtils.byteStringAsBytes(spark.conf.get(key))
      val openCost = conf("spark.sql.files.openCostInBytes")
      val splitBytes = math.min(conf("spark.sql.files.maxPartitionBytes"),
        math.max(openCost,
          (bytes.length + openCost) / spark.sparkContext.defaultParallelism))
      val slices = math.ceil(bytes.length.toDouble / splitBytes).toInt
      val body = spark.createDataset(spark.sparkContext.parallelize(
        lines.toSeq.drop(head + 1), math.max(1, slices)))(Encoders.STRING)
      spark.read.schema(Bridge.inferCsvSchema(body, lines(head))).csv(body)
    }
  }

  private def decode(bytes: Array[Byte]): String = {
    val bom = bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
      bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte
    val from = if (bom) 3 else 0
    try StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .decode(ByteBuffer.wrap(bytes, from, bytes.length - from)).toString
    catch {
      case _: CharacterCodingException =>
        new String(bytes, from, bytes.length - from, StandardCharsets.ISO_8859_1)
    }
  }

  /** S5 — filename classification router (ecommerce_s3_to_pg.py:704-722):
    * substring routing on the lowercase basename. */
  sealed trait FileClass
  case object AmazonSale extends FileClass
  case object InternationalSale extends FileClass
  case object PlainSale extends FileClass
  case object Unrecognized extends FileClass

  def classify(fileName: String): FileClass = {
    val n = fileName.toLowerCase
    if (n.contains("amazon") && n.contains("sale")) AmazonSale
    else if (n.contains("international") && n.contains("sale")) InternationalSale
    else if (n.contains("sale")) PlainSale
    else Unrecognized
  }

  /** S2 — raw-listing filename filter (ecommerce_raw_to_s3.py:74-78): keep
    * `.csv` files containing "sale", skip URL-encoded names. */
  def rawNameFilter(name: String): Boolean =
    name.toLowerCase.contains("sale") && name.endsWith(".csv") &&
      !name.contains("%20")
}
