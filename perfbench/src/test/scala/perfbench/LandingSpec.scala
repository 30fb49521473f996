package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The landing batch is a pure function of the seed: same seed, same
  * bytes; another seed, other bytes. */
class LandingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf01 = new File(sys.env.getOrElse("SPARK_GRAFT_TESTDATA",
    new File(sys.props("user.home"), "testdata").getPath), "sf0.1").getPath

  private def batch(seed: Long): (Map[String, Seq[Byte]], Landing.Manifest) = {
    val dir = Files.createTempDirectory("landing").toFile
    val m = Landing.generate(spark, sf01, dir, seed, scale = 0.01)
    val files = dir.listFiles().map(f =>
      f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    (files, m)
  }

  test("the same seed writes the same bytes") {
    val (a, ma) = batch(7)
    val (b, mb) = batch(7)
    assert(a.keySet == Set(Landing.AmazonFile, Landing.InternationalFile,
      Landing.SaleFile))
    a.foreach { case (name, bytes) => assert(b(name) == bytes, name) }
    assert(ma == mb)
  }

  test("another seed writes other bytes") {
    val (a, _) = batch(7)
    val (b, _) = batch(8)
    assert(a(Landing.AmazonFile) != b(Landing.AmazonFile))
  }

  test("every defect class is planted and the Amazon file is Latin-1") {
    val (files, m) = batch(7)
    assert(m.amazonDup > 0 && m.amazonConflict > 0 && m.amazonBadAmount > 0 &&
      m.amazonBadDate > 0 && m.intlPart2 > 0 && m.intlPart1 > 0)
    val amazon = files(Landing.AmazonFile).toArray
    val utf8 = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    assert(scala.util.Try(utf8.decode(java.nio.ByteBuffer.wrap(amazon))).isFailure,
      "the Amazon file must not decode as UTF-8")
    val intl = new String(files(Landing.InternationalFile).toArray, "UTF-8")
    assert(intl.linesIterator.count(_.contains(",DATE,Months,")) == 2,
      "header plus one embedded header")
  }
}
