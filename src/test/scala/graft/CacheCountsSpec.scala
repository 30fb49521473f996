package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{qcol, CacheScope}
import graft.pipeline.Transform

/** The counts a cache fill reads from the cached batches' statistics
  * against an aggregate over the same persisted frame, and the
  * Transform decisions taken from them. */
class CacheCountsSpec extends SparkSpec {
  import spark.implicits._

  /** `count(lit(1))` and `count(col)` per column, by an aggregate. */
  private def aggregated(df: DataFrame): Bridge.CacheCounts = {
    val r = df.agg(count(lit(1)), df.columns.map(c => count(qcol(c))): _*)
      .head()
    Bridge.CacheCounts(r.getLong(0), (1 to df.columns.length).map(r.getLong))
  }

  /** Fill `df`'s scope cache, then compare with the aggregate over it. */
  private def assertCountsAgree(df: DataFrame): Bridge.CacheCounts =
    try {
      val filled = Bridge.fillCache(CacheScope.persist(df))
      assert(filled == aggregated(df))
      filled
    } finally CacheScope.releaseAll()

  /** Eight column types, some under names that need quoting (`d.bl`,
    * `an int`, `ts.col x`), and `all null`: row i is NULL in column c
    * when (i + c) % 3 == 0, and `all null` is NULL in every row. */
  private def mixed(rows: Int, partitions: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("d.bl", DoubleType),
      StructField("an int", IntegerType), StructField("l", LongType),
      StructField("dt", DateType), StructField("ts.col x", TimestampType),
      StructField("b", BooleanType), StructField("arr", ArrayType(IntegerType)),
      StructField("all null", StringType)))
    def v(i: Int, c: Int, x: Any): Any = if ((i + c) % 3 == 0) null else x
    val data = (0 until rows).map(i => Row(
      v(i, 0, s"s$i"), v(i, 1, i * 0.5), v(i, 2, i), v(i, 3, i.toLong << 33),
      v(i, 4, Date.valueOf("2022-04-30")),
      v(i, 5, new Timestamp(1651312800000L + i)), v(i, 6, i % 2 == 0),
      v(i, 7, Seq.fill(i % 4)(i)), null))
    spark.createDataFrame(spark.sparkContext.parallelize(data, partitions),
      schema)
  }

  test("fill counts equal count(lit(1)) and count(col) for every column " +
      "type, quoted names and an all-NULL column, over several batches") {
    val key = "spark.sql.inMemoryColumnarStorage.batchSize"
    val batchSize = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      // 5 partitions of 20 rows: three batches each
      val c = assertCountsAgree(mixed(100, 5))
      assert(c.rows == 100 && c.nonNull.last == 0L)
      assert(c.nonNull.head == 66L && c.nonNull(1) == 67L)
      // a NULL-typed column and a frame narrowed by a filter
      assertCountsAgree(mixed(40, 3).withColumn("n", lit(null))
        .filter(col("an int").isNull || col("an int") > 10))
    } finally spark.conf.set(key, batchSize)
  }

  test("fill counts of an empty frame and of empty partitions") {
    val none = assertCountsAgree(mixed(0, 3))
    assert(none.rows == 0L && none.nonNull == Seq.fill(9)(0L))
    // 2 rows over 8 partitions: most partitions hold no batch
    assert(assertCountsAgree(mixed(2, 8)).rows == 2L)
  }

  test("a frame whose identical plan is already cached: the fill reads " +
      "the loaded cache in one job, and the owner keeps it") {
    val base = mixed(30, 3)
    val owned = base.persist()
    try {
      owned.count()
      val same = base.toDF()
      var c: Bridge.CacheCounts = null
      try {
        assert(jobsDuring { c = Bridge.fillCache(CacheScope.persist(same)) } == 1)
        assert(c == aggregated(same) && c.rows == 30L)
      } finally CacheScope.releaseAll()
      assert(owned.storageLevel != StorageLevel.NONE,
        "releasing the scope freed a cache it does not own")
    } finally owned.unpersist(blocking = true)
  }

  test("Transform decisions from the fill counts: the 90 % adoption " +
      "boundary, both month strategies and A5 drops") {
    // per row i of n: `amount` is numeric except row 0, `qty` always
    // numeric, `order month` has one datetime-parseable value (strategy
    // A), `sale.month` only prefixes (strategy B), `dead month` neither;
    // `na col` and `dead.int` end all-NULL (A5), `ship date` is dates
    def frame(n: Int): DataFrame = (0 until n).map { i =>
      (if (i == 0) "not a number" else s"$$$i,000.50", s"($i)",
        if (i == 1) "2021-06-01" else "jan", if (i % 2 == 0) "FEB " else "xyz",
        "zzz", "NA", Option.empty[Int], Some(i).filter(_ % 2 == 0),
        if (i == 2) "bad" else "2022-04-30")
    }.toDF("amount", "qty", "order month", "sale.month", "dead month",
      "na col", "dead.int", "live.int", "ship date")

    def decide(n: Int): (Seq[(String, String)], Seq[Row]) =
      try {
        val out = Transform(frame(n))
        (out.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq,
          out.collect().toSeq)
      } finally CacheScope.releaseAll()

    // 10 rows: amount 9/10 numeric = 90 % -> kept as strings
    val (schema10, rows10) = decide(10)
    assert(schema10 == Seq("amount" -> "string", "qty" -> "double",
      "order_month" -> "string", "sale.month" -> "string",
      "live.int" -> "integer", "ship_date" -> "string"))
    assert(rows10.map(_.getString(0)).count(_ == "not a number") == 1)
    assert(rows10.map(_.getString(2)).count(_ == "June") == 1 &&
      rows10.map(_.getString(2)).count(_ == null) == 9)
    assert(rows10.map(_.getString(3)).toSet == Set("February", null))
    assert(rows10.map(_.getString(5)).count(_ == null) == 1)
    // 11 rows: 10/11 > 90 % -> adopted, the one non-number NULL
    val (schema11, rows11) = decide(11)
    assert(schema11 == schema10.updated(0, "amount" -> "double"))
    assert(rows11.map(r => Option(r.get(0))).count(_.isEmpty) == 1)
    assert(rows11.flatMap(r => Option(r.get(0))).contains(1000.5))
    // a frame of only all-NULL outcomes keeps no column
    val dead = Seq("dead month", "na col", "dead.int").map(qcol)
    try assert(Transform(frame(3).select(dead: _*)).columns.isEmpty)
    finally CacheScope.releaseAll()
  }
}
