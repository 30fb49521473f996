package perfbench

import java.sql.{Connection, DriverManager, SQLException}

/** In-memory Derby stand-in for the handler's Postgres target: the four
  * reference tables as Derby DDL (TEXT → VARCHAR, identifiers quoted
  * because `date` and `size` are reserved) and the quoted-identifier SQL
  * hooks `BatchMain.runWithPg` takes. Derby has no `ON CONFLICT`, so the
  * upsert hook is a plain insert: the cleaned Amazon frame holds each
  * order id once, so nothing conflicts in a fresh DB.
  *
  * The reference's SERIAL surrogate ids are left out. Derby backs an
  * identity column with a locked sequence row, and the sink's concurrent
  * per-partition inserts then fail now and then with "too much contention
  * on sequence" (40XL1), which Postgres SERIAL never raises. The ids carry
  * no content, so the output digest does not need them.
  *
  * One database per op: [[create]] runs the DDL, [[drop]] frees it.
  */
final class DerbyTarget(name: String) {
  import DerbyTarget._

  private val url = s"jdbc:derby:memory:$name"

  val connect: () => Connection = connector(url)

  def create(): Unit = {
    val c = DriverManager.getConnection(s"$url;create=true")
    try ddl.foreach(c.createStatement().execute) finally c.close()
  }

  /** Derby reports a successful drop as SQLState 08006. */
  def drop(): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  /** Rows per table and an order-independent digest of their content,
    * without the load timestamp (wall time, not output). */
  def contents(): Seq[(String, Long, Long)] = {
    val c = connect()
    try tables.map { case (table, cols) =>
      val rs = c.createStatement().executeQuery(
        s"SELECT ${cols.map(q).mkString(", ")} FROM ${q(table)}")
      var n = 0L
      var digest = 0L
      while (rs.next()) {
        n += 1
        digest += Digest.ofValues((1 to cols.size).map(i => rs.getObject(i)))
      }
      (table, n, digest)
    } finally c.close()
  }
}

object DerbyTarget {
  def q(id: String): String = "\"" + id + "\""

  /** Shipped to executors by the JDBC sink, so it captures only `url`. */
  private def connector(url: String): () => Connection =
    () => DriverManager.getConnection(url)

  private def table(name: String, cols: Seq[(String, String)],
      tail: String = ""): String = {
    val colDefs = cols.map { case (n, t) => s"${q(n)} $t" }.mkString(", ")
    s"CREATE TABLE ${q(name)} ($colDefs$tail)"
  }

  private val amazonCols = Seq(
    "order_id" -> "VARCHAR(100) NOT NULL", "date" -> "DATE NOT NULL",
    "status" -> "VARCHAR(100)", "fulfillment" -> "VARCHAR(100)",
    "sales_channel" -> "VARCHAR(100)", "ship_service_level" -> "VARCHAR(100)",
    "sku" -> "VARCHAR(100)", "category" -> "VARCHAR(100)",
    "size" -> "VARCHAR(100)", "asin" -> "VARCHAR(100)",
    "courier_status" -> "VARCHAR(100)", "quantity" -> "INTEGER",
    "amount" -> "FLOAT", "ship_city" -> "VARCHAR(100)",
    "ship_state" -> "VARCHAR(100)", "ship_postal_code" -> "FLOAT",
    "ship_country" -> "VARCHAR(100)", "b2b" -> "VARCHAR(100)",
    "loaded_at" -> "TIMESTAMP")
  private val saleCols = Seq(
    "sku_code" -> "VARCHAR(100) NOT NULL", "design_no" -> "VARCHAR(100)",
    "stock" -> "INTEGER", "category" -> "VARCHAR(100)",
    "size" -> "VARCHAR(100)", "color" -> "VARCHAR(100)",
    "loaded_at" -> "TIMESTAMP")
  private val internationalCols = Seq(
    "data_source" -> s"VARCHAR(10) CHECK (${q("data_source")} IN ('part1', 'part2'))",
    "customer" -> "VARCHAR(100)", "date" -> "DATE",
    "months" -> "VARCHAR(100)", "style" -> "VARCHAR(100)",
    "sku" -> "VARCHAR(100)", "pcs" -> "INTEGER", "rate" -> "VARCHAR(100)",
    "gross_amount" -> "FLOAT", "size" -> "VARCHAR(100)",
    "stock" -> "INTEGER", "loaded_at" -> "TIMESTAMP")

  val ddl: Seq[String] = Seq(
    table("amazon_sale", amazonCols,
      s", PRIMARY KEY (${q("order_id")}, ${q("date")})"),
    table("amazon_sale_version", amazonCols),
    table("sale", saleCols),
    table("international_sales", internationalCols))

  /** Content columns per table (no `loaded_at`). */
  val tables: Seq[(String, Seq[String])] = Seq(
    "amazon_sale" -> amazonCols, "amazon_sale_version" -> amazonCols,
    "sale" -> saleCols, "international_sales" -> internationalCols)
    .map { case (t, cols) => t -> cols.map(_._1).filterNot(_ == "loaded_at") }

  def insertSql(table: String, cols: Seq[String]): String =
    s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  def upsertSql(table: String, cols: Seq[String], conflict: Seq[String]): String =
    insertSql(table, cols)
}
