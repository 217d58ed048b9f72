package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + reference-shaped fixtures.
  *
  * Mirrors the reference's generated star schema
  * (/root/reference/csvplus_test.go:1188-1357): `people` 120 rows
  * (10 names × 12 surnames, unique id and (name,surname)), `stock` 8
  * products, `orders` 10,000 rows with FKs into both — ground truth
  * kept in in-memory arrays, invariants asserted against them (not
  * golden files). All values are STRINGS, like the reference's Row.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder(4, 4)
    .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
    .getOrCreate()
}

object Fixtures {
  val names = Seq("Amelia", "Olivia", "Emily", "Ava", "Isla",
    "Oliver", "Jack", "Harry", "Jacob", "Charlie")
  val surnames = Seq("Smith", "Jones", "Taylor", "Williams", "Brown",
    "Davies", "Evans", "Wilson", "Thomas", "Roberts", "Johnson", "Lewis")
  val products = Seq("banana", "apple", "orange", "pea", "tomato",
    "potato", "cucumber", "iPhone")

  final case class Person(id: String, name: String, surname: String, born: String)
  final case class Stock(prodId: String, product: String, price: String)
  final case class Order(orderId: String, custId: String, prodId: String,
                         qty: String, ts: String)

  val rng = new scala.util.Random(42)

  val peopleData: IndexedSeq[Person] =
    for (i <- 0 until names.length; j <- 0 until surnames.length) yield
      Person((i * surnames.length + j).toString, names(i), surnames(j),
        (1916 + rng.nextInt(90)).toString)

  val stockData: IndexedSeq[Stock] =
    products.indices.map(i =>
      Stock(i.toString, products(i), f"${(i + 1) / 100.0}%.2f"))

  val numOrders = 10000
  val ordersData: IndexedSeq[Order] =
    (0 until numOrders).map { i =>
      Order(i.toString, rng.nextInt(peopleData.length).toString,
        rng.nextInt(products.length).toString,
        (1 + rng.nextInt(100)).toString,
        java.time.Instant.ofEpochSecond(1700000000L - rng.nextInt(100000)).toString)
    }

  private def strSchema(cols: String*): StructType =
    StructType(cols.map(StructField(_, StringType, nullable = true)))

  def peopleDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(peopleData.map(p =>
        Row(p.id, p.name, p.surname, p.born)): _*),
      strSchema("id", "name", "surname", "born"))

  def stockDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(stockData.map(s =>
        Row(s.prodId, s.product, s.price)): _*),
      strSchema("prod_id", "product", "price"))

  def ordersDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ordersData.map(o =>
        Row(o.orderId, o.custId, o.prodId, o.qty, o.ts)): _*),
      strSchema("order_id", "cust_id", "prod_id", "qty", "ts"))
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def people: DataFrame = Fixtures.peopleDf(spark)
  def stock: DataFrame = Fixtures.stockDf(spark)
  def orders: DataFrame = Fixtures.ordersDf(spark)
}
