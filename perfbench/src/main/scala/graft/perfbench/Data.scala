package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

/** One orders row. The price is kept in cents so the model compares
  * exactly with what a table or a CSV report hands back.
  */
final case class Order(key: Long, cust: Long, status: String, cents: Long, day: Int,
    priority: String, clerk: String, shipPriority: Int, comment: String, updatedAt: Long)

final case class Customer(key: Long, name: String, nation: Int, acctbalCents: Long, segment: String)

/** Row count plus an order-independent content digest (wrapping sum of
  * per-row hashes), so two row sets compare as two numbers.
  */
final case class Digest(rows: Long, sum: Long) {
  def +(h: Long): Digest = Digest(rows + 1, sum + h)
}

object Digest {
  val empty: Digest = Digest(0, 0)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hash of the columns the checks compare: key, price, priority,
    * precombine value and (for reports) the joined customer name.
    */
  def row(key: Long, cents: Long, priority: String, updatedAt: Long, name: String): Long =
    mix(mix(mix(mix(key) ^ cents) ^ MurmurHash3.stringHash(priority)) ^ updatedAt) ^
      MurmurHash3.stringHash(name)

  def of(it: Iterator[Long]): Digest = it.foldLeft(empty)(_ + _)
}

/** The seeded generator of every input graft sees — a TPC-H-shaped
  * orders/customer pair plus daily upsert batches — and the in-memory
  * model the checks compare graft's outputs against.
  */
object Data {
  val Urgent = "1-URGENT"
  val Priorities: Vector[String] = Vector(Urgent, "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Vector("furiously", "regular", "deposits", "sleep", "quickly", "final",
    "pending", "accounts", "ironic", "packages", "carefully", "express", "requests", "blithely")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  /** 2024-01-01T00:00Z: base rows carry it; day d's batch carries d days later. */
  val BaseMillis = 1704067200000L
  private val DayMillis = 86400000L

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", DateType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false),
    StructField("o_clerk", StringType, nullable = false),
    StructField("o_shippriority", IntegerType, nullable = false),
    StructField("o_comment", StringType, nullable = false),
    StructField("updated_at", LongType, nullable = false)))
  val orderColumns: Seq[String] = orderSchema.fieldNames.toSeq

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType, nullable = false),
    StructField("c_nationkey", IntegerType, nullable = false),
    StructField("c_acctbal", DoubleType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))

  private def comment(rnd: Random): String =
    Seq.fill(3 + rnd.nextInt(4))(Words(rnd.nextInt(Words.size))).mkString(" ")

  def customers(seed: Long, n: Int): Vector[Customer] = {
    val rnd = new Random(seed * 31 + 7)
    Vector.tabulate(n) { i =>
      val k = i + 1L
      Customer(k, f"Customer#$k%09d", rnd.nextInt(25), rnd.nextInt(1000000) - 99999L,
        Segments(rnd.nextInt(Segments.size)))
    }
  }

  private def order(rnd: Random, key: Long, nCust: Int, updatedAt: Long): Order =
    Order(key, 1L + rnd.nextInt(nCust), if (rnd.nextBoolean()) "O" else "F",
      100000L + rnd.nextInt(50000000), 8035 + rnd.nextInt(2400),
      Priorities(rnd.nextInt(Priorities.size)), f"Clerk#${rnd.nextInt(1000)}%09d",
      0, comment(rnd), updatedAt)

  def orders(seed: Long, n: Int, nCust: Int): Vector[Order] = {
    val rnd = new Random(seed)
    Vector.tabulate(n)(i => order(rnd, i + 1L, nCust, BaseMillis))
  }

  /** `copies` copies of `base`, each copy's keys offset past the last,
    * the way a larger table is derived from a small one.
    */
  def derive(base: Vector[Order], copies: Int): Vector[Order] = {
    val stride = base.iterator.map(_.key).max
    (0 until copies).iterator.flatMap(c => base.iterator.map(o => o.copy(key = o.key + c * stride)))
      .toVector
  }

  def orderRow(o: Order): Row = Row(o.key, o.cust, o.status, o.cents / 100.0,
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(o.day.toLong)), o.priority, o.clerk,
    o.shipPriority, o.comment, o.updatedAt)

  def customerRow(c: Customer): Row =
    Row(c.key, c.name, c.nation, c.acctbalCents / 100.0, c.segment)

  def ordersDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(orderRow): _*), orderSchema)

  def customersDf(spark: SparkSession, rows: Seq[Customer]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(customerRow): _*), customerSchema)

  /** The current state of an upserted table: base ⊕ batches, latest
    * `updated_at` winning per key.
    */
  final class Model(base: Vector[Order], val customers: Vector[Customer]) {
    private val rows = mutable.LongMap.empty[Order] ++= base.iterator.map(o => o.key -> o)
    private val keys = mutable.ArrayBuffer.from(base.iterator.map(_.key))
    private var nextKey = keys.max + 1
    private val names = mutable.LongMap.empty[String] ++= customers.iterator.map(c => c.key -> c.name)

    /** Day `day`'s batch: `nUpdate` distinct live keys get a new price
      * and priority, `nInsert` new keys arrive; all carry the day's
      * `updated_at`. Deterministic in `rnd`.
      */
    def batch(rnd: Random, day: Int, nUpdate: Int, nInsert: Int): Vector[Order] = {
      val at = BaseMillis + day * DayMillis
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < nUpdate) picked += keys(rnd.nextInt(keys.size))
      val updates = picked.iterator.map { k =>
        rows(k).copy(cents = 100000L + rnd.nextInt(50000000),
          priority = Priorities(rnd.nextInt(Priorities.size)), updatedAt = at)
      }.toVector
      val inserts = Vector.tabulate(nInsert)(i => order(rnd, nextKey + i, customers.size, at))
      nextKey += nInsert
      updates ++ inserts
    }

    def apply(batch: Seq[Order]): Unit = batch.foreach { o =>
      rows.get(o.key) match {
        case Some(old) if old.updatedAt > o.updatedAt => ()
        case Some(_) => rows(o.key) = o
        case None => rows(o.key) = o; keys += o.key
      }
    }

    def snapshotDigest: Digest = Data.tableDigest(rows.valuesIterator)

    /** The flagship report over this state: URGENT orders ⋈ customer. */
    def reportDigest: Digest = Data.reportDigest(rows.valuesIterator, names)
  }

  def tableDigest(rows: Iterator[Order]): Digest =
    Digest.of(rows.map(o => Digest.row(o.key, o.cents, o.priority, o.updatedAt, "")))

  def reportDigest(rows: Iterator[Order], names: collection.Map[Long, String]): Digest =
    Digest.of(rows.filter(_.priority == Urgent).flatMap(o =>
      names.get(o.cust).map(n => Digest.row(o.key, o.cents, o.priority, o.updatedAt, n))))

  def reportDigest(rows: Seq[Order], customers: Seq[Customer]): Digest =
    reportDigest(rows.iterator, mutable.LongMap.from(customers.iterator.map(c => c.key -> c.name)))

  def cents(price: Double): Long = math.round(price * 100)

  /** Digest of a table as graft reads it back. */
  def tableDigest(df: DataFrame): Digest =
    Digest.of(df.select("o_orderkey", "o_totalprice", "o_orderpriority", "updated_at")
      .collect().iterator
      .map(r => Digest.row(r.getLong(0), cents(r.getDouble(1)), r.getString(2), r.getLong(3), "")))

  /** Digest of a single-file CSV report as a recipient would read it.
    * The generator never emits commas or quotes, so a plain split is
    * an exact parse.
    */
  def csvDigest(path: java.nio.file.Path): Digest = {
    val src = scala.io.Source.fromFile(path.toFile, "UTF-8")
    try {
      val lines = src.getLines()
      val header = lines.next().split(',').toIndexedSeq
      val Seq(k, p, pr, u, n) = Seq("o_orderkey", "o_totalprice", "o_orderpriority",
        "updated_at", "customer_name").map(header.indexOf)
      Digest.of(lines.map { l =>
        val f = l.split(',')
        Digest.row(f(k).toLong, cents(f(p).toDouble), f(pr), f(u).toLong, f(n))
      })
    } finally src.close()
  }
}
