package graftbench

import java.util.zip.CRC32

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One `orders` row. Prices are whole cents and dates whole days since
  * the epoch, so the model's arithmetic is exact.
  */
final case class Order(key: Long, cust: Long, status: String, cents: Long,
    days: Int, priority: String)

object Orders {
  val Statuses: Vector[String] = Vector("F", "O", "P")
  val Priorities: Vector[String] =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val FirstDay = 9131 // 1995-01-01
  val LastDay = 11535 // 2001-08-01

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** Row `key` of a table that numbers orders chronologically: dates
    * rise with the key, so key ranges map to few files and partitions.
    */
  def make(r: scala.util.Random, key: Long, day: Int): Order =
    Order(key, 1 + r.nextInt(15000), Statuses(r.nextInt(3)),
      100000L + r.nextInt(40000000), day, Priorities(r.nextInt(5)))

  def initial(r: scala.util.Random, n: Int): Vector[Order] =
    Vector.tabulate(n)(i => make(r, i.toLong,
      FirstDay + ((LastDay - FirstDay).toLong * i / n).toInt))

  def toRow(o: Order): Row = Row(o.key, o.cust, o.status, o.cents / 100.0,
    new java.sql.Timestamp(o.days * 86400000L), o.priority)

  def df(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(toRow), 1), schema)

  def crc(s: String): Long = {
    val c = new CRC32; c.update(s.getBytes("UTF-8")); c.getValue
  }

  /** Order-insensitive row hash; [[hashCol]] computes the same value in
    * Spark. Bounded to 32 bits so sums over a table never overflow.
    */
  def hash(o: Order): Long =
    ((o.key * 2654435761L) ^ (o.cust * 40503L) ^ (o.cents * 97L) ^
      (o.days * 131L) ^ crc(o.status) ^ (crc(o.priority) * 3L)) & 0xFFFFFFFFL

  /** [[hash]] over a DataFrame whose priority column is `priorityCol`. */
  def hashCol(priorityCol: String): Column = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val days = unix_date(col("o_orderdate").cast("date")).cast("long")
    (col("o_orderkey") * 2654435761L)
      .bitwiseXOR(col("o_custkey") * 40503L)
      .bitwiseXOR(cents * 97L)
      .bitwiseXOR(days * 131L)
      .bitwiseXOR(crc32(col("o_orderstatus").cast("binary")))
      .bitwiseXOR(crc32(col(priorityCol).cast("binary")) * 3L)
      .bitwiseAND(lit(0xFFFFFFFFL))
  }
}

/** The benchmark's own model of the table: every committed state as an
  * immutable map, so expected answers for current and historical reads
  * never come from graft's read path.
  */
final class OrdersModel(init: Vector[Order]) {
  private var states = Vector(Map.from(init.map(o => o.key -> o)))
  private val sums = scala.collection.mutable.Map[Int, (Long, Long)]()

  def current: Map[Long, Order] = states.last
  def version: Int = states.size - 1
  def at(v: Int): Map[Long, Order] = states(v)

  def commit(next: Map[Long, Order]): Int = { states :+= next; version }

  /** (live rows, sum of row hashes) at state `v`. */
  def checksum(v: Int = version): (Long, Long) =
    sums.getOrElseUpdate(v, {
      val s = states(v)
      (s.size.toLong, s.valuesIterator.map(Orders.hash).sum)
    })
}

/** The pipeline corpus: `documents` and `embeddings` parquet shaped like
  * the repository's sf fixtures (a 30-word vocabulary with a rare extra
  * token, 10-100 tokens per document, five languages, twenty sources;
  * 64-dimension unit vectors in ten labelled clusters). It is generated
  * from a fixed seed, not the run's seed, so each query's answer can be
  * pinned once.
  */
object Corpus {
  val Seed = 42L
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Langs: Vector[String] = Vector("en", "en", "en", "fr", "es", "zh", "de")

  def write(spark: SparkSession, dir: String, docs: Int, vecs: Int): Unit = {
    val r = new scala.util.Random(Seed)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val docRows = (0 until docs).map { i =>
      val text =
        if (i > 0 && r.nextInt(600) == 0) texts(r.nextInt(texts.size))
        else Vector.fill(10 + r.nextInt(91))(
          if (r.nextInt(1000) < 1) "dup" else Vocab(r.nextInt(Vocab.size)))
          .mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val centers = Vector.fill(10)(Vector.fill(64)(r.nextGaussian()))
    val vecRows = (0 until vecs).map { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(_ * 0.35 + r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
