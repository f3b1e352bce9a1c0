package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the table layout the engine reads (FIXTURES.md
  * §1): the same columns, physical types and value distributions as the
  * reference test tables, at a chosen scale, so every input of a run is a
  * function of `--seed` alone. Timestamps are written as naive
  * TIMESTAMP(MICROS) columns, the encoding the reference tables use.
  *
  * Documents follow the reference corpus: 10-100 tokens drawn from a
  * 30-word vocabulary, 5% near-duplicates (an earlier text plus " dup")
  * and 0.2% exact copies, so admission, exact dedup and n-gram Jaccard
  * all have work to do.
  */
object Inputs {
  val vocab: Array[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(" ")
  private val langs = Array("en", "zh", "es", "fr", "de")
  private val langWeights = Array(0.41, 0.15, 0.15, 0.15, 0.14)
  private val priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val eventTypes = Array("signup", "purchase", "view", "click", "error")
  private val partWords = Array("red", "hot", "blue", "large", "new", "small", "cold", "green")
  private val partNouns = Array("bolt", "ring", "anvil", "rod", "plate", "gear", "nut", "pin")
  private val partTypes = Array("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")

  private final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def long(n: Long): Long = r.nextLong(n)
    def double(): Double = r.nextDouble()
    def cents(lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
  }

  private def write(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  /** Documents only (the training-data workload's input). */
  def documents(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rng = new Rng(seed * 31 + 1)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val u = rng.double()
      texts(i) =
        if (i > 0 && u < 0.05) texts(rng.int(i)) + " dup"
        else if (i > 0 && u < 0.052) texts(rng.int(i))
        else Array.fill(10 + rng.int(91))(rng.pick(vocab)).mkString(" ")
      val w = rng.double()
      var l = 0
      var acc = langWeights(0)
      while (w > acc && l < langs.length - 1) { l += 1; acc += langWeights(l) }
      Row(i.toLong, texts(i), langs(l), s"src${rng.int(20)}", texts(i).length.toLong)
    }
    write(spark, dir, "documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), rows)
  }

  /** The star schema, the event stream and the documents at scale `sf`
    * (sf 1 = 1.5M orders, 6M lines, 1M events, 50k documents).
    */
  def catalog(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def scaled(base: Int) = math.max(1, (base * sf).round.toInt)
    val nOrders = scaled(1500000)
    val nLines = scaled(6000000)
    val nCust = scaled(150000)
    val nPart = scaled(200000)
    val nSupp = scaled(10000)
    val nEvents = scaled(1000000)
    val nUsers = scaled(15000)
    val rng = new Rng(seed * 31 + 2)

    write(spark, dir, "region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write(spark, dir, "nation", StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rng.int(25),
        rng.cents(-999.99, 9999.99), rng.pick(segments))))
    write(spark, dir, "supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.int(25),
        rng.cents(-999.99, 9999.99))))
    write(spark, dir, "part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${rng.pick(partWords)} ${rng.pick(partNouns)}", s"Brand#${1 + rng.int(25)}",
        rng.pick(partTypes), 1 + rng.int(50), 900.0 + (i % 1000) / 10.0)))
    write(spark, dir, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rng.long(nCust),
        rng.pick(Array("F", "O", "P")), rng.cents(1000, 500000),
        day0.plusDays(rng.int(2405)), rng.pick(priorities))))
    write(spark, dir, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
      (0 until nLines).map(_ => Row(rng.long(nOrders), rng.long(nPart), rng.long(nSupp),
        1 + rng.int(7), (1 + rng.int(50)).toDouble, rng.cents(900, 105000),
        rng.int(11) / 100.0, rng.int(9) / 100.0, rng.pick(Array("N", "R", "A")),
        rng.pick(Array("F", "O")), day0.plusDays(1 + rng.int(2498)))))
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val span = 30L * 86400L * 1000000L
    val ts = Array.fill(nEvents)(rng.long(span)).sorted
    write(spark, dir, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong,
        start.plusNanos(ts(i) * 1000L), rng.long(nUsers), rng.pick(eventTypes),
        rng.cents(0, 560), s"""{"k": ${rng.int(100)}}""")))
    documents(spark, dir, seed, scaled(50000))
  }
}
