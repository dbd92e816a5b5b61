package graft.perfbench

import java.time.LocalDateTime
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the query sweep's input tables: the schemas and
  * value domains of the star-schema + documents/events/embeddings tables
  * that `SparkEntry.queries` read, at scale factor `sf` (0.01 gives 60k
  * lineitem rows). There are at least 600 documents at any scale: the
  * incremental queries split `documents` at doc_id 250 to 500, and each
  * side of every split must hold documents. More would not pay: DuckDB's
  * oracle for `q_incremental_neardup_novel` compares every new document
  * with every corpus document, about 30 ms per new document. Each table is
  * one parquet file, as the queries expect. */
object SweepData {
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)
  private def r2(x: Double) = math.round(x * 100) / 100.0

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def table(name: String, fields: Seq[StructField], rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(fields))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def n(full: Double, min: Int) = math.max(min, math.round(full * sf).toInt)
    val (nCust, nSupp, nPart) = (n(150000, 150), n(10000, 10), n(200000, 200))
    val (nOrders, nLines, nEvents) = (n(1500000, 1500), n(6000000, 6000), n(1000000, 1000))
    val (nDocs, nVecs, nUsers) = (n(25000, 600), n(20000, 500), n(15000, 15))

    table("region", Seq(f("r_regionkey", IntegerType), f("r_name", StringType)),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) })
    table("nation", Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType)),
      (0 until 25).map(k => Row(k, s"NATION_$k", k % 5)))
    table("customer", Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType)),
      (0 until nCust).map(k => Row(k.toLong, f"Customer#$k%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98),
        pick(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")))))
    table("supplier", Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType)),
      (0 until nSupp).map(k => Row(k.toLong, f"Supplier#$k%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98))))
    table("part", Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType)),
      (0 until nPart).map(k => Row(k.toLong,
        pick(Seq("red", "old", "cold", "hot", "new", "large", "small", "blue")) + " " +
          pick(Seq("bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo")),
        s"Brand#${1 + rnd.nextInt(25)}",
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")),
        1 + rnd.nextInt(50), r2(900 + (k % 1000) / 10.0))))
    table("orders", Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType)),
      (0 until nOrders).map(k => Row(k.toLong, rnd.nextInt(nCust).toLong, pick(Seq("P", "O", "F")),
        r2(1000 + rnd.nextDouble() * 499000), day0.plusDays(rnd.nextInt(2404)),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    table("lineitem", Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType)),
      (0 until nLines).map(_ => Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(nPart).toLong,
        rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        r2(900 + rnd.nextDouble() * 104100), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("O", "F")), day0.plusDays(1 + rnd.nextInt(2498)))))
    val eventStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val step = 30L * 86400L * 1000000L / nEvents // micros between events
    table("events", Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType)),
      (0 until nEvents).map(i => Row(i.toLong,
        eventStart.plusNanos(1000L * (i * step + (rnd.nextDouble() * step).toLong)),
        rnd.nextInt(nUsers).toLong, pick(Seq("click", "signup", "error", "view", "purchase")),
        math.min(490.02, math.max(0.01, r2(-math.log(1 - rnd.nextDouble()) * 50))),
        s"""{"k": ${rnd.nextInt(100)}}""")))

    // documents: 5% are a copy of another document's text plus " dup"
    val base = (0 until nDocs).map(_ => Seq.fill(10 + rnd.nextInt(90))(pick(vocab)).mkString(" "))
    val texts = base.indices.map { i =>
      if (rnd.nextDouble() < 0.05) base((i + 1 + rnd.nextInt(nDocs - 1)) % nDocs) + " dup" else base(i)
    }
    table("documents", Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType)),
      texts.zipWithIndex.map { case (t, i) =>
        val lang = if (rnd.nextDouble() < 0.44) "en" else pick(Seq("zh", "de", "es", "fr"))
        Row(i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
      })
    table("embeddings", Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)), f("label", IntegerType)),
      (0 until nVecs).map { k =>
        val v = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(k.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
      })
  }
}
