package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs with the schema and value shapes of graft's
  * sf0.1 test tables (TPC-H-like star schema plus `events`, `documents` and
  * `embeddings`). Every value is a pure function of (seed, row id, column
  * salt) through xxhash64, so the same seed yields the same files whatever
  * the partitioning. Timestamps are written as TIMESTAMP_NTZ, as the test
  * tables store them, so graft and DuckDB read the same wall-clock values.
  */
object Gen {
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val vocab = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  /** Rows per table at sf0.1 (the fixed dimension tables included). */
  val rows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
    "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L)

  final class Rng(seed: Long, id: Column) {
    def h(salt: Int, extra: Column*): Column =
      xxhash64((Seq(lit(seed), id, lit(salt)) ++ extra): _*)
    def int(salt: Int, n: Int): Column = pmod(h(salt), lit(n.toLong)).cast("int")
    def long(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    /** Uniform in [0, 1). */
    def unit(salt: Int, extra: Column*): Column =
      pmod(h(salt, extra: _*), lit(1L << 30)).cast("double") / lit((1L << 30).toDouble)
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), int(salt, xs.size) + 1)
  }

  private def money(u: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u * lit(hi - lo), 2)

  private def ntzDay(base: String, days: Column): Column =
    date_add(lit(base).cast("date"), days).cast("timestamp_ntz")

  def frames(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] = {
    def base(n: Long): (DataFrame, Rng) = {
      val df = spark.range(0, n, 1, 4).toDF()
      (df, new Rng(seed, col("id")))
    }
    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        col("id").cast("int") + 1).as("r_name"))
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = {
      val (d, r) = base(rows("customer"))
      d.select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        r.int(1, 25).as("c_nationkey"),
        money(r.unit(2), -999.99, 9999.99).as("c_acctbal"),
        r.pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment"))
    }
    val supplier = {
      val (d, r) = base(rows("supplier"))
      d.select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        r.int(11, 25).as("s_nationkey"),
        money(r.unit(12), -999.99, 9999.99).as("s_acctbal"))
    }
    val part = {
      val (d, r) = base(rows("part"))
      d.select(col("id").as("p_partkey"),
        concat_ws(" ",
          r.pick(21, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
          r.pick(22, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
          .as("p_name"),
        concat(lit("Brand#"), r.int(23, 25) + 1).as("p_brand"),
        r.pick(24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        (r.int(25, 50) + 1).as("p_size"),
        round(lit(900.0) + (col("id") % 1000).cast("double") * 0.1, 1).as("p_retailprice"))
    }
    val orders = {
      val (d, r) = base(rows("orders"))
      d.select(col("id").as("o_orderkey"),
        r.long(31, rows("customer")).as("o_custkey"),
        r.pick(32, Seq("F", "O", "P")).as("o_orderstatus"),
        money(r.unit(33), 1000.0, 500000.0).as("o_totalprice"),
        ntzDay("1995-01-01", r.int(34, 2405)).as("o_orderdate"),
        r.pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"))
    }
    val lineitem = {
      val (d, r) = base(rows("lineitem"))
      d.select(r.long(41, rows("orders")).as("l_orderkey"),
        r.long(42, rows("part")).as("l_partkey"),
        r.long(43, rows("supplier")).as("l_suppkey"),
        (r.int(44, 7) + 1).as("l_linenumber"),
        (r.int(45, 50) + 1).cast("double").as("l_quantity"),
        money(r.unit(46), 900.0, 105000.0).as("l_extendedprice"),
        (r.int(47, 11).cast("double") / 100.0).as("l_discount"),
        (r.int(48, 9).cast("double") / 100.0).as("l_tax"),
        r.pick(49, Seq("A", "N", "R")).as("l_returnflag"),
        r.pick(50, Seq("F", "O")).as("l_linestatus"),
        ntzDay("1995-01-02", r.int(51, 2499)).as("l_shipdate"))
    }
    val events = {
      // strictly increasing timestamps: one 25.92 s slot per event over 30 days
      val slotUs = 25920000L
      val (d, r) = base(rows("events"))
      d.select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * slotUs + r.long(61, slotUs))
          .cast("timestamp_ntz").as("ts"),
        r.long(62, 1500L).as("user_id"),
        r.pick(63, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        round(lit(-50.0) * log(lit(1.0) - r.unit(64)), 2).as("value"),
        concat(lit("{\"k\": "), r.int(65, 100), lit("}")).as("props"))
    }
    val documents = {
      // 5% of the documents are a near-duplicate of an earlier one: its
      // generated text plus a trailing " dup" token
      val (d, r) = base(rows("documents"))
      def words(id: Column): Column = {
        val len = pmod(xxhash64(lit(seed), id, lit(71)), lit(91L)).cast("int") + 10
        concat_ws(" ", transform(sequence(lit(0), len - 1), k =>
          element_at(array(vocab.map(lit): _*),
            pmod(xxhash64(lit(seed), id, lit(72), k), lit(vocab.size.toLong)).cast("int") + 1)))
      }
      val isDup = col("id") > 10 && r.int(73, 20) === 0
      val src = pmod(r.h(74), col("id"))
      d.select(col("id").as("doc_id"),
        when(isDup, concat(words(src), lit(" dup"))).otherwise(words(col("id"))).as("text"),
        when(r.unit(75) < 0.41, lit("en")).otherwise(r.pick(76, Seq("de", "es", "fr", "zh")))
          .as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val embeddings = {
      // isotropic unit vectors: each coordinate a sum of four uniforms
      val (d, r) = base(rows("embeddings"))
      val raw = transform(sequence(lit(0), lit(63)), k =>
        r.unit(81, k) + r.unit(82, k) + r.unit(83, k) + r.unit(84, k) - lit(2.0))
      d.select(col("id").as("vec_id"), raw.as("raw"), r.int(85, 10).as("label"))
        .select(col("vec_id"),
          transform(col("raw"), x =>
            (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float"))
            .as("embedding"),
          col("label"))
    }
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write the named tables, each as a `<dir>/<name>.parquet` directory. */
  def write(spark: SparkSession, seed: Long, dir: String, names: Seq[String]): Unit =
    frames(spark, seed).filter { case (name, _) => names.contains(name) }.foreach {
      case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
