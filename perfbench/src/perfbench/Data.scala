package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table sizes for one generated star schema plus corpus. */
final case class Sizes(lineitem: Long, orders: Long, customer: Long, supplier: Long,
                       part: Long, events: Long, users: Long, documents: Long,
                       embeddings: Long)

object Sizes {
  /** The TPC-H-ish row counts of a scale factor (sf 0.1 = 600k lineitem,
    * 5,000 documents, 2,000 embeddings). */
  def sf(f: Double): Sizes = {
    def n(base: Double) = math.max(1L, math.round(base * f))
    Sizes(lineitem = n(6e6), orders = n(1.5e6), customer = n(1.5e5), supplier = n(1e4),
      part = n(2e5), events = n(1e6), users = n(1.5e4), documents = n(5e4),
      embeddings = n(2e4))
  }
}

/** Deterministic generator of the engine's input tables (same names,
  * columns and types as the registry expects). Every value is a hash of
  * (data seed, column salt, row id), so the content does not depend on
  * partitioning, core count or the run's seed. */
final class Data(spark: SparkSession, dataSeed: Long) {

  /** Uniform double in [0, 1) for this row and salt. */
  private def u(salt: String, id: Column): Column =
    pmod(xxhash64(lit(dataSeed), lit(salt), id), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)

  private def pick(salt: String, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(salt, id) * values.size) + 1).cast("int"))

  private def uint(salt: String, id: Column, lo: Long, n: Long): Column =
    (floor(u(salt, id) * n) + lo).cast("long")

  private def money(salt: String, id: Column, lo: Double, span: Double): Column =
    round(lit(lo) + u(salt, id) * span, 2)

  private def ids(n: Long): DataFrame = spark.range(n).select(col("id"))

  def region: DataFrame = spark.createDataFrame(Seq(
      0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST"))
    .toDF("r_regionkey", "r_name")

  def nation: DataFrame = spark.range(25).select(
    col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"),
    (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(s: Sizes): DataFrame = ids(s.customer).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    uint("c_nat", col("id"), 0, 25).cast("int").as("c_nationkey"),
    money("c_bal", col("id"), -999.99, 10999.98).as("c_acctbal"),
    pick("c_seg", col("id"),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))

  def supplier(s: Sizes): DataFrame = ids(s.supplier).select(
    col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    uint("s_nat", col("id"), 0, 25).cast("int").as("s_nationkey"),
    money("s_bal", col("id"), -999.99, 10999.98).as("s_acctbal"))

  def part(s: Sizes): DataFrame = ids(s.part).select(
    col("id").as("p_partkey"),
    concat_ws(" ",
      pick("p_adj", col("id"), Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
      pick("p_noun", col("id"), Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
      .as("p_name"),
    concat(lit("Brand#"), uint("p_brand", col("id"), 1, 25)).as("p_brand"),
    pick("p_type", col("id"), Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
      .as("p_type"),
    uint("p_size", col("id"), 1, 50).cast("int").as("p_size"),
    round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))

  private def day(salt: String, id: Column, from: String, days: Long): Column =
    to_timestamp(date_add(lit(from).cast("date"), uint(salt, id, 0, days).cast("int")))

  def orders(s: Sizes): DataFrame = ids(s.orders).select(
    col("id").as("o_orderkey"),
    uint("o_cust", col("id"), 0, s.customer).as("o_custkey"),
    pick("o_status", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
    money("o_price", col("id"), 1000.0, 499000.0).as("o_totalprice"),
    day("o_date", col("id"), "1995-01-01", 2405).as("o_orderdate"),
    pick("o_prio", col("id"),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  def lineitem(s: Sizes): DataFrame = ids(s.lineitem).select(
    uint("l_order", col("id"), 0, s.orders).as("l_orderkey"),
    uint("l_part", col("id"), 0, s.part).as("l_partkey"),
    uint("l_supp", col("id"), 0, s.supplier).as("l_suppkey"),
    uint("l_line", col("id"), 1, 7).cast("int").as("l_linenumber"),
    uint("l_qty", col("id"), 1, 50).cast("double").as("l_quantity"),
    money("l_price", col("id"), 900.0, 104100.0).as("l_extendedprice"),
    (uint("l_disc", col("id"), 0, 11).cast("double") / 100.0).as("l_discount"),
    (uint("l_tax", col("id"), 0, 9).cast("double") / 100.0).as("l_tax"),
    pick("l_rf", col("id"), Seq("A", "N", "R")).as("l_returnflag"),
    pick("l_ls", col("id"), Seq("F", "O")).as("l_linestatus"),
    day("l_ship", col("id"), "1995-01-02", 2498).as("l_shipdate"))

  /** Events spread over 30 days in event_id order, with jitter. */
  def events(s: Sizes): DataFrame = {
    val stepMicros = 30L * 86400L * 1000000L / s.events
    ids(s.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) + col("id") * stepMicros +
        floor(u("e_ts", col("id")) * stepMicros).cast("long")).as("ts"),
      uint("e_user", col("id"), 0, s.users).as("user_id"),
      pick("e_type", col("id"), Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(pow(u("e_val", col("id")), 2) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), uint("e_k", col("id"), 0, 100), lit("}")).as("props"))
  }

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** Documents of 10–100 words (uniform) drawn uniformly from a 30-word
    * vocabulary. About 1 in 625 repeats another document exactly and 1
    * in 20 is a near copy: another document's text with " dup" appended.
    * Languages are 40% en and 15% each de, es, fr and zh; sources cycle
    * over 20 names. These figures are the ones measured on the
    * repository's sf 0.1 test corpus (see perfbench/README.md). */
  def documents(s: Sizes): DataFrame = {
    val n = s.documents
    val id = col("id")
    val kind = u("d_kind", id)
    val src = when(kind < 0.0516, uint("d_src", id, 0, n)).otherwise(id)
    val nWords = uint("d_len", col("src"), 10, 91).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(typedLit(vocab), (pmod(xxhash64(lit(dataSeed), lit("d_word"), col("src"), i),
        lit(vocab.size.toLong)) + 1).cast("int")))
    ids(n)
      .withColumn("src", src)
      .withColumn("near", kind >= 0.0016 && kind < 0.0516)
      .select(
        id.as("doc_id"),
        concat(array_join(words, " "), when(col("near"), lit(" dup")).otherwise(lit("")))
          .as("text"),
        pick("d_lang", id, Seq.fill(8)("en") ++ Seq("de", "es", "fr", "zh").flatMap(Seq.fill(3)(_)))
          .as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit-norm 64-d float vectors with near-Gaussian components (a sum of
    * twelve uniforms, normalised), labels 0–9 drawn independently of the
    * vector, as in the test corpus. */
  def embeddings(s: Sizes): DataFrame = {
    val id = col("id")
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (0 until 12).map(k => u(s"v$k", xxhash64(id, i))).reduce(_ + _) - 6.0)
    ids(s.embeddings)
      .withColumn("raw", raw)
      .select(
        id.as("vec_id"),
        transform(col("raw"), x =>
          (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float"))
          .as("embedding"),
        uint("e_label", id, 0, 10).cast("int").as("label"))
  }

  def table(name: String, s: Sizes): DataFrame = name match {
    case "region"     => region
    case "nation"     => nation
    case "customer"   => customer(s)
    case "supplier"   => supplier(s)
    case "part"       => part(s)
    case "orders"     => orders(s)
    case "lineitem"   => lineitem(s)
    case "events"     => events(s)
    case "documents"  => documents(s)
    case "embeddings" => embeddings(s)
  }

  /** Write each named table as one parquet file `<dir>/<name>.parquet`
    * (the layout `graft.sources.Tables.load` and DuckDB both read). */
  def stage(dir: String, s: Sizes, names: Seq[String]): Long =
    names.map { name =>
      table(name, s).coalesce(1).write.mode("overwrite").parquet(s"$dir/_$name")
      Fs.single(s"$dir/_$name", s"$dir/$name.parquet")
    }.sum
}
