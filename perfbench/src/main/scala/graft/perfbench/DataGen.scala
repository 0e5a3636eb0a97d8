package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic inputs for the benchmark: the TPC-H-style star, the
  * `events` stream, the `documents` corpus and the `embeddings` table,
  * with the schemas the query registry reads.
  *
  * Every value is a pure function of its row id through `xxhash64`, so
  * the tables are identical whatever the partitioning or core count,
  * and the expected query fingerprints stay valid. Only rational
  * arithmetic and `sqrt` are used (both exactly rounded in the JVM);
  * `log`/`cos` may differ in the last bit between interpreted and
  * compiled code.
  */
object DataGen {

  final case class Scale(customers: Int, suppliers: Int, parts: Int, orders: Int,
      lineitems: Int, events: Int, users: Int, documents: Int, embeddings: Int)

  /** The benchmark's tables: TPC-H sf0.01 row counts, a 10k-event
    * stream, 500 documents and 200 embeddings. */
  val BenchScale: Scale = Scale(customers = 1500, suppliers = 100, parts = 2000, orders = 15000,
    lineitems = 60000, events = 10000, users = 150, documents = 500, embeddings = 200)

  /** Uniform double in [0, 1) drawn from `(tag, keys)`. */
  def unif(tag: String, keys: Column*): Column =
    shiftrightunsigned(xxhash64((lit(tag) +: keys): _*), 11).cast("double") / lit(9007199254740992.0)

  private def pick(tag: String, key: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(unif(tag, key) * values.size) + 1).cast("int"))

  private def intIn(tag: String, key: Column, lo: Int, hi: Int): Column =
    (floor(unif(tag, key) * (hi - lo + 1)) + lo).cast("int")

  private def dayIn(tag: String, key: Column, from: String, days: Int): Column =
    to_timestamp(date_add(to_date(lit(from)), intIn(tag, key, 0, days)))

  private def money(tag: String, key: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + unif(tag, key) * (hi - lo), 2)

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  def tables(spark: SparkSession, s: Scale): Seq[(String, DataFrame)] = {
    def ids(n: Int): DataFrame = spark.range(n).toDF("i")
    val i = col("i")
    val region = ids(5).select(i.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (i + 1).cast("int")).as("r_name"))
    val nation = ids(25).select(i.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), i.cast("string")).as("n_name"), (i % 5).cast("int").as("n_regionkey"))
    val customer = ids(s.customers).select(i.as("c_custkey"),
      format_string("Customer#%09d", i).as("c_name"),
      intIn("c_nation", i, 0, 24).as("c_nationkey"),
      money("c_acctbal", i, -999.99, 9999.99).as("c_acctbal"),
      pick("c_seg", i, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))
        .as("c_mktsegment"))
    val supplier = ids(s.suppliers).select(i.as("s_suppkey"),
      format_string("Supplier#%09d", i).as("s_name"),
      intIn("s_nation", i, 0, 24).as("s_nationkey"),
      money("s_acctbal", i, -999.99, 9999.99).as("s_acctbal"))
    val part = ids(s.parts).select(i.as("p_partkey"),
      concat_ws(" ",
        pick("p_adj", i, Seq("cold", "small", "red", "hot", "old", "large", "blue", "new")),
        pick("p_noun", i, Seq("widget", "plate", "ring", "rod", "gizmo", "bolt", "gear", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), intIn("p_brand", i, 1, 25).cast("string")).as("p_brand"),
      pick("p_type", i, Seq("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO")).as("p_type"),
      intIn("p_size", i, 1, 50).as("p_size"),
      round(lit(900.0) + (i % 1000) / 10.0, 2).as("p_retailprice"))
    val orders = ids(s.orders).select(i.as("o_orderkey"),
      floor(unif("o_cust", i) * s.customers).as("o_custkey"),
      pick("o_status", i, Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_total", i, 1000.0, 499999.99).as("o_totalprice"),
      dayIn("o_date", i, "1995-01-01", 2404).as("o_orderdate"),
      pick("o_prio", i, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = ids(s.lineitems).select(
      floor(unif("l_order", i) * s.orders).as("l_orderkey"),
      floor(unif("l_part", i) * s.parts).as("l_partkey"),
      floor(unif("l_supp", i) * s.suppliers).as("l_suppkey"),
      intIn("l_line", i, 1, 7).as("l_linenumber"),
      intIn("l_qty", i, 1, 50).cast("double").as("l_quantity"),
      money("l_price", i, 900.0, 105000.0).as("l_extendedprice"),
      (intIn("l_disc", i, 0, 10) / 100.0).as("l_discount"),
      (intIn("l_tax", i, 0, 8) / 100.0).as("l_tax"),
      pick("l_rflag", i, Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_lstatus", i, Seq("O", "F")).as("l_linestatus"),
      dayIn("l_ship", i, "1995-01-02", 2498).as("l_shipdate"))
    // 30 days of events in event_id order, one user of `users` each
    val spanMicros = 30L * 86400L * 1000000L
    val events = ids(s.events).select(i.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        floor((i + unif("e_ts", i)) * (spanMicros.toDouble / s.events))).as("ts"),
      floor(unif("e_user", i) * s.users).as("user_id"),
      pick("e_type", i, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(lit(0.01) + unif("e_value", i) * unif("e_value", i) * unif("e_value", i) * 490.0, 2).as("value"),
      format_string("{\"k\": %d}", intIn("e_k", i, 0, 99)).as("props"))
    corpus(s, ids _) ++ Seq("region" -> region, "nation" -> nation,
      "customer" -> customer, "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events)
  }

  /** `documents` (bag-of-words text, 5% planted near-duplicates that
    * copy an earlier document and append " dup") and `embeddings`
    * (unit vectors, 64 dims, 10 labels). */
  private def corpus(s: Scale, ids: Int => DataFrame): Seq[(String, DataFrame)] = {
    val i = col("i")
    val vocab = array(Words.map(lit): _*)
    def words(key: Column, tag: String): Column = concat_ws(" ",
      transform(sequence(lit(1), intIn(s"$tag-n", key, 10, 100)), k =>
        element_at(vocab, (floor(unif(tag, key, k) * Words.size) + 1).cast("int"))))
    val isDup = i > 0 && unif("d_dup", i) < 0.05
    val source = floor(unif("d_src", i) * i).cast("long")
    val docs = ids(s.documents).select(i.as("doc_id"),
      when(isDup, concat(words(source, "d_words"), lit(" dup"))).otherwise(words(i, "d_words"))
        .as("text"),
      when(unif("d_lang", i) < 0.41, lit("en"))
        .otherwise(pick("d_lang2", i, Seq("fr", "es", "zh", "de"))).as("lang"),
      concat(lit("src"), (i % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // Irwin-Hall(4) per component: close to normal without log/cos
    val raw = transform(sequence(lit(0), lit(63)), k =>
      unif("v0", i, k) + unif("v1", i, k) + unif("v2", i, k) + unif("v3", i, k) - 2.0)
    val vecs = ids(s.embeddings).select(i.as("vec_id"), raw.as("raw"),
        intIn("v_label", i, 0, 9).as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label"))
    Seq("documents" -> docs, "embeddings" -> vecs)
  }

  /** Writes every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, s: Scale, dir: String): Unit =
    tables(spark, s).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
