package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Everything the program reads is generated here from
  * `--seed`: the same seed gives the same inputs, on any partitioning
  * (values come from a hash of (seed, tag, key), never from a
  * partition-dependent generator). */
object Inputs {
  /** seeded pseudo-random long in [0, n) for the given key columns */
  def pick(seed: Long, tag: String, n: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: keys): _*), lit(n))

  /** `k` distinct seeded longs in [lo, hi) */
  def distinct(seed: Long, tag: String, k: Int, lo: Long, hi: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed * 1000003L + tag.hashCode)
    Iterator.continually(lo + (rnd.nextDouble() * (hi - lo)).toLong).distinct.take(k).toSeq.sorted
  }

  private val Words = Seq("the", "a", "fast", "slow", "big", "small", "key", "value", "row",
    "column", "table", "scan", "join", "merge", "sort", "hash", "agg", "group", "filter",
    "window", "batch", "stream", "spark", "query", "data", "line", "part", "order",
    "customer", "vector", "dup", "node", "edge", "graph", "store", "check", "backup",
    "index", "page", "rank", "label", "round", "block", "chain", "record", "commit",
    "shard", "cache")

  private def arr(xs: Seq[String]): Column = array(xs.map(lit): _*)

  /** A TPC-H-shaped corpus (the tables [[graft.model.TpchGraph]] and the
    * dedup operators read, with the corpus's column names and types),
    * closed under its foreign keys: every order's customer, every
    * lineitem's order, part and supplier exist. Sizes scale with
    * `orders` in the corpus's own ratios (sf0.1 = 150,000 orders). */
  def writeTpch(spark: SparkSession, dir: String, seed: Long, orders: Long, docs: Long): Unit = {
    def p(tag: String, n: Long, keys: Column*) = pick(seed, tag, n, keys: _*)
    val id = col("id")
    val customers = (orders / 10).max(10)
    val suppliers = (orders / 150).max(10)
    val parts = (orders * 2 / 15).max(10)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val day0 = lit(java.sql.Timestamp.valueOf("1992-01-01 00:00:00"))
    def daysAfter(t: Column, d: Column) = timestamp_seconds(unix_seconds(t) + d * 86400L)

    write("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        id.cast("int") + 1).as("r_name")))
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      p("n_region", 5, id).cast("int").as("n_regionkey")))
    write("customer", spark.range(1, customers + 1).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      p("c_nation", 25, id).cast("int").as("c_nationkey"),
      (p("c_bal", 1100000, id) / 100.0 - 999.99).as("c_acctbal"),
      element_at(arr(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")),
        p("c_seg", 5, id).cast("int") + 1).as("c_mktsegment")))
    write("supplier", spark.range(1, suppliers + 1).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      p("s_nation", 25, id).cast("int").as("s_nationkey"),
      (p("s_bal", 1100000, id) / 100.0 - 999.99).as("s_acctbal")))
    write("part", spark.range(1, parts + 1).select(id.as("p_partkey"),
      concat_ws(" ", element_at(arr(Words), p("p_w1", Words.size, id).cast("int") + 1),
        element_at(arr(Words), p("p_w2", Words.size, id).cast("int") + 1)).as("p_name"),
      concat(lit("Brand#"), (p("p_brand", 5, id) + 1).cast("string"),
        (p("p_brand2", 5, id) + 1).cast("string")).as("p_brand"),
      element_at(arr(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")),
        p("p_type", 6, id).cast("int") + 1).as("p_type"),
      (p("p_size", 50, id) + 1).cast("int").as("p_size"),
      (lit(900.0) + id % 1000 + p("p_price", 100, id) / 100.0).as("p_retailprice")))
    val ord = spark.range(1, orders + 1).select(id.as("o_orderkey"),
      (p("o_cust", customers, id) + 1).as("o_custkey"),
      element_at(arr(Seq("F", "O", "P")), p("o_status", 3, id).cast("int") + 1).as("o_orderstatus"),
      (p("o_price", 50000000, id) / 100.0 + 850.0).as("o_totalprice"),
      daysAfter(day0, p("o_date", 2400, id)).as("o_orderdate"),
      element_at(arr(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        p("o_prio", 5, id).cast("int") + 1).as("o_orderpriority"))
    write("orders", ord)
    val lk = Seq(col("l_orderkey"), col("l_linenumber"))
    write("lineitem", ord.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (p("l_n", 7, col("o_orderkey")) + 1).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"),
        (p("l_part", parts, lk: _*) + 1).as("l_partkey"),
        (p("l_supp", suppliers, lk: _*) + 1).as("l_suppkey"),
        col("l_linenumber"),
        (p("l_qty", 50, lk: _*) + 1).cast("double").as("l_quantity"),
        (p("l_ext", 10000000, lk: _*) / 100.0 + 900.0).as("l_extendedprice"),
        (p("l_disc", 11, lk: _*) / 100.0).as("l_discount"),
        (p("l_tax", 9, lk: _*) / 100.0).as("l_tax"),
        element_at(arr(Seq("A", "N", "R")), p("l_rf", 3, lk: _*).cast("int") + 1).as("l_returnflag"),
        element_at(arr(Seq("F", "O")), p("l_ls", 2, lk: _*).cast("int") + 1).as("l_linestatus"),
        daysAfter(col("o_orderdate"), p("l_ship", 121, lk: _*) + 1).as("l_shipdate")))
    val text = array_join(transform(sequence(lit(0), (p("d_len", 70, id) + 10).cast("int")),
      i => element_at(arr(Words), pick(seed, "d_tok", Words.size, id, i).cast("int") + 1)), " ")
    write("documents", spark.range(docs).select(id.as("doc_id"), text.as("text"),
        element_at(arr(Seq("en", "de", "es", "fr", "zh")), p("d_lang", 5, id).cast("int") + 1).as("lang"),
        concat(lit("src"), p("d_src", 5, id).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
  }
}
