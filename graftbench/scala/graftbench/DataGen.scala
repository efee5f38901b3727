package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture tables with the engine's input schemas
  * (`graft.Tables`): the TPC-H-like star schema, `events`, `documents`
  * and `embeddings`. Every value is a function of (row id, column salt,
  * seed) through `xxhash64`, so a table is identical for a given
  * (scale, seed) whatever the partitioning. Row counts follow the scale
  * factor (sf 0.1: 600k lineitem, 100k events). */
object DataGen {

  /** Uniform pseudo-random in [0, m) for row `id`. */
  private def h(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))

  private def pick(seed: Long, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(seed, salt, xs.size) + 1).cast("int"))

  private def day(base: String, offset: Column): Column =
    expr(s"timestamp'$base'") + make_dt_interval(offset.cast("int"))

  private def rows(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, math.max(1, (n / 200000L).toInt + 1)).toDF()

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Events of the stream table. `ts` advances with `event_id` across
    * 30 days (plus sub-step jitter), so ids are time-ordered. */
  def events(spark: SparkSession, n: Long, users: Long, seed: Long): DataFrame = {
    val stepUs = (30L * 86400L * 1000000L) / n
    rows(spark, n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs +
        h(seed, 1, stepUs)).as("ts"),
      h(seed, 2, users).as("user_id"),
      pick(seed, 3, EventTypes).as("event_type"),
      (h(seed, 4, 56022) / 100.0).as("value"),
      concat(lit("{\"k\": "), h(seed, 5, 101).cast("string"), lit("}")).as("props"))
  }

  private val Vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan",
    "merge", "batch", "part", "spark", "line", "column", "small", "value", "a",
    "hash", "slow", "group", "agg", "filter", "query", "big", "window", "row",
    "stream", "data", "customer", "join", "vector")

  /** Writes every table of scale factor `sf` as `<dir>/<name>.parquet`. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = 4 * nOrd
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", rows(spark, 5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    write("nation", rows(spark, 25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", rows(spark, nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(seed, 11, 25).cast("int").as("c_nationkey"),
      (h(seed, 12, 1099999) / 100.0 - 999.99).as("c_acctbal"),
      pick(seed, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    write("supplier", rows(spark, nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(seed, 21, 25).cast("int").as("s_nationkey"),
      (h(seed, 22, 1099999) / 100.0 - 999.99).as("s_acctbal")))
    write("part", rows(spark, nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(seed, 31, Seq("large", "hot", "blue", "old", "cold",
        "green", "tiny")), pick(seed, 32, Seq("ring", "bolt", "plate", "gear",
        "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), (h(seed, 33, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, 34, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
        "PROMO")).as("p_type"),
      (h(seed, 35, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    write("orders", rows(spark, nOrd).select(col("id").as("o_orderkey"),
      h(seed, 41, nCust).as("o_custkey"),
      pick(seed, 42, Seq("F", "O", "P")).as("o_orderstatus"),
      (h(seed, 43, 50000000) / 100.0).as("o_totalprice"),
      day("1995-01-01", h(seed, 44, 2404)).as("o_orderdate"),
      pick(seed, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    write("lineitem", rows(spark, nLine).select(
      expr("id div 4").as("l_orderkey"),
      h(seed, 51, nPart).as("l_partkey"),
      h(seed, 52, nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(seed, 53, 50) + 1).cast("double").as("l_quantity"),
      ((h(seed, 53, 50) + 1) * (h(seed, 54, 110000) / 100.0 + 900.0))
        .as("l_extendedprice"),
      (h(seed, 55, 11) / 100.0).as("l_discount"),
      (h(seed, 56, 9) / 100.0).as("l_tax"),
      pick(seed, 57, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 58, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", h(seed, 59, 2498)).as("l_shipdate")))
    write("events", events(spark, n(1000000), n(15000), seed))

    // documents: every tenth is an exact copy of a recent earlier one
    // and every tenth a one-token variant, so the dedup operators
    // find clusters
    val nDoc = n(50000)
    val vocab = array(Vocab.map(lit): _*)
    val base = when(h(seed, 61, 10) === 0 && col("id") > 0,
      col("id") - 1 - pmod(xxhash64(col("id"), lit(seed), lit(62)),
        least(col("id"), lit(50L)))).otherwise(col("id"))
    write("documents", rows(spark, nDoc)
      .withColumn("b", base)
      .withColumn("len", pmod(xxhash64(col("b"), lit(seed), lit(63)), lit(50L)) + 10)
      .withColumn("toks", transform(sequence(lit(1L), col("len")), i =>
        element_at(vocab, (pmod(xxhash64(col("b"), i, lit(seed)),
          lit(Vocab.size.toLong)) + 1).cast("int"))))
      .withColumn("toks", when(h(seed, 64, 10) === 1,
        concat(col("toks"), array(lit("stream")))).otherwise(col("toks")))
      .select(col("id").as("doc_id"), array_join(col("toks"), " ").as("text"),
        element_at(array(Seq("en", "en", "en", "de", "es", "fr", "zh").map(lit): _*),
          (h(seed, 65, 7) + 1).cast("int")).as("lang"),
        concat(lit("src"), h(seed, 66, 20).cast("string")).as("source"),
        (h(seed, 67, 400) + 20).as("n_chars")))

    // embeddings: ten labelled clusters of 64-dim vectors
    val nVec = n(20000)
    write("embeddings", rows(spark, nVec)
      .withColumn("label", h(seed, 71, 10).cast("int"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(col("label"), j, lit(seed)), lit(2001L)) - 1000) / 4000.0 +
            (pmod(xxhash64(col("id"), j, lit(seed), lit(72)), lit(2001L)) - 1000) /
              20000.0).cast("float")).as("embedding"),
        col("label")))
  }
}
