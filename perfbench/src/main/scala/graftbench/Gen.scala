package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs in the schema graft's catalog queries read:
  * the TPC-H-style star (region, nation, customer, supplier, part,
  * orders, lineitem) plus `events`, `documents` and `embeddings`.
  *
  * Every value is a hash of (seed, column salt, row id), so the same seed
  * gives the same table contents whatever the partitioning, and a different
  * seed gives different values at the same sizes. Row counts follow the
  * scale factor `sf` (sf 0.1: 600k lineitem rows, 100k events, 5k
  * documents, 2k embeddings). Each table is written as parquet files
  * under `<dir>/<table>.parquet/`. Timestamps are TIMESTAMP_NTZ (INT64
  * micros with min/max statistics, as the catalog's reference tables
  * store them), so stats manifests can profile them.
  */
object Gen {

  final case class Sizes(customer: Long, supplier: Long, part: Long,
                         orders: Long, lineitem: Long, events: Long,
                         users: Long, documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Double, floor: Long) = math.max(floor, math.round(base * sf))
    Sizes(customer = n(150000, 50), supplier = n(10000, 10),
      part = n(200000, 100), orders = n(1500000, 500),
      lineitem = n(6000000, 2000), events = n(1000000, 1000),
      users = n(15000, 20), documents = n(50000, 200),
      embeddings = n(20000, 200))
  }

  val words: Seq[String] = Seq("query", "row", "stream", "the", "spark",
    "line", "small", "fast", "group", "customer", "batch", "sort", "value",
    "hash", "filter", "big", "data", "part", "column", "order", "scan", "a",
    "slow", "agg", "key", "window", "table", "merge", "vector", "join")

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("de", "en", "es", "fr", "zh")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")

  /** Generate the tables named in `only` for `seed` at scale `sf` into
    * `dir`; returns table -> (rows, bytes on disk).
    */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
            only: Seq[String]): Map[String, (Long, Long)] = {
    val s = sizes(sf)
    val g = new Hashes(seed)
    import g._
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> range(spark, 5).select(col("id").cast("int").as("r_regionkey"),
        pick(regions, col("id")).as("r_name")),
      "nation" -> range(spark, 25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range(spark, s.customer).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        int("c_nat", 25).cast("int").as("c_nationkey"),
        money("c_bal", -99999, 999999).as("c_acctbal"),
        pick(segments, int("c_seg", segments.size)).as("c_mktsegment")),
      "supplier" -> range(spark, s.supplier).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        int("s_nat", 25).cast("int").as("s_nationkey"),
        money("s_bal", -99999, 999999).as("s_acctbal")),
      "part" -> range(spark, s.part).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(adjectives, int("p_adj", adjectives.size)),
          pick(nouns, int("p_noun", nouns.size))).as("p_name"),
        concat(lit("Brand#"), int("p_brand", 25) + 1).as("p_brand"),
        pick(partTypes, int("p_type", partTypes.size)).as("p_type"),
        (int("p_size", 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")),
      "orders" -> range(spark, s.orders).select(col("id").as("o_orderkey"),
        int("o_cust", s.customer).as("o_custkey"),
        pick(Seq("F", "O", "P"), int("o_status", 3)).as("o_orderstatus"),
        money("o_price", 100191, 49999318).as("o_totalprice"),
        day("1995-01-01", int("o_date", 2404)).as("o_orderdate"),
        pick(priorities, int("o_prio", 5)).as("o_orderpriority")),
      "lineitem" -> range(spark, s.lineitem).select(
        int("l_order", s.orders).as("l_orderkey"),
        int("l_part", s.part).as("l_partkey"),
        int("l_supp", s.supplier).as("l_suppkey"),
        (int("l_line", 7) + 1).cast("int").as("l_linenumber"),
        (int("l_qty", 50) + 1).cast("double").as("l_quantity"),
        money("l_price", 90068, 10499991).as("l_extendedprice"),
        (int("l_disc", 11) / 100.0).as("l_discount"),
        (int("l_tax", 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), int("l_rf", 3)).as("l_returnflag"),
        pick(Seq("F", "O"), int("l_ls", 2)).as("l_linestatus"),
        // every ship date holds the same number of rows (±1), whatever the
        // seed: a seeded stride permutation of the ids over the 2498 days
        day("1995-01-02", pmod(col("id") * 7919L +
          Math.floorMod(seed * 2654435761L, 2498L), lit(2498L)))
          .as("l_shipdate")),
      "events" -> range(spark, s.events).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          int("e_ts", 30L * 86400L * 1000000L)).cast("timestamp_ntz").as("ts"),
        int("e_user", s.users).as("user_id"),
        pick(eventTypes, int("e_type", eventTypes.size)).as("event_type"),
        round(-log(lit(1.0) - unit("e_val")) * 50.0, 2).as("value"),
        format_string("{\"k\": %d}", int("e_k", 100)).as("props")),
      "documents" -> documents(spark, seed, s.documents),
      "embeddings" -> embeddings(spark, seed, s.embeddings))
    val rows = Map("region" -> 5L, "nation" -> 25L, "customer" -> s.customer,
      "supplier" -> s.supplier, "part" -> s.part, "orders" -> s.orders,
      "lineitem" -> s.lineitem, "events" -> s.events,
      "documents" -> s.documents, "embeddings" -> s.embeddings)
    // the tables are small and independent: write them concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writes = tables.filter(t => only.contains(t._1)).map { case (name, df) =>
        scala.concurrent.Future {
          val path = s"$dir/$name.parquet"
          df.write.mode("overwrite").parquet(path)
          name -> (rows(name), Files.stats(path)._2)
        }
      }
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(writes),
        scala.concurrent.duration.Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** Documents of 10–100 words from [[words]]; every 20th document is a
    * near-duplicate: the text of the document 7 ids earlier plus " dup".
    */
  private def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val src = when(col("id") % 20 === 19 && col("id") >= 7, col("id") - 7)
      .otherwise(col("id"))
    val g = new Hashes(seed, col("src"))
    import g._
    val len = int("d_len", 91) + 10
    val text = concat_ws(" ", transform(sequence(lit(1), len.cast("int")),
      i => pick(words, int("d_w", words.size, i))))
    range(spark, n).withColumn("src", src)
      .select(col("id").as("doc_id"),
        when(col("src") =!= col("id"), concat(text, lit(" dup")))
          .otherwise(text).as("text"),
        pick(langs, int("d_lang", langs.size)).as("lang"),
        concat(lit("src"), int("d_source", 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit-length 64-dim float vectors in 10 labelled clusters. */
  private def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val g = new Hashes(seed)
    import g._
    val label = int("v_label", 10)
    def gauss(salt: String, key: Column, d: Column): Column =
      (0 until 3).map(j => pmod(xxhash64(lit(seed), lit(salt), lit(j), key, d),
        lit(1L << 30)).cast("double") / (1L << 30).toDouble)
        .reduce(_ + _) - lit(1.5)
    val raw = transform(sequence(lit(0), lit(63)),
      d => gauss("v_c", col("label"), d) + gauss("v_n", col("id"), d) * 0.5)
    range(spark, n).withColumn("label", label.cast("int"))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float"))
          .as("embedding"),
        col("label"))
  }

  /** Row ids 0 until n, one partition (and so one file) per 200k rows. */
  private def range(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, math.max(1, ((n + 199999) / 200000).toInt)).toDF()

  /** Hash-derived column generators for one seed. */
  final class Hashes(seed: Long, key: Column = col("id")) {
    private def h(salt: String, extra: Column*): Column =
      xxhash64((Seq(lit(seed), lit(salt), key) ++ extra): _*)
    /** Uniform integer in [0, n). */
    def int(salt: String, n: Long, extra: Column*): Column =
      pmod(h(salt, extra: _*), lit(n))
    /** Uniform double in [0, 1). */
    def unit(salt: String, extra: Column*): Column =
      pmod(h(salt, extra: _*), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    /** A value with two decimals, uniform in [lo, hi] cents. */
    def money(salt: String, loCents: Long, hiCents: Long): Column =
      round((lit(loCents) + int(salt, hiCents - loCents + 1)) / 100.0, 2)
    def day(first: String, offset: Column): Column =
      date_add(lit(first).cast("date"), offset.cast("int"))
        .cast("timestamp_ntz")
    def pick(values: Seq[String], idx: Column): Column =
      element_at(array(values.map(lit): _*), idx.cast("int") + 1)
  }
}
