package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs in the shapes of the fixture tables
  * (FIXTURES.md): a TPC-H-like star schema, the `events` stream and the
  * `documents` corpus. Sizes, domains, rates and distributions are the
  * ones measured on the sf0.1 fixture (cited at each generator). Every value is a pure function of (seed, row id),
  * computed by Spark expressions, so the same seed gives the same rows
  * on any core count, and different seeds give tables of the same sizes
  * and distributions. Money columns are DECIMAL so that every sum a
  * workload checks is exact. */
object Data {

  /** Non-negative pseudo-random integer in [0, n) for row key `key`. */
  def rnd(seed: Long, salt: Int, n: Long, key: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: key): _*), lit(n))

  def pick(values: Seq[String], seed: Long, salt: Int, key: Column*): Column =
    element_at(typedLit(values), (rnd(seed, salt, values.size.toLong, key: _*) + 1).cast("int"))

  // Categorical domains, as in the sf0.1 fixture.
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Flags = Seq("A", "N", "R")
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Table sizes of the star schema; `sf01` is the sf0.1 fixture's. */
  final case class StarSizes(customers: Long, parts: Long, orders: Long)
  val sf01 = StarSizes(customers = 15000, parts = 20000, orders = 150000)

  /** Orders per line count 1..17 in the sf0.1 fixture (150 000 orders,
    * 600 000 lines, mean 4.08 lines per order). */
  val LinesPerOrder = Seq(11016L, 21814L, 29500L, 29097L, 23631L, 15625L, 8941L, 4407L,
    1959L, 818L, 292L, 93L, 29L, 10L, 1L, 2L, 1L)

  /** Order dates span 1995-01-01 plus 0..2404 days, as in the fixture. */
  val FirstOrderDate = "1995-01-01"
  val OrderDays = 2405

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, seed: Long, s: StarSizes): DataFrame =
    spark.range(s.customers).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      rnd(seed, 1, 25, col("id")).cast("int").as("c_nationkey"),
      pick(Segments, seed, 2, col("id")).as("c_mktsegment"))

  /** Parts: 25 brands `Brand#1`..`Brand#25`, six types, sizes 1..50. */
  def part(spark: SparkSession, seed: Long, s: StarSizes): DataFrame =
    spark.range(s.parts).select(col("id").as("p_partkey"),
      concat(lit("Brand#"), rnd(seed, 3, 25, col("id")) + 1).as("p_brand"),
      pick(Types, seed, 5, col("id")).as("p_type"),
      (rnd(seed, 6, 50, col("id")) + 1).cast("int").as("p_size"))

  /** lineitem ⋈ orders, denormalized: the Gold fact. Lines per order
    * follow the fixture's histogram; quantity 1..50, discount 0.00..0.10
    * and extended price 900.00..105000.00 are uniform and independent,
    * as they are in the fixture. */
  def sales(spark: SparkSession, seed: Long, s: StarSizes): DataFrame = {
    val ok = col("o_orderkey")
    val cum = LinesPerOrder.scanLeft(0L)(_ + _).tail
    val u = rnd(seed, 10, cum.last, ok)
    val lines = (size(filter(typedLit(cum.init), c => c <= u)) + 1).cast("int")
    spark.range(s.orders).select(col("id").as("o_orderkey"))
      .select(ok,
        rnd(seed, 7, s.customers, ok).as("o_custkey"),
        date_add(lit(FirstOrderDate).cast("date"),
          rnd(seed, 8, OrderDays, ok).cast("int")).as("o_orderdate"),
        pick(Priorities, seed, 9, ok).as("o_orderpriority"),
        explode(sequence(lit(1), lines)).as("l_linenumber"))
      .select(ok.as("l_orderkey"), col("l_linenumber"),
        rnd(seed, 11, s.parts, ok, col("l_linenumber")).as("l_partkey"),
        (rnd(seed, 12, 50, ok, col("l_linenumber")) + 1)
          .cast("decimal(12,2)").as("l_quantity"),
        ((rnd(seed, 13, 10410001, ok, col("l_linenumber")) + 90000) / 100)
          .cast("decimal(12,2)").as("l_extendedprice"),
        (rnd(seed, 14, 11, ok, col("l_linenumber")) / 100)
          .cast("decimal(4,2)").as("l_discount"),
        pick(Flags, seed, 15, ok, col("l_linenumber")).as("l_returnflag"),
        col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Days of events: for each row of `keys`, with day index `day` and
    * row number `id` within its day (0 until `rows`), one event shaped
    * like a day of a 10x copy of the fixture's `events`. The fixture has
    * 3 333 rows per day over 30 days from 1 500 users, five event types in
    * equal shares, timestamps uniform over the day at microsecond
    * precision, values exponential with mean 50 at two decimals, and
    * props `{"k": 0..99}`. It has no re-sent rows and no row that breaks a
    * cleansing rule, so neither does this. The `keep` columns of `keys`
    * pass through. */
  def events(keys: DataFrame, seed: Long, rows: Long, users: Long,
      keep: Seq[String] = Nil): DataFrame = {
    val i = col("id")
    val d = col("day")
    val firstDayUs = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L
    val u = (rnd(seed, 26, 1000000, d, i) + 0.5) / 1e6
    keys.select(Seq(
        (d.cast("long") * rows + i).as("event_id"),
        rnd(seed, 21, users, d, i).as("user_id"),
        timestamp_micros(lit(firstDayUs) + d.cast("long") * 86400L * 1000000L
          + rnd(seed, 22, 86400L * 1000000L, d, i)).as("ts"),
        pick(EventTypes, seed, 23, d, i).as("event_type"),
        round(lit(-50.0) * log(u), 2).as("value"),
        concat(lit("{\"k\": "), rnd(seed, 27, 100, d, i), lit("}")).as("props"))
      ++ keep.map(col): _*)
  }

  /** The fixture corpus's vocabulary: every word is drawn uniformly from
    * these 30, stopwords "the" and "a" included. */
  val Vocabulary = Seq("agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
    "vector", "window", "the", "a")

  /** Documents in the shape of the fixture's (doc_id, text, lang, source,
    * n_chars): 10..100 words, uniform; lang tags en 41 %, es/de/fr/zh
    * 15 % each (the pipeline ignores the tag and identifies the language
    * from the text; about 9 % of texts carry no English stopword and are
    * dropped); 20 sources. Per 10 000 documents, 16 are exact copies and
    * 482 are near duplicates (an earlier document's text plus " dup") of
    * an earlier document, the fixture's shares: 8 exact and 241 near
    * duplicates in 5 000. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val i = col("id")
    val kind = rnd(seed, 30, 10000, i)
    // the document a row takes its text from: itself, or an earlier one
    val origin = when(kind < 498 && i > 0, rnd(seed, 31, 1L << 40, i) % i).otherwise(i)
    val words = transform(sequence(lit(1), lit(10) + rnd(seed, 35, 91, origin).cast("int")),
      p => element_at(typedLit(Vocabulary),
        (rnd(seed, 34, Vocabulary.size.toLong, origin, p) + 1).cast("int")))
    val body = array_join(words, " ")
    val text = when(kind >= 16 && kind < 498 && i > 0, concat(body, lit(" dup"))).otherwise(body)
    val lang = rnd(seed, 37, 1000, i)
    spark.range(n).select(i.as("doc_id"), text.as("text"),
        when(lang < 412, "en").when(lang < 559, "es").when(lang < 706, "de")
          .when(lang < 853, "fr").otherwise("zh").as("lang"),
        concat(lit("src"), i % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
