package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic input tables with the schema the contract queries read
  * (`graft.Tables`): a TPC-H-like star (region … lineitem), an `events`
  * stream table, and the `documents`/`embeddings` corpora.
  *
  * Every value is a pure function of (seed, table, column, row id), so a
  * table is byte-for-byte the same data whatever the partitioning, and
  * the golden fingerprints committed with the benchmark stay valid.
  * Row counts follow the usual TPC-H ratios per scale factor.
  */
object Gen {
  private val Two52 = 4503599627370496L

  /** Uniform double in [0, 1) keyed by (seed, tag, row id). */
  private def u(seed: Long, tag: String, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(Two52)).cast("double") /
      lit(Two52.toDouble)

  private def int(seed: Long, tag: String, lo: Int, hi: Int): Column =
    (floor(u(seed, tag) * (hi - lo + 1)) + lo).cast("int")

  private def pick(seed: Long, tag: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), int(seed, tag, 1, xs.length))

  /** Standard normal by Box–Muller from two keyed uniforms. */
  private def gauss(seed: Long, tag: String, id: Column): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - u(seed, tag + ".a", id))) *
      cos(lit(2 * math.Pi) * u(seed, tag + ".b", id))

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "nut", "plate", "ring",
    "rod", "widget")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Row counts at scale factor `sf`. */
  def sizes(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.round(150000 * sf),
    "supplier" -> math.round(10000 * sf),
    "part" -> math.round(200000 * sf),
    "orders" -> math.round(1500000 * sf),
    "lineitem" -> math.round(6000000 * sf),
    "events" -> math.round(1000000 * sf),
    "documents" -> math.round(50000 * sf),
    "embeddings" -> math.max(500L, math.round(20000 * sf)))

  def tables(spark: SparkSession, sf: Double, seed: Long): Seq[(String, DataFrame)] = {
    val n = sizes(sf)
    def range(t: String) = spark.range(n(t))
    val users = math.max(1L, math.round(15000 * sf))
    val days = 2403 // 1995-01-01 .. 2001-08-01
    def date(tag: String, span: Int, from: String) =
      date_add(lit(from).cast("date"), int(seed, tag, 0, span))
        .cast("timestamp_ntz")
    val money = (lo: Double, hi: Double, tag: String) =>
      round(u(seed, tag) * (hi - lo) + lo, 2)

    val region = spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = range("customer").select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0"))
        .as("c_name"),
      int(seed, "c_nationkey", 0, 24).as("c_nationkey"),
      money(-999.99, 9999.99, "c_acctbal").as("c_acctbal"),
      pick(seed, "c_mktsegment", segments).as("c_mktsegment"))
    val supplier = range("supplier").select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0"))
        .as("s_name"),
      int(seed, "s_nationkey", 0, 24).as("s_nationkey"),
      money(-999.99, 9999.99, "s_acctbal").as("s_acctbal"))
    val part = range("part").select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(seed, "p_adj", adjectives),
        pick(seed, "p_noun", nouns)).as("p_name"),
      concat(lit("Brand#"), int(seed, "p_brand", 1, 25)).as("p_brand"),
      pick(seed, "p_type", partTypes).as("p_type"),
      int(seed, "p_size", 1, 50).as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0)
        .as("p_retailprice"))
    val orders = range("orders").select(
      col("id").as("o_orderkey"),
      (pmod(xxhash64(lit(seed), lit("o_custkey"), col("id")),
        lit(n("customer")))).as("o_custkey"),
      pick(seed, "o_orderstatus", Seq("F", "O", "P")).as("o_orderstatus"),
      money(1000.0, 500000.0, "o_totalprice").as("o_totalprice"),
      date("o_orderdate", days, "1995-01-01").as("o_orderdate"),
      pick(seed, "o_orderpriority", priorities).as("o_orderpriority"))
    val qty = int(seed, "l_quantity", 1, 50).cast("double")
    val lineitem = range("lineitem").select(
      pmod(xxhash64(lit(seed), lit("l_orderkey"), col("id")),
        lit(n("orders"))).as("l_orderkey"),
      pmod(xxhash64(lit(seed), lit("l_partkey"), col("id")),
        lit(n("part"))).as("l_partkey"),
      pmod(xxhash64(lit(seed), lit("l_suppkey"), col("id")),
        lit(n("supplier"))).as("l_suppkey"),
      int(seed, "l_linenumber", 1, 7).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(seed, "l_price") * 1200.0), 2)
        .as("l_extendedprice"),
      (int(seed, "l_discount", 0, 10).cast("double") / 100.0).as("l_discount"),
      (int(seed, "l_tax", 0, 8).cast("double") / 100.0).as("l_tax"),
      pick(seed, "l_returnflag", Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, "l_linestatus", Seq("F", "O")).as("l_linestatus"),
      date("l_shipdate", 2498, "1995-01-02").as("l_shipdate"))
    // events: ids in time order over 30 days, one jittered slot per row
    val slotUs = 30L * 86400L * 1000000L / n("events")
    val eventsDf = range("events").select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * slotUs +
        (u(seed, "ts") * slotUs).cast("long")).cast("timestamp_ntz").as("ts"),
      pmod(xxhash64(lit(seed), lit("user_id"), col("id")), lit(users))
        .as("user_id"),
      pick(seed, "event_type", eventTypes).as("event_type"),
      round(least(lit(499.99), greatest(lit(0.01),
        exp(lit(3.55) + lit(0.93) * gauss(seed, "value", col("id"))))), 2)
        .as("value"),
      concat(lit("{\"k\": "), int(seed, "props", 0, 99), lit("}")).as("props"))
    // documents: 10..100 words; one in 500 repeats the previous text and
    // one in 100 carries the rare term "dup"
    val textId = when(col("id") % 500 === 7, col("id") - 1).otherwise(col("id"))
    val vocab = array(words.map(lit): _*)
    val text = concat_ws(" ", transform(
      sequence(lit(1), (floor(u(seed, "nwords", textId) * 91) + 10).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(lit(seed), lit("w"), textId, i),
        lit(words.length.toLong)) + 1).cast("int"))))
    val docs = range("documents")
      .select(col("id"), text.as("t0"))
      .select(
        col("id").as("doc_id"),
        when(col("id") % 100 === 3, concat(col("t0"), lit(" dup")))
          .otherwise(col("t0")).as("text"),
        when(u(seed, "lang") < 0.41, lit("en"))
          .otherwise(pick(seed, "lang2", Seq("de", "es", "fr", "zh")))
          .as("lang"),
        concat(lit("src"), int(seed, "source", 0, 19)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val raw = transform(sequence(lit(0), lit(63)),
      j => gauss(seed, "emb", col("id") * 64 + j))
    val embeddings = range("embeddings")
      .select(col("id"), raw.as("z"))
      .select(
        col("id").as("vec_id"),
        transform(col("z"), x => x / sqrt(aggregate(col("z"), lit(0.0),
          (a, y) => a + y * y))).cast("array<float>").as("embedding"),
        int(seed, "label", 0, 9).as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> eventsDf, "documents" -> docs,
      "embeddings" -> embeddings)
  }

  /** Makes sure `dir` holds the tables: inputs are a pure function of
    * (sf, seed), so a directory completed by an earlier run is reused.
    * Returns whether this call generated them.
    */
  def ensure(spark: SparkSession, dir: String, sf: Double, seed: Long): Boolean = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val done = Paths.get(dir, "_COMPLETE")
    if (Files.exists(done)) return false
    val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
    write(spark, tmp, sf, seed)
    Files.createFile(Paths.get(tmp, "_COMPLETE"))
    try Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.DirectoryNotEmptyException =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    true
  }

  /** Writes every table as `<dir>/<name>.parquet`, one file each; the
    * tables are written concurrently, one Spark job each.
    */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      tables(spark, sf, seed).map { case (name, df) =>
        pool.submit(new Runnable {
          def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}
