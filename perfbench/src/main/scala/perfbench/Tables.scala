package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic tables with the schema and value domains of the
  * repository's TPC-H-ish test dataset (region, nation, customer, supplier, part,
  * orders, lineitem, events, documents, embeddings), at scale factor `sf`
  * (lineitem = 6M x sf rows). Every value is a hash of (seed, column,
  * row), so a seed always yields the same tables. Each table is one
  * single-file parquet `<dir>/<name>.parquet`, laid out as the
  * repository's test datasets are, so tools/check_oracle.py reads them. */
object Tables {
  private val Vocab = Seq("a", "the", "row", "query", "stream", "value", "hash", "batch", "sort",
    "data", "big", "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "merge", "window",
    "order", "column", "join", "vector", "fast", "spark", "line", "small", "customer", "group")

  def write(spark: SparkSession, seed: Long, sf: Double, dir: String): Map[String, Long] = {
    def n(base: Double, min: Long = 1L): Long = math.max(min, math.round(base * sf))
    val sizes = Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000), "supplier" -> n(10000),
      "part" -> n(200000), "orders" -> n(1500000), "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> n(50000, 500), "embeddings" -> n(20000, 500))
    val g = new Gen(seed)
    import g._
    val tables: Map[String, DataFrame] = Map(
      "region" -> spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> spark.range(sizes("customer")).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"), int(0, 24, 1).as("c_nationkey"),
        money(-999.99, 9999.99, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3).as("c_mktsegment")),
      "supplier" -> spark.range(sizes("supplier")).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"), int(0, 24, 4).as("s_nationkey"),
        money(-999.99, 9999.99, 5).as("s_acctbal")),
      "part" -> spark.range(sizes("part")).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(Seq("blue", "old", "hot", "large", "cold", "red", "small", "new"), 6),
          pick(Seq("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"), 7)).as("p_name"),
        concat(lit("Brand#"), int(1, 25, 8)).as("p_brand"),
        pick(Seq("PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"), 9).as("p_type"),
        int(1, 50, 10).as("p_size"), ((pmod(col("id"), lit(1000L)) + 9000) / 10.0).as("p_retailprice")),
      "orders" -> spark.range(sizes("orders")).select(col("id").as("o_orderkey"),
        long(0, sizes("customer") - 1, 11).as("o_custkey"), pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
        money(1000.0, 500000.0, 13).as("o_totalprice"), day("1995-01-01", 2404, 14).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15).as("o_orderpriority")),
      "lineitem" -> spark.range(sizes("lineitem")).select(
        long(0, sizes("orders") - 1, 16).as("l_orderkey"), long(0, sizes("part") - 1, 17).as("l_partkey"),
        long(0, sizes("supplier") - 1, 18).as("l_suppkey"), int(1, 7, 19).as("l_linenumber"),
        int(1, 50, 20).cast("double").as("l_quantity"), money(900.0, 105000.0, 21).as("l_extendedprice"),
        (int(0, 10, 22) / 100.0).as("l_discount"), (int(0, 8, 23) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), 24).as("l_returnflag"), pick(Seq("F", "O"), 25).as("l_linestatus"),
        day("1995-01-02", 2498, 26).as("l_shipdate")),
      "events" -> {
        val stepMicros = 30L * 86400L * 1000000L / sizes("events")
        spark.range(sizes("events")).select(col("id").as("event_id"),
          (lit(java.time.LocalDateTime.parse("2024-01-01T00:00:00")) +
            make_dt_interval(lit(0), lit(0), lit(0),
              ((col("id") + uni(27)) * stepMicros / 1e6).cast("decimal(18,6)"))).as("ts"),
          long(0, math.max(15L, math.round(15000 * sf)) - 1, 28).as("user_id"),
          pick(Seq("click", "signup", "error", "view", "purchase"), 29).as("event_type"),
          greatest(lit(0.01), round(-log(lit(1.0) - uni(30)) * 50.0, 2)).as("value"),
          concat(lit("{\"k\": "), int(0, 99, 31), lit("}")).as("props"))
      },
      "documents" -> spark.range(sizes("documents"))
        .withColumn("text", concat_ws(" ", transform(sequence(lit(1), int(10, 99, 32)),
          k => element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(lit(seed), lit(33), col("id"), k), lit(Vocab.size.toLong)) + 1).cast("int")))))
        .select(col("id").as("doc_id"), col("text"),
          when(uni(34) < 0.44, "en").otherwise(pick(Seq("zh", "de", "fr", "es"), 35)).as("lang"),
          concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
          length(col("text")).cast("long").as("n_chars")),
      "embeddings" -> spark.range(sizes("embeddings"))
        .withColumn("raw", transform(sequence(lit(1), lit(64)), k => gaussian(k)))
        .select(col("id").as("vec_id"),
          transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
            .cast("float")).as("embedding"),
          int(0, 9, 36).as("label")))
    tables.foreach { case (name, df) =>
      val staging = s"$dir/staging-$name"
      df.coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
      Disk.deleteTree(staging)
    }
    sizes
  }

  /** Hash-derived column generators for one seed. */
  private final class Gen(seed: Long) {
    /** Uniform in [0, 1) from (seed, salt, id). */
    def uni(salt: Int): Column =
      (xxhash64(lit(seed), lit(salt), col("id")).bitwiseAND(lit((1L << 53) - 1)) / math.pow(2, 53))
    def long(lo: Long, hi: Long, salt: Int): Column =
      (floor(uni(salt) * (hi - lo + 1)) + lo).cast("long")
    def int(lo: Int, hi: Int, salt: Int): Column = long(lo, hi, salt).cast("int")
    def money(lo: Double, hi: Double, salt: Int): Column = round(uni(salt) * (hi - lo) + lo, 2)
    def pick(values: Seq[String], salt: Int): Column =
      element_at(array(values.map(lit): _*), int(1, values.size, salt))
    def day(from: String, days: Int, salt: Int): Column =
      date_add(lit(java.sql.Date.valueOf(from)), int(0, days - 1, salt)).cast("timestamp_ntz")
    /** Standard normal (Box-Muller) per (row, k). */
    def gaussian(k: Column): Column = {
      def u(salt: Int) = (xxhash64(lit(seed), lit(salt), col("id"), k).bitwiseAND(lit((1L << 53) - 1)) +
        1) / (math.pow(2, 53) + 1)
      sqrt(log(u(37)) * -2.0) * cos(u(38) * (2 * math.Pi))
    }
  }
}
