package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the star-schema tables the registry queries read
  * (region, nation, customer, supplier, part, orders, lineitem, events,
  * documents, embeddings): the same column names, types and value ranges
  * as the engine's sf tables, one parquet file per table.
  *
  * Every value is a pure function of (row id, column salt, seed) through
  * `xxhash64`, so a table is bit-identical for a given seed however Spark
  * partitions the generation.
  */
object StarGen {

  final case class Sizes(customer: Long, supplier: Long, part: Long, orders: Long,
      lineitem: Long, events: Long, documents: Long, embeddings: Long)

  /** The row counts of the engine's sf0.1 tables. */
  val Sf01 = Sizes(customer = 15000, supplier = 1000, part = 20000, orders = 150000,
    lineitem = 600000, events = 100000, documents = 5000, embeddings = 2000)

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private def strArray(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ",", ")")

  def write(spark: SparkSession, dir: String, sizes: Sizes, seed: Long): Unit = {
    // a uniform integer in [0, n) and a uniform double in [0, 1), per row
    def ri(salt: Int, n: Long, key: String = "id") = s"pmod(xxhash64($key, $salt, ${seed}L), $n)"
    def u(salt: Int, key: String = "id") = s"(${ri(salt, 1000000007L, key)} / 1000000007.0)"
    def pick(salt: Int, xs: Seq[String]) = s"element_at(${strArray(xs)}, int(${ri(salt, xs.size)}) + 1)"
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    def land(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val tsType = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try {
      land("region", spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
        (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"))
      land("nation", rows(25).selectExpr("int(id) AS n_nationkey",
        "concat('NATION_', id) AS n_name", "int(id % 5) AS n_regionkey"))
      land("customer", rows(sizes.customer).selectExpr("id AS c_custkey",
        "format_string('Customer#%09d', id) AS c_name",
        s"int(${ri(1, 25)}) AS c_nationkey",
        s"round(-999.99 + ${u(2)} * 10999.98, 2) AS c_acctbal",
        s"${pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))} AS c_mktsegment"))
      land("supplier", rows(sizes.supplier).selectExpr("id AS s_suppkey",
        "format_string('Supplier#%09d', id) AS s_name",
        s"int(${ri(4, 25)}) AS s_nationkey",
        s"round(-999.99 + ${u(5)} * 10999.98, 2) AS s_acctbal"))
      land("part", rows(sizes.part).selectExpr("id AS p_partkey",
        s"concat(${pick(6, Seq("blue", "old", "small", "new", "large", "hot", "cold", "red"))}, ' ', " +
          s"${pick(7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))}) AS p_name",
        s"concat('Brand#', ${ri(8, 25)} + 1) AS p_brand",
        s"${pick(9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"))} AS p_type",
        s"int(${ri(10, 50)}) + 1 AS p_size",
        "round(900 + (id % 1000) / 10.0, 1) AS p_retailprice"))
      land("orders", rows(sizes.orders).selectExpr("id AS o_orderkey",
        s"${ri(11, sizes.customer)} AS o_custkey",
        s"${pick(12, Seq("O", "F", "P"))} AS o_orderstatus",
        s"round(1000 + ${u(13)} * 499000, 2) AS o_totalprice",
        s"timestamp(date_add(date'1995-01-01', int(${ri(14, 2404)}))) AS o_orderdate",
        s"${pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority"))
      land("lineitem", rows(sizes.lineitem).selectExpr(
        s"${ri(16, sizes.orders)} AS l_orderkey",
        s"${ri(17, sizes.part)} AS l_partkey",
        s"${ri(18, sizes.supplier)} AS l_suppkey",
        s"int(${ri(19, 7)}) + 1 AS l_linenumber",
        s"double(${ri(20, 50)} + 1) AS l_quantity",
        s"round(900 + ${u(21)} * 104100, 2) AS l_extendedprice",
        s"${ri(22, 11)} / 100.0 AS l_discount",
        s"${ri(23, 9)} / 100.0 AS l_tax",
        s"${pick(24, Seq("A", "N", "R"))} AS l_returnflag",
        s"${pick(25, Seq("O", "F"))} AS l_linestatus",
        s"timestamp(date_add(date'1995-01-02', int(${ri(26, 2498)}))) AS l_shipdate"))
      // one month of events with ascending timestamps: a fixed stride per id
      // plus jitter smaller than the stride
      val strideUs = 30L * 86400 * 1000000 / math.max(1L, sizes.events)
      land("events", rows(sizes.events).selectExpr("id AS event_id",
        s"timestamp_micros(1704067200000000 + id * $strideUs + ${ri(27, strideUs)}) AS ts",
        s"${ri(28, 1500)} AS user_id",
        s"${pick(29, Seq("signup", "click", "error", "view", "purchase"))} AS event_type",
        s"round(-50 * ln(1 - ${u(30)}), 2) AS value",
        s"concat('{\"k\": ', ${ri(31, 100)}, '}') AS props"))
      // word-salad documents; one in twenty copies another document's text
      // and appends " dup", the near-duplicates the dedup family looks for
      land("documents", rows(sizes.documents)
        .selectExpr("id", s"${ri(32, 20)} = 0 AS is_dup",
          s"${ri(33, sizes.documents)} AS dup_of")
        .selectExpr("id", "is_dup", "IF(is_dup, dup_of, id) AS src")
        .selectExpr("id", "is_dup", "src", s"10 + int(${ri(34, 91, "src")}) AS n_words")
        .selectExpr("id AS doc_id",
          s"concat(array_join(transform(sequence(1, n_words), j -> element_at(${strArray(Vocab)}, " +
            s"int(pmod(xxhash64(src, j, 35, ${seed}L), ${Vocab.size})) + 1)), ' '), IF(is_dup, ' dup', '')) AS text",
          s"IF(${u(36)} < 0.41, 'en', ${pick(37, Seq("zh", "es", "fr", "de"))}) AS lang",
          "concat('src', id % 20) AS source")
        .withColumn("n_chars", length(col("text")).cast("bigint")))
      // unit-norm gaussian vectors (Box-Muller over two hashes per element)
      land("embeddings", rows(sizes.embeddings)
        .selectExpr("id AS vec_id",
          s"transform(sequence(0, 63), j -> sqrt(-2 * ln(1 - pmod(xxhash64(id, j, 38, ${seed}L), 1000000007) / 1000000007.0))" +
            s" * cos(2 * pi() * pmod(xxhash64(id, j, 39, ${seed}L), 1000000007) / 1000000007.0)) AS v",
          s"int(${ri(40, 10)}) AS label")
        .selectExpr("vec_id",
          "transform(v, x -> float(x / sqrt(aggregate(v, 0D, (a, y) -> a + y * y)))) AS embedding",
          "label"))
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsType, v)
      case None => spark.conf.unset(tsType)
    }
  }
}
