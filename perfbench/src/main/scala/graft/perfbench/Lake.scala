package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic tables, generated from row ids alone.
  *
  * Every value is a hash of the row id and a column salt, so a table is
  * the same bytes for the same size whatever the core count or the
  * partitioning. Order keys follow TPC-H's sparse pattern: order i has
  * key 4i+1, so keys 4j+2 and 4j+3 lie inside the key range yet match no
  * row — the benchmark's absent IDs. */
object Lake {
  private def h(c: Column, salt: Int): Column = xxhash64(c, lit(salt))
  private def u(c: Column, salt: Int, n: Long): Column = pmod(h(c, salt), lit(n))
  private def pick(c: Column, salt: Int, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*), (u(c, salt, vs.size.toLong) + 1).cast("int"))

  def orderKey(i: Long): Long = 4L * i + 1
  /** Line items of order index `i` (1 to 7), as a column expression. */
  def linesOf(i: Column): Column = (u(i, 11, 7) + 1).cast("int")

  /** Orders 0 until n, TPC-H-like columns. */
  def orders(spark: SparkSession, n: Long): DataFrame = {
    val i = col("id")
    spark.range(0, n, 1, 4).select(
      (i * 4 + 1).as("o_orderkey"),
      (u(i, 1, math.max(1L, n / 10)) + 1).as("o_custkey"),
      pick(i, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      (u(i, 3, 50000000L) / 100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), u(i, 4, 2400).cast("int"))
        .as("o_orderdate"),
      pick(i, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
  }

  /** Line items of orders 0 until n, in order-key order within each of
    * `parts` contiguous key ranges. */
  def lineitem(spark: SparkSession, n: Long, parts: Int): DataFrame = {
    val i = col("id")
    val r = xxhash64(col("id"), col("ln"))
    def ur(salt: Int, m: Long) = pmod(xxhash64(r, lit(salt)), lit(m))
    spark.range(0, n, 1, parts)
      .select(i, explode(sequence(lit(1), linesOf(i))).as("ln"))
      .select(
        (i * 4 + 1).as("l_orderkey"),
        (ur(1, 20000) + 1).as("l_partkey"),
        (ur(2, 1000) + 1).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (ur(3, 50) + 1).cast("double").as("l_quantity"),
        (ur(4, 10000000) / 100.0).as("l_extendedprice"),
        (ur(5, 11) / 100.0).as("l_discount"),
        (ur(6, 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (ur(7, 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (ur(8, 2) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + ur(9, 2500) * 86400)
          .as("l_shipdate"))
  }

  /** Total line items of the given order indices, from the generator. */
  def linesFor(spark: SparkSession, idx: Seq[Long]): Long = {
    import spark.implicits._
    if (idx.isEmpty) 0L
    else idx.toDF("id").select(sum(linesOf(col("id")).cast("long")))
      .head().getLong(0)
  }

  // ---- the curation corpus ------------------------------------------

  private val Vocab = Seq("the", "a", "join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order",
    "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "spark", "part", "group", "big", "sort", "query", "fast",
    "index", "token", "shard", "page")

  /** `n` documents: 8-90 words each from a small vocabulary; one in
    * twenty is a near-copy (an earlier document plus one word), so the
    * dedup and decontamination screens have pairs to find. */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val i = col("id")
    val copyOf = when(i > 0 && u(i, 7, 20) === 0, pmod(h(i, 8), i))
      .otherwise(i)
    val words = array(Vocab.map(lit): _*)
    val body = concat_ws(" ", transform(
      sequence(lit(1), (u(col("_src"), 9, 83) + 8).cast("int")),
      k => element_at(words,
        (pmod(xxhash64(col("_src"), k), lit(Vocab.size.toLong)) + 1)
          .cast("int"))))
    spark.range(0, n, 1, 4)
      .select(i, copyOf.as("_src"))
      .select(i.as("doc_id"),
        when(i =!= col("_src"), concat(body, lit(" dup"))).otherwise(body)
          .as("text"),
        pick(i, 10, Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
        concat(lit("src"), pmod(i, lit(20)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ---- files ---------------------------------------------------------

  /** Write `df` as parquet (or gzip JSON lines), starting a new object
    * every `perObject` rows of a task when that is positive. */
  def write(df: DataFrame, dir: String, json: Boolean = false,
            perObject: Long = 0): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", perObject)
    if (json) w.option("compression", "gzip").json(dir) else w.parquet(dir)
  }

  /** A table's data files: hidden and marker files and directories (the
    * `_SUCCESS` flag, `.crc` sidecars, forget's done markers) are not
    * data. */
  private def dataFiles(dir: String): Seq[java.io.File] = {
    def hidden(f: java.io.File) =
      f.getName.startsWith(".") || f.getName.startsWith("_")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.filterNot(hidden).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
  }

  /** Bytes of a table's data files. */
  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  def objects(dir: String): Int = dataFiles(dir).size

  /** Size of an object as Find reports its path. */
  def sizeOf(p: String): Long =
    new java.io.File(graft.forget.Forget.stripScheme(p)).length
}
