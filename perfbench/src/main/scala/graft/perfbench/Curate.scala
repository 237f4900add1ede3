package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The read-only curation workload: one "job" is one pass over
  * [[Metrics.CurateEntries]] through `SparkEntry.queries`, each result
  * fully materialized into its digest. */
final class Curate(spark: SparkSession, docs: Long, work: String) {

  /** Write the corpus. The stored artifact the streaming entry reads (the
    * CDC feed files) is built by the first pass over it. */
  def stage(): String = {
    val dir = s"$work/corpus"
    Lake.write(Lake.documents(spark, docs), s"$dir/documents.parquet")
    dir
  }

  def bytes(dir: String): Long = Lake.bytes(s"$dir/documents.parquet")
  def objects(dir: String): Int = Lake.objects(s"$dir/documents.parquet")

  /** Run one entry; returns its digest: row count plus an
    * order-independent sum of the rows' 64-bit hashes (as two 32-bit
    * halves, so the sums cannot overflow). */
  def run(name: String, dir: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    val r = digestOf(df)
    graft.llm.Dedup.releaseCaches()
    r
  }

  private def digestOf(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  /** A fixed aggregate over the corpus (bigram counts per language),
    * median of eleven: one aggregate takes well under a second. */
  def scanAfter(dir: String): Double = {
    val w = split(col("text"), " ")
    val bigrams = transform(sequence(lit(1), size(w) - 1),
      i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))
    val d = spark.read.parquet(s"$dir/documents.parquet")
    Stats.median(Seq.fill(11)(Stats.time(
      d.select(col("lang"), explode(bigrams).as("b"))
        .groupBy("lang", "b").agg(count(lit(1)))
        .collect())._2))
  }
}
