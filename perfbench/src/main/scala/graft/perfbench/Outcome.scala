package graft.perfbench

import scala.collection.mutable

/** Output checks of one run: each is attempted once and passes or fails. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]

  def apply(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  /** Count `n` per-object outcomes of which `bad` failed. */
  def objects(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0 && failures.size < 20) failures += what
  }
}

/** What a workload hands back to [[Main]]: metric values by name, the
  * checks, and free-form detail for the log line. */
final case class Outcome(
    metrics: Map[String, Double],
    checks: Checks,
    detail: Seq[(String, String)])

/** The benchmark's metrics: name, unit, and which runs report them. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "job_cpu_s" -> "s",
    "ids_per_s" -> "1/s", "objects_per_min" -> "1/min",
    "bytes_per_row_drift" -> "ratio", "scan_after_s" -> "s")

  val CurateEntries: Seq[(String, String)] = Seq(
    "q29_jaccard_exact" -> "llm", "q110_gram_novelty" -> "llm",
    "q128_bm25_cdc" -> "streaming")

  val PerLayer: Seq[(String, String)] = Seq(
    "api.enqueue_s" -> "s",
    "find.plan_s" -> "s", "find.scan_s" -> "s", "find.tasks" -> "count",
    "find.task_cpu_s" -> "s", "find.gc_s" -> "s", "find.bytes_read" -> "B",
    "find.bytes_read_ratio" -> "ratio", "find.objects_matched" -> "count",
    "find.precision" -> "ratio",
    "driver.scan_stats_s" -> "s", "driver.other_s" -> "s",
    "driver.reported_scan_bytes" -> "B",
    "forget.run_s" -> "s", "forget.tasks" -> "count",
    "forget.task_cpu_s" -> "s", "forget.gc_s" -> "s",
    "forget.task_p50_s" -> "s", "forget.task_max_s" -> "s",
    "forget.bytes_read" -> "B", "forget.bytes_written" -> "B",
    "forget.rewrite_bytes_ratio" -> "ratio",
    "forget.objects_updated" -> "count", "forget.objects_failed" -> "count",
    "forget.rows_processed" -> "count", "forget.rows_deleted" -> "count",
    "forget.delete_ratio" -> "ratio",
    "forget.object_ms_p50" -> "ms", "forget.object_ms_p99" -> "ms",
    "jobs.fold_s" -> "s", "jobs.events" -> "count") ++
    CurateEntries.flatMap { case (e, m) =>
      Seq(s"$m.${e}_s" -> "s", s"$m.${e}_cpu_s" -> "s") } ++ Seq(
    "curate.shuffle_bytes" -> "B", "curate.spill_bytes" -> "B",
    "curate.gc_s" -> "s", "curate.tasks" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "trace.overhead_s" -> "s",
    "process.rss_peak_mb" -> "MB")
}
