package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's JVM: one workload, one closed-loop client.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <n> --work <dir> --digests <file> --traces <dir>
  *
  * Prints a detail line and then, last, the result line:
  * `{"correct", "attempted", "failed", "metrics"}`. Exits 1 when a check
  * failed. */
object Main {
  val Shapes: Map[String, EraseShape] = Map(
    "erase_many_objects" -> EraseShape(orders = 8000, lineObjects = 256,
      scatter = true, orderObjects = 16, present = 32, absent = 0),
    "erase_big_queue" -> EraseShape(orders = 8000, lineObjects = 256,
      scatter = false, orderObjects = 0, present = 32, absent = 4096 - 32))
  /** Untimed jobs first: the process CPU of a job still falls over the
    * first few while the JIT compiles the erase path. */
  val EraseWarmups = 3
  val CurateDocs = 2000L
  /** Untimed passes first: the entries' many distinct plans keep the JIT
    * busy, and each entry's time still falls over the first three passes. */
  val CurateWarmups = 3
  /** Timed passes per run at least: the streaming entry's wall time
    * swings with micro-batch timing, so its median needs several. */
  val CuratePasses = 4

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Stats.sinceJvmStart()
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val t0Ns = System.nanoTime()

    val run = new Run(spark, seed, seconds, tracer, work, sessionS)
    val out = workload match {
      case w if Shapes.contains(w) => run.erase(Shapes(w))
      case "curate_text" => run.curate(opt("digests"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.foreach { t =>
      val f = new java.io.File(opt("traces"), s"$workload-seed$seed.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, t.toJson(t0Ns))
    }
    val metrics = (if (trace) Metrics.PerLayer else Metrics.EndToEnd)
      .map { case (name, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(out.metrics(name)),
          "unit" -> Json.str(unit)))
      }
    val c = out.checks
    println(Json.obj(Seq("workload" -> Json.str(workload),
      "seed" -> Json.num(seed), "trace" -> Json.bool(trace),
      "failed_ratio" -> Json.num(c.failed.toDouble / math.max(1L, c.attempted)),
      "failures" -> Json.arr(c.failures.map(Json.str).toSeq)) ++ out.detail))
    println(Json.obj(Seq("correct" -> Json.bool(c.failed == 0),
      "attempted" -> Json.num(c.attempted), "failed" -> Json.num(c.failed),
      "metrics" -> Json.obj(metrics))))
    spark.stop()
    sys.exit(if (c.failed == 0) 0 else 1)
  }
}

/** One run's loop and its metrics. */
final class Run(spark: SparkSession, seed: Long, seconds: Double,
                tracer: Option[Tracer], work: String, sessionS: Double) {
  import Stats.median

  /** Closed loop: the next job starts when the previous one returned.
    * In a traced run, traced and untraced jobs alternate, traced first. */
  private def loop(minJobs: Int)(job: Boolean => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || n < minJobs) {
      job(tracer.isDefined && n % 2 == 0)
      n += 1
    }
    n
  }

  private def zeros: mutable.Map[String, Double] =
    mutable.Map((Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1 -> 0.0): _*)

  def erase(shape: EraseShape): Outcome = {
    val e = new Erase(spark, shape, seed, work)
    val (lake, stagingS) = Stats.time(e.stage())
    val checks = new Checks
    // the first jobs warm the JVM; they are set-up, not samples
    val warm = Stats.time((1 to Main.EraseWarmups).foreach(_ =>
      e.runJob(lake, checks)))._2
    val setupS = Stats.sinceJvmStart()
    val plain = mutable.ArrayBuffer.empty[Erase.JobSample]
    val traced = mutable.ArrayBuffer.empty[Erase.TracedSample]
    // two samples at least: a traced run needs one of each kind
    val jobs = loop(2) { t =>
      if (t) traced += e.runTracedJob(lake, tracer.get, checks)
      else plain += e.runJob(lake, checks)
    }
    val m = zeros
    m("setup_s") = setupS
    m("job_s") = median(plain.map(_.wall).toSeq)
    m("job_cpu_s") = median(plain.map(_.cpu).toSeq)
    m("ids_per_s") = median(plain.map(s => s.ids / s.wall).toSeq)
    m("objects_per_min") = median(plain.map(s => s.objects * 60 / s.wall).toSeq)
    m("bytes_per_row_drift") = (lake.bytes.toDouble / lake.rows) /
      (lake.bytesBefore.toDouble / lake.rowsBefore)
    m("scan_after_s") = e.scanAfter(lake)
    m("process.rss_peak_mb") = Stats.rssPeakMb()
    tracer.foreach { tr =>
      tr.drain()
      val per = traced.map(s => eraseLayers(tr, s)).toSeq
      per.head.keys.foreach(k => m(k) = median(per.map(_(k))))
      m("driver.reported_scan_bytes") =
        median(plain.map(_.reportedScanBytes.toDouble).toSeq)
      m("trace.overhead_s") = m("trace.wall_s") - m("job_s")
      m("driver.other_s") = m("job_s") - m("trace.covered_s")
    }
    Outcome(m.toMap, checks, Seq(
      "jobs" -> Json.num(jobs.toLong),
      "session_s" -> Json.num(sessionS),
      "staging_s" -> Json.num(stagingS),
      "warmup_s" -> Json.num(warm),
      "job_s_samples" -> Json.arr(plain.map(s => Json.num(s.wall)).toSeq),
      "job_cpu_s_samples" -> Json.arr(plain.map(s => Json.num(s.cpu)).toSeq),
      "end_to_end" -> Json.obj(Metrics.EndToEnd.map(k =>
        k._1 -> Json.num(m(k._1))))))
  }

  /** One traced erase job's layer metrics. */
  private def eraseLayers(tr: Tracer, s: Erase.TracedSample)
      : Map[String, Double] = {
    val spans = tr.tree(s.root)
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def tot(n: String) = named(n).map(sp => tr.totalsOf(sp.id))
    val find = tot("find.scan")
    val forget = tot("forget.run")
    val updated = s.events.filter(_.eventName ==
      graft.model.JobEventName.ObjectUpdated)
    val failed = s.events.count(_.eventName ==
      graft.model.JobEventName.ObjectUpdateFailed)
    val processed = updated.map(_.statsProcessed).sum.toDouble
    val deleted = updated.map(_.statsDeleted).sum.toDouble
    val objMs = updated.map(_.timeTakenMs.toDouble)
    val taskS = forget.flatMap(_.runMs).map(_ / 1e3)
    val all = spans.map(sp => tr.totalsOf(sp.id))
    val findBytes = find.map(_.bytesRead).sum.toDouble
    Map(
      "api.enqueue_s" -> secs("api.enqueue"),
      "find.plan_s" -> secs("find.plan"),
      "find.scan_s" -> secs("find.scan"),
      "find.tasks" -> find.map(_.tasks).sum.toDouble,
      "find.task_cpu_s" -> find.map(_.cpuNs).sum / 1e9,
      "find.gc_s" -> find.map(_.gcMs).sum / 1e3,
      "find.bytes_read" -> findBytes,
      "find.bytes_read_ratio" -> findBytes / s.lakeBytes,
      "find.objects_matched" -> s.matched.toDouble,
      "find.precision" ->
        (if (s.matched == 0) 0.0
         else updated.count(_.statsDeleted > 0).toDouble / s.matched),
      "driver.scan_stats_s" -> secs("driver.scan_stats"),
      "forget.run_s" -> secs("forget.run"),
      "forget.tasks" -> forget.map(_.tasks).sum.toDouble,
      "forget.task_cpu_s" -> forget.map(_.cpuNs).sum / 1e9,
      "forget.gc_s" -> forget.map(_.gcMs).sum / 1e3,
      "forget.task_p50_s" -> (if (taskS.isEmpty) 0.0 else median(taskS)),
      "forget.task_max_s" -> (if (taskS.isEmpty) 0.0 else taskS.max),
      "forget.bytes_read" -> s.forgetBytesRead.toDouble,
      "forget.bytes_written" -> s.forgetBytesWritten.toDouble,
      "forget.rewrite_bytes_ratio" -> s.forgetBytesWritten.toDouble / s.lakeBytes,
      "forget.objects_updated" -> updated.size.toDouble,
      "forget.objects_failed" -> failed.toDouble,
      "forget.rows_processed" -> processed,
      "forget.rows_deleted" -> deleted,
      "forget.delete_ratio" -> (if (processed == 0) 0.0 else deleted / processed),
      "forget.object_ms_p50" -> (if (objMs.isEmpty) 0.0 else median(objMs)),
      "forget.object_ms_p99" ->
        (if (objMs.isEmpty) 0.0 else Stats.percentile(objMs, 99)),
      "jobs.fold_s" -> secs("jobs.fold"),
      "jobs.events" -> s.events.size.toDouble,
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "trace.wall_s" -> secs("job"),
      "trace.covered_s" -> (secs("api.enqueue") + secs("find") +
        secs("forget.run") + secs("jobs.fold")))
  }

  def curate(digestFile: String): Outcome = {
    val cu = new Curate(spark, Main.CurateDocs, work)
    val (dir, stagingS) = Stats.time(cu.stage())
    val before = cu.bytes(dir)
    val corpus = s"docs=${Main.CurateDocs}"
    val expected = Digests.read(digestFile).getOrElse(corpus, Map.empty)
    val seen = mutable.LinkedHashMap.empty[String, String]
    val checks = new Checks
    // per untraced pass: each entry's (wall, cpu)
    val plain = mutable.ArrayBuffer.empty[Map[String, (Double, Double)]]
    val roots = mutable.ArrayBuffer.empty[Int]
    val modules = Metrics.CurateEntries.toMap
    def entry(name: String, dir: String): Unit =
      try {
        val d = cu.run(name, dir)
        seen(name) = d
        checks(expected.get(name).contains(d),
          s"$name digest $d, stored ${expected.getOrElse(name, "none")}")
      } catch {
        case scala.util.control.NonFatal(e) =>
          checks(ok = false, s"$name failed: ${e.getMessage}")
      }
    // the first passes warm the JVM and build the stored artifacts; they
    // are set-up, not samples
    val order = Metrics.CurateEntries.map(_._1)
    val warm = Stats.time((1 to Main.CurateWarmups).foreach(_ =>
      order.foreach(entry(_, dir))))._2
    val setupS = Stats.sinceJvmStart()
    val jobs = loop(Main.CuratePasses) { t =>
      if (t) roots += tracer.get.span("pass", -1) { root =>
        order.foreach(name =>
          tracer.get.span(s"${modules(name)}.$name", root)(_ => entry(name, dir)))
      }._2
      else plain += order.map { name =>
        val cpu0 = Stats.workCpuNs()
        val t0 = System.nanoTime()
        entry(name, dir)
        name -> ((System.nanoTime() - t0) / 1e9,
          (Stats.workCpuNs() - cpu0) / 1e9)
      }.toMap
    }
    val m = zeros
    val entries = Metrics.CurateEntries.size
    // a pass's time is the sum of its entries' medians: one slow
    // micro-batch run of the streaming entry moves its own median only
    def passOf(f: ((Double, Double)) => Double) =
      order.map(name => median(plain.map(p => f(p(name))).toSeq)).sum
    m("setup_s") = setupS
    m("job_s") = passOf(_._1)
    m("job_cpu_s") = passOf(_._2)
    m("ids_per_s") = Main.CurateDocs * entries / m("job_s")
    m("objects_per_min") = cu.objects(dir) * entries * 60 / m("job_s")
    m("bytes_per_row_drift") = cu.bytes(dir).toDouble / before
    m("scan_after_s") = cu.scanAfter(dir)
    m("process.rss_peak_mb") = Stats.rssPeakMb()
    tracer.foreach { tr =>
      tr.drain()
      val per = roots.toSeq.map { root =>
        val spans = tr.tree(root)
        val all = spans.map(sp => tr.totalsOf(sp.id))
        val entrySpans = spans.filter(_.parent == root)
        entrySpans.flatMap(sp => Seq(s"${sp.name}_s" -> sp.seconds,
          s"${sp.name}_cpu_s" -> sp.cpuNs / 1e9)).toMap ++ Map(
          "curate.shuffle_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
          "curate.spill_bytes" -> all.map(_.spill).sum.toDouble,
          "curate.gc_s" -> all.map(_.gcMs).sum / 1e3,
          "curate.tasks" -> all.map(_.tasks).sum.toDouble,
          "spark.jobs" -> all.map(_.jobs).sum.toDouble,
          "spark.stages" -> all.map(_.stages).sum.toDouble,
          "spark.tasks" -> all.map(_.tasks).sum.toDouble,
          "trace.wall_s" -> spans.find(_.id == root).get.seconds,
          "trace.covered_s" -> entrySpans.map(_.seconds).sum)
      }
      per.head.keys.foreach(k => m(k) = median(per.map(_(k))))
      m("trace.overhead_s") = m("trace.wall_s") - m("job_s")
      m("driver.other_s") = m("job_s") - m("trace.covered_s")
    }
    Outcome(m.toMap, checks, Seq(
      "jobs" -> Json.num(jobs.toLong),
      "session_s" -> Json.num(sessionS),
      "staging_s" -> Json.num(stagingS),
      "warmup_s" -> Json.num(warm),
      "job_s_samples" -> Json.arr(plain.map(p =>
        Json.num(p.values.map(_._1).sum)).toSeq),
      "job_cpu_s_samples" -> Json.arr(plain.map(p =>
        Json.num(p.values.map(_._2).sum)).toSeq),
      "entry_s_samples" -> Json.obj(order.map(name =>
        name -> Json.arr(plain.map(p => Json.num(p(name)._1)).toSeq))),
      "digests" -> Json.obj(seen.toSeq.map(kv => kv._1 -> Json.str(kv._2))),
      "end_to_end" -> Json.obj(Metrics.EndToEnd.map(k =>
        k._1 -> Json.num(m(k._1))))))
  }
}

/** Stored curation digests: lines of `<corpus> <entry> <digest>`. */
object Digests {
  def read(file: String): Map[String, Map[String, String]] = {
    val f = new java.io.File(file)
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).collect { case Array(c, e, d) => (c, e, d) }
        .toSeq.groupBy(_._1).map { case (c, rows) =>
          c -> rows.map(r => r._2 -> r._3).toMap }
      finally src.close()
    }
  }
}
