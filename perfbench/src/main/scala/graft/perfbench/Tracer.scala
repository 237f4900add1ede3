package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark task metrics summed over the tasks of one span. */
final class TaskTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val runMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]
}

/** One timed call of a layer's entry point. `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long, cpuNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's instrument: spans kept in memory, plus a
  * `SparkListener` that attributes every Spark job to the span that
  * submitted it.
  *
  * Each span runs under its own job group, so jobs submitted from
  * several threads at once (the concurrent per-mapper Find queries)
  * land on the right span. Structured-streaming queries replace the job
  * group with their run id, so the span id also rides in a second,
  * inheritable local property that the stream's thread copies when it
  * starts. A job that carries neither lands on the innermost open span
  * of the submitting client — there is one client, so that is the span
  * that caused it. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val GroupPrefix = "perfbench-span-"
  private val SpanProp = "perfbench.span"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val totals = mutable.HashMap.empty[Int, TaskTotals]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var open: List[Int] = Nil
  private val jobsStarted = new java.util.concurrent.atomic.AtomicLong(0)
  private val jobsEnded = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var lastEventNs = System.nanoTime()

  sc.addSparkListener(this)

  /** Time `body` as span `name` under `parent` (-1 = a root span);
    * `body` gets the new span's id to parent its own spans. The calling
    * thread's job group is restored afterwards. */
  def span[A](name: String, parent: Int)(body: Int => A): (A, Int) = {
    val id = nextId.incrementAndGet()
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevSpan = sc.getLocalProperty(SpanProp)
    synchronized { open = id :: open }
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    sc.setLocalProperty(SpanProp, id.toString)
    val c0 = Stats.workCpuNs()
    val t0 = System.nanoTime()
    try {
      val r = body(id)
      (r, id)
    } finally {
      val t1 = System.nanoTime()
      val c1 = Stats.workCpuNs()
      synchronized {
        spans += Span(id, name, parent, t0, t1, c1 - c0)
        open = open.filterNot(_ == id)
      }
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      sc.setLocalProperty(SpanProp, prevSpan)
    }
  }

  private def spanOf(props: java.util.Properties): Int = {
    val group = Option(props).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    val prop = Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
    group.filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toInt)
      .orElse(prop.map(_.toInt))
      .getOrElse(open.headOption.getOrElse(-1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val id = spanOf(e.properties)
    synchronized {
      val t = totals.getOrElseUpdate(id, new TaskTotals)
      t.jobs += 1
      t.stages += e.stageIds.size
      e.stageIds.foreach(s => stageSpan(s) = id)
    }
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val t = totals.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1),
        new TaskTotals)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.bytesRead += m.inputMetrics.bytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.runMs += m.executorRunTime
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until the listener bus has delivered the end of every job it
    * started and has been quiet for a moment (bounded). Call once, after
    * the last traced job, before reading [[totalsOf]]. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get() < jobsStarted.get() ||
          System.nanoTime() - lastEventNs < 300L * 1000000L))
      Thread.sleep(50)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList.sortBy(_.id))

  def totalsOf(id: Int): TaskTotals =
    synchronized(totals.getOrElse(id, new TaskTotals))

  /** Spans under `root`, the root included. */
  def tree(root: Int): Seq[Span] = {
    val all = allSpans
    val ids = mutable.Set(root)
    var grew = true
    while (grew) {
      val more = all.filter(s => !ids(s.id) && ids(s.parent)).map(_.id)
      grew = more.nonEmpty
      ids ++= more
    }
    all.filter(s => ids(s.id))
  }

  /** The spans as JSON, with their task totals, times relative to `t0Ns`. */
  def toJson(t0Ns: Long): String = {
    val rows = allSpans.map { s =>
      val t = totalsOf(s.id)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent),
        "start_s" -> Json.num((s.startNs - t0Ns) / 1e9),
        "end_s" -> Json.num((s.endNs - t0Ns) / 1e9),
        "cpu_s" -> Json.num(s.cpuNs / 1e9),
        "spark_jobs" -> Json.num(t.jobs), "spark_stages" -> Json.num(t.stages),
        "tasks" -> Json.num(t.tasks), "task_cpu_s" -> Json.num(t.cpuNs / 1e9),
        "gc_s" -> Json.num(t.gcMs / 1e3),
        "bytes_read" -> Json.num(t.bytesRead),
        "shuffle_write_bytes" -> Json.num(t.shuffleWrite),
        "spill_bytes" -> Json.num(t.spill)))
    }
    "[" + rows.mkString(",\n") + "]"
  }
}
