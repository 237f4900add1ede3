package graft.perfbench

import graft.api.GraftApi
import graft.catalog.{Catalog, TableDef}
import graft.driver.JobRunner
import graft.find.Finder
import graft.forget.{DistributedRewrite, Forget}
import graft.jobs.Jobs
import graft.model._
import graft.tools.ParquetStats
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Shape of an erase workload's lake and queue.
  *
  * @param orders       orders generated (line items: 1-7 per order)
  * @param lineObjects  parquet objects the line items are written as
  * @param scatter      true: rows dealt round-robin over the objects, so
  *                     one order's lines sit in several objects; false:
  *                     objects are contiguous, sorted key ranges
  * @param orderObjects gzip JSON-lines objects of the orders table (0 =
  *                     no orders table and no second mapper)
  * @param present      order keys per job that exist in the lake
  * @param absent       keys per job that match no row
  */
final case class EraseShape(orders: Long, lineObjects: Int, scatter: Boolean,
                            orderObjects: Int, present: Int, absent: Int)

/** A deletion-job workload: jobs go through the public API
  * (`putDataMapper` → `enqueue` → `startJob`), one at a time. */
final class Erase(spark: SparkSession, shape: EraseShape, seed: Long,
                  work: String) {
  import Erase._

  private val rnd = new java.util.Random(seed)
  // order indices in seeded random order: each job takes the next
  // `present` of them, so batches are disjoint
  private val pending: Array[Long] = {
    val a = Array.tabulate(shape.orders.toInt)(_.toLong)
    var k = a.length - 1
    while (k > 0) {
      val j = rnd.nextInt(k + 1)
      val t = a(k); a(k) = a(j); a(j) = t
      k -= 1
    }
    a
  }
  private var taken = 0

  /** The staged lake with its own API instance. */
  final class Staged(val dir: String) {
    val api = new GraftApi(spark)
    val tables: mutable.ArrayBuffer[(DataMapper, TableDef, String)] =
      mutable.ArrayBuffer.empty
    val live: mutable.Map[String, Long] = mutable.Map.empty
    var rowsBefore = 0L
    var bytesBefore = 0L
    def bytes: Long = tables.map(t => Lake.bytes(t._2.location)).sum
    def rows: Long = live.values.sum
  }

  /** Write the lake and register its mappers. Each table is
    * written by a few tasks that each roll over to a new object every
    * `rows / objects` rows; the row order inside a task decides the
    * layout: by row hash (scattered) or by key (clustered). */
  def stage(): Staged = {
    val c = new Staged(s"$work/lake")
    val lines = Lake.linesFor(spark, 0L until shape.orders)
    def laid(df: DataFrame, key: String, other: String) =
      if (shape.scatter) df.sortWithinPartitions(xxhash64(col(key), col(other)))
      else df
    val li = Lake.lineitem(spark, shape.orders, 4)
    val liDir = s"${c.dir}/lineitem"
    Lake.write(laid(li, "l_orderkey", "l_linenumber"), liDir,
      perObject = (lines + shape.lineObjects - 1) / shape.lineObjects)
    val liTable = TableDef("lineitem", liDir, DataFormat.Parquet, li.schema)
    c.tables += ((DataMapper("m_lineitem", "lineitem", Seq("l_orderkey")),
      liTable, "l_orderkey"))
    c.live("lineitem") = lines
    if (shape.orderObjects > 0) {
      val o = Lake.orders(spark, shape.orders)
      val oDir = s"${c.dir}/orders"
      Lake.write(laid(o, "o_orderkey", "o_custkey"), oDir, json = true,
        perObject = (shape.orders + shape.orderObjects - 1) / shape.orderObjects)
      c.tables += ((DataMapper("m_orders", "orders", Seq("o_orderkey"),
        format = DataFormat.JsonLines),
        TableDef("orders", oDir, DataFormat.JsonLines, o.schema),
        "o_orderkey"))
      c.live("orders") = shape.orders
    }
    c.tables.foreach { case (m, t, _) => c.api.putDataMapper(m, t) }
    c.rowsBefore = c.rows
    c.bytesBefore = c.bytes
    c
  }

  /** The next job's batch: present order indices, and all keys. */
  def batch(): (Seq[Long], Seq[Long]) = {
    require(taken + shape.present <= pending.length,
      "the lake has run out of order keys for new batches")
    val idx = pending.slice(taken, taken + shape.present).toSeq
    taken += shape.present
    // absent keys 4j+2 / 4j+3 lie inside the key range
    val absent = Seq.fill(shape.absent)(
      4L * rnd.nextInt(shape.orders.toInt) + 2 + rnd.nextInt(2))
    (idx, idx.map(Lake.orderKey) ++ absent)
  }

  private var jobSeq = 0
  private def items(keys: Seq[Long]): (String, Seq[DeletionQueueItem]) = {
    jobSeq += 1
    val job = s"job-$jobSeq"
    (job, keys.zipWithIndex.map { case (k, n) =>
      DeletionQueueItem(s"$job-$n", MatchId.Simple(k.toString)) })
  }

  /** Untimed output checks after a job: it completed, no row matching
    * the batch survives, and each table lost exactly the rows the
    * generator says the batch's present keys had. */
  def check(c: Staged, status: String, idx: Seq[Long], keys: Seq[Long],
            checks: Checks, job: String): Unit = {
    checks(status == JobStatus.Completed, s"$job ended $status")
    val expected = Map("lineitem" -> Lake.linesFor(spark, idx),
      "orders" -> idx.size.toLong)
    c.tables.foreach { case (_, t, keyCol) =>
      val r = read(t)
        .agg(count(lit(1)), count_if(col(keyCol).isin(keys: _*))).head()
      val (live, matching) = (r.getLong(0), r.getLong(1))
      checks(matching == 0, s"$job: $matching ${t.name} rows still match")
      val want = c.live(t.name) - expected(t.name)
      checks(live == want, s"$job: ${t.name} has $live rows, want $want")
      c.live(t.name) = live
    }
  }

  /** Spark's own reader, not the program's: the checks stay independent
    * of the code they check. */
  private def read(t: TableDef): DataFrame = t.format match {
    case DataFormat.Parquet => spark.read.parquet(t.location)
    case DataFormat.JsonLines => spark.read.schema(t.schema).json(t.location)
  }

  /** One job through the API, untraced. */
  def runJob(c: Staged, checks: Checks): JobSample = {
    val (idx, keys) = batch()
    val (job, queue) = items(keys)
    val cpu0 = Stats.workCpuNs()
    val t0 = System.nanoTime()
    c.api.enqueue(queue)
    val run = c.api.startJob(job)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Stats.workCpuNs() - cpu0) / 1e9
    val st = run.state.stats
    checks.objects(st.totalObjectUpdatedCount +
      st.totalObjectUpdateFailedCount, st.totalObjectUpdateFailedCount,
      s"$job: ${st.totalObjectUpdateFailedCount} objects failed")
    checks(run.clearedQueue.size == queue.size,
      s"$job cleared ${run.clearedQueue.size} of ${queue.size} queue items")
    check(c, run.state.status, idx, keys, checks, job)
    JobSample(wall, cpu, run.clearedQueue.size, st.totalObjectUpdatedCount,
      run.events.filter(_.eventName == JobEventName.QuerySucceeded)
        .map(_.bytesScanned).sum)
  }

  /** One job with every layer's entry point called and timed in the
    * order `JobRunner.run` calls them. */
  def runTracedJob(c: Staged, tracer: Tracer, checks: Checks): TracedSample = {
    val (idx, keys) = batch()
    val (job, queue) = items(keys)
    val lakeBytes = c.bytes
    val events = mutable.ArrayBuffer.empty[JobEvent]
    def ev(name: String, bytes: Long = 0L, ms: Long = 0L): JobEvent =
      JobEvent(job, EventSk.next(), name, System.currentTimeMillis(),
        bytesScanned = bytes, timeTakenMs = ms)
    val s = new TracedSample
    val (state, root) = tracer.span("job", -1) { root =>
      val (stamped, _) = tracer.span("api.enqueue", root) { _ =>
        c.api.enqueue(queue)
      }
      val mappers = c.tables.map(t => (t._1, t._2)).toSeq
      Catalog.checkNoOverlap(mappers)
      mappers.foreach { case (m, t) => Catalog.validateMapper(m, t) }
      events += ev(JobEventName.JobStarted)
      events += ev(JobEventName.FindPhaseStarted)
      events += ev(JobEventName.QueryPlanningComplete)
      val found = new java.util.concurrent.ConcurrentHashMap[String,
        (Seq[Finder.GroupMatches], Seq[String])]()
      tracer.span("find", root) { phase =>
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, mappers.size))
        try mappers.map { case (m, t) =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              val t0 = System.currentTimeMillis()
              val (groups, _) = tracer.span("find.plan", phase) { _ =>
                Finder.plan(m, t, stamped)
              }
              val (paths, _) = tracer.span("find.scan", phase) { _ =>
                Finder.matchedFiles(spark,
                  Finder.scoped(JobRunner.readTable(spark, t), m), groups,
                  inSetMaxKeys = c.api.listSettings.inSetMaxKeys)
                  .collect().map(_.getString(0)).toSeq
              }
              val (bytes, _) = tracer.span("driver.scan_stats", phase) { _ =>
                t.format match {
                  case DataFormat.Parquet =>
                    ParquetStats.columnBytes(new Configuration(),
                      paths.map(Forget.stripScheme), m.columns).selected
                  case DataFormat.JsonLines => tableBytes(t)
                }
              }
              found.put(m.id, (groups, paths))
              events.synchronized {
                events += ev(JobEventName.QuerySucceeded, bytes,
                  System.currentTimeMillis() - t0)
              }
            }
          })
        }.foreach(_.get())
        finally pool.shutdown()
      }
      events += ev(JobEventName.FindPhaseEnded)
      events += ev(JobEventName.ForgetPhaseStarted)
      mappers.foreach { case (m, t) =>
        val (groups, paths) = found.get(m.id)
        s.matched += paths.size
        s.forgetBytesRead += paths.map(Lake.sizeOf).sum
        if (paths.nonEmpty) {
          val units = paths.map(p => ObjectWorkUnit(job, p, m.id, t.format,
            m.deleteOldVersions, m.ignoreObjectNotFound))
          events ++= tracer.span("forget.run", root) { _ =>
            DistributedRewrite.run(spark, job, units, groups)
          }._1
        }
        s.forgetBytesWritten += paths.map(Lake.sizeOf).sum
      }
      events += ev(JobEventName.ForgetPhaseEnded)
      events += ev(JobEventName.CleanupSucceeded)
      tracer.span("jobs.fold", root) { _ =>
        Jobs.fold(job, events.toSeq)
      }._1
    }
    // the cleanup phase's queue removal, untimed
    c.api.deleteQueueItems(queue.map(_.id).toSet)
    s.root = root
    s.lakeBytes = lakeBytes
    s.events = events.toSeq
    val st = state.stats
    checks.objects(st.totalObjectUpdatedCount +
      st.totalObjectUpdateFailedCount, st.totalObjectUpdateFailedCount,
      s"$job: ${st.totalObjectUpdateFailedCount} objects failed")
    check(c, state.status, idx, keys, checks, job)
    s
  }

  /** `JobRunner.tableBytes`: the listing a row-format Find reports. */
  private def tableBytes(t: TableDef): Long = {
    val path = new org.apache.hadoop.fs.Path(t.location)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) total += f.getLen
    }
    total
  }

  /** A fixed analytic aggregate over the erased tables (TPC-H Q1 over the
    * line items, order counts by priority), median of nine after five
    * untimed runs: the jobs never ran this query, and its time still falls
    * over the first few while the JIT compiles it. */
  def scanAfter(c: Staged): Double = {
    val li = read(c.tables.head._2)
    def q(): Unit = {
      li.groupBy("l_returnflag", "l_linestatus").agg(
          sum("l_quantity"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          avg("l_discount"), count(lit(1)))
        .collect()
      c.tables.drop(1).foreach { case (_, t, _) =>
        read(t).groupBy("o_orderpriority")
          .agg(count(lit(1)), sum("o_totalprice")).collect()
      }
    }
    (1 to 5).foreach(_ => q())
    Stats.median(Seq.fill(9)(Stats.time(q())._2))
  }
}

object Erase {
  final case class JobSample(wall: Double, cpu: Double, ids: Long,
                             objects: Long, reportedScanBytes: Long)

  final class TracedSample {
    var root = -1
    var lakeBytes = 0L
    var matched = 0L
    var forgetBytesRead = 0L
    var forgetBytesWritten = 0L
    var events: Seq[JobEvent] = Nil
  }
}
