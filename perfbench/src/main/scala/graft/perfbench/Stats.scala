package graft.perfbench

/** Small numeric and process helpers. */
object Stats {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the process (driver, local executors and collector)
    * less that of its JIT compiler threads, ns: the program's work. In a
    * run this short the compilers are still busy, and their share swings
    * from run to run. Their CPU is read per thread from /proc, and
    * run.py keeps every compiler thread alive for the JVM's life, so no
    * thread's time drops out of the sum between two readings. */
  def workCpuNs(): Long = os.getProcessCpuTime - compilerCpuNs()

  private val TickNs = 10000000L // USER_HZ = 100

  /** utime + stime of the C1/C2 compiler threads, ns; 0 without /proc. */
  private def compilerCpuNs(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles())
    tasks.toSeq.flatten.map { t =>
      try {
        val stat = java.nio.file.Files.readString(
          new java.io.File(t, "stat").toPath)
        val close = stat.lastIndexOf(')')
        val comm = stat.substring(stat.indexOf('(') + 1, close)
        if (comm.startsWith("C1 CompilerThre") ||
            comm.startsWith("C2 CompilerThre")) {
          // fields after the name start at state (3); utime is 14
          val f = stat.substring(close + 2).split(' ')
          (f(11).toLong + f(12).toLong) * TickNs
        } else 0L
      } catch { case _: java.io.IOException => 0L } // a thread that ended
    }.sum
  }

  /** Wall seconds since this JVM started. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set size of this process in MB (VmHWM), or the
    * current heap commitment where /proc is absent. */
  def rssPeakMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (java.nio.file.Files.exists(status)) {
      val line = scala.io.Source.fromFile(status.toFile)
      try line.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally line.close()
    } else Runtime.getRuntime.totalMemory() / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def bool(v: Boolean): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
