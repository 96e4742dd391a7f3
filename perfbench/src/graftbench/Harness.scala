package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation the client issued. `rows` is the op's user-visible work:
  * input rows for a commit, result rows for a read, input rows for a corpus
  * stage. `cpuMs` is the process's CPU time less the JIT's
  * ([[Util.cpuMs]]). `fs` is the filesystem counter delta (traced cycles
  * only).
  */
final case class OpRec(id: Long, name: String, cls: String, cycle: Int, traced: Boolean,
                       startMs: Double, endMs: Double, cpuMs: Double, ok: Boolean, rows: Long,
                       fs: Map[String, Long]) {
  def ms: Double = endMs - startMs
}

/** One cycle of the timed phase: wall and CPU ([[Util.cpuMs]]) milliseconds,
  * and the share of the machine's CPU time the host took away meanwhile. */
final case class Cycle(wallMs: Double, cpuMs: Double, stealShare: Double, traced: Boolean)

/** A workload: build its inputs and tables, run one fixed unit of work
  * (a cycle) as a closed loop of operations, then check the outputs.
  */
trait Workload {
  /** Generate every input from the seed and build the tables, under a
    * fresh namespace `ns`. The last call's tables are the ones used. */
  def setup(ns: String): Unit
  /** An untimed pass over the same code paths as a cycle. */
  def warmup(): Unit
  /** One cycle: a fixed, seeded sequence of operations. */
  def cycle(c: Int): Unit
  /** Check every output; returns (check name, passed, detail). */
  def verify(): Seq[(String, Boolean, String)]
  /** Workload-specific figures printed beside the metrics. */
  def extras(): Seq[(String, Double, String)] = Nil
  /** History tables (`ns.t`) whose commits the traced run counts. */
  def historyTables: Seq[String] = Nil
  /** Per-layer figures measured after the timed phase (traced runs). */
  def layerProbes(): Map[String, Double] = Map.empty
}

final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val work: java.io.File, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer[OpRec]()
  /** Set during the timed phase; ops outside it are not recorded, and a
    * failure outside it aborts the run. */
  var recording = false
  var cycle = 0
  private var nextId = 0L
  /** Id of the last operation run. */
  def lastOp: Long = nextId - 1
  /** Live data files of the current snapshots a traced read op scanned,
    * by op id: the base of the pruning share. */
  val liveFiles = mutable.Map[Long, Long]()

  /** Data files in the current snapshot of catalog table `ns.t`. */
  def countLiveFiles(table: String): Long =
    sql(s"SELECT count(*) FROM graft_files('$Cat', '$table')").collect().head.getLong(0)

  val warehouse: String = s"file://${new java.io.File(work, "wh").getAbsolutePath}"
  val Cat = "bench"

  /** Run one operation: closed loop, on the calling thread. `body` returns
    * the op's row count. */
  def op(name: String, cls: String)(body: => Long): Unit = {
    val id = nextId; nextId += 1
    val traced = tracer.on
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    tracer.beginOp(id)
    val fs0 = if (traced) CountingFs.snapshot() else Map.empty[String, Long]
    val t0 = tracer.nowMs
    val cpu0 = Util.cpuMs()
    var rows = 0L
    val ok =
      try { rows = body; true }
      catch {
        case NonFatal(e) if recording =>
          System.out.println(s"[bench] FAILED op $name (cycle $cycle): ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(3).mkString(" "))
          false
      }
    val t1 = tracer.nowMs
    val cpu = Util.cpuMs() - cpu0
    tracer.endOp()
    sc.clearJobGroup()
    val fs = if (traced) CountingFs.diff(CountingFs.snapshot(), fs0) else Map.empty[String, Long]
    if (recording) {
      if (traced) tracer.addSpan(Span(name, "client", id, t0, t1))
      ops += OpRec(id, name, cls, cycle, traced, t0, t1, cpu, ok, rows, fs)
    }
  }

  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  def sql(q: String): DataFrame = spark.sql(q)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Util {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU milliseconds this process has used, all threads (GC included),
    * less its JIT compiler threads': in a fresh JVM the JIT took about half
    * the CPU time of a `corpus` cycle, and that share varied from run to
    * run. The compiler threads are found once by name in /proc; they live
    * as long as the JVM (`-XX:-UseDynamicNumberOfCompilerThreads`). Where
    * there is no /proc, nothing is subtracted. */
  def cpuMs(): Double = processCpuMs() - jitCpuMs()

  /** CPU milliseconds of the JIT compiler threads so far. */
  def jitCpuMs(): Double = compilerTasks.map(taskCpuNs).sum / 1e6

  private lazy val compilerTasks: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.filter { t =>
      val comm = try read(new java.io.File(t, "comm")) catch { case _: java.io.IOException => "" }
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }

  /** A thread's CPU nanoseconds: the first field of its schedstat, else
    * user + system clock ticks from its stat. */
  private def taskCpuNs(t: java.io.File): Long =
    try {
      val s = read(new java.io.File(t, "schedstat")).trim.split(" ")(0).toLong
      if (s > 0) s
      else {
        val f = read(new java.io.File(t, "stat"))
        val r = f.substring(f.lastIndexOf(')') + 2).split(" ")
        (r(11).toLong + r(12).toLong) * 10000000L
      }
    } catch { case _: java.io.IOException | _: NumberFormatException => 0L }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** CPU time of this process, all threads, in milliseconds. */
  def processCpuMs(): Double = os.getProcessCpuTime / 1e6

  /** The machine's CPU time counters (the `cpu` line of /proc/stat), or
    * empty where there is none. */
  def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    } catch { case _: java.io.IOException => Array.empty }

  /** Share of the machine's CPU time between two readings that the host
    * took for other guests (the eighth counter, `steal`). */
  def stealShare(before: Array[Long], after: Array[Long]): Double =
    if (before.length < 8 || after.length < 8) Double.NaN
    else {
      val d = after.zip(before).map { case (x, y) => x - y }
      if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Order-insensitive digest of rows: each row rendered field by field,
    * rendered rows sorted, then hashed. */
  def digest(rows: Iterable[Seq[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).toSeq.sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def render(r: Seq[Any]): String = r.map {
    case null => "\\N"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case v => v.toString
  }.mkString("|")

  def rowsOf(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()
}
