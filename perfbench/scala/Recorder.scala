package perfbench

import java.lang.management.ManagementFactory
import java.math.{MathContext, RoundingMode}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work done inside one window: Spark's own counts, summed from
  * the listener events of the jobs that ran in it.
  */
final case class Counters(jobs: Long = 0, stages: Long = 0, taskMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    written: Long = 0, catalystMs: Long = 0, gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    taskMs - o.taskMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, written - o.written,
    catalystMs - o.catalystMs, gcMs - o.gcMs)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    taskMs + o.taskMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, written + o.written,
    catalystMs + o.catalystMs, gcMs + o.gcMs)
}

/** One timed call into the program: `construct` is the query function
  * (eager memo builds, probes, checkpoints happen here), `execute` the
  * action that runs the plan and brings its rows to the driver.
  * `outsideJobS` is the part of the window in which no Spark job ran; it
  * and `engine` are filled in traced runs only.
  */
final case class Op(name: String, phase: String, constructS: Double,
    executeS: Double, error: Option[String], engine: Counters,
    outsideJobS: Double, cpuS: Double) {
  def totalS: Double = constructS + executeS
  def ok: Boolean = error.isEmpty
  def toMap: Map[String, Any] = Map("name" -> name, "phase" -> phase,
    "construct_s" -> constructS, "execute_s" -> executeS, "error" -> error,
    "outside_job_s" -> outsideJobS, "cpu_s" -> cpuS, "jobs" -> engine.jobs,
    "stages" -> engine.stages, "task_ms" -> engine.taskMs,
    "shuffle_read_bytes" -> engine.shuffleRead,
    "shuffle_write_bytes" -> engine.shuffleWrite, "spill_bytes" -> engine.spill,
    "written_bytes" -> engine.written, "catalyst_ms" -> engine.catalystMs,
    "gc_ms" -> engine.gcMs)
}

/** Listener state: counters plus the wall-clock intervals of every job. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  @volatile var c = Counters()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  val jobIntervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) c = c.copy(
      taskMs = c.taskMs + m.executorRunTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      written = c.written + m.outputMetrics.bytesWritten)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    addCatalyst(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    addCatalyst(qe)
  private def addCatalyst(qe: QueryExecution): Unit = synchronized {
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    c = c.copy(catalystMs = c.catalystMs + ms)
  }

  /** Wall ms of [t0, t1] covered by no job. */
  def outsideJobMs(t0: Long, t1: Long): Long = synchronized {
    val cut = jobIntervals.iterator
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var end = t0
    cut.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (t1 - t0) - covered
  }
}

/** Spans and engine counts, kept in memory and written out at the end.
  * With tracing off it only times calls; nothing is registered with
  * Spark, so the end-to-end numbers carry no tracing cost.
  */
final class Recorder(val trace: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long)
  val t0Ns: Long = System.nanoTime()
  val spans = ArrayBuffer[Span]()
  private var stack = List(0)
  val listener = new EngineListener

  def attach(s: SparkSession): Unit = if (trace) {
    s.listenerManager.register(listener)
  }
  def attachContext(s: SparkSession): Unit = if (trace) {
    s.sparkContext.addSparkListener(listener)
  }

  def span[T](name: String)(f: => T): T =
    if (!trace) f
    else {
      val id = spans.size + 1
      val parent = stack.head
      val s = System.nanoTime()
      stack = id :: stack
      spans += Span(id, parent, name, s, -1L)
      try f finally {
        stack = stack.tail
        spans(id - 1) = spans(id - 1).copy(endNs = System.nanoTime())
      }
    }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Counters as of now, after the listener bus has delivered every event. */
  def counters(s: SparkSession): Counters =
    if (!trace) Counters()
    else {
      org.apache.spark.PerfbenchBus.drain(s.sparkContext)
      listener.synchronized(listener.c).copy(gcMs = gcMs())
    }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Wall seconds, engine counts, seconds outside jobs, error (a throw
    * becomes a failed op) and the CPU seconds the whole JVM used while
    * `fn` ran.
    */
  def window(s: SparkSession)(fn: => Unit)
      : (Double, Counters, Double, Option[String], Double) = {
    val c0 = counters(s)
    val w0 = System.currentTimeMillis(); val t = System.nanoTime()
    val cpu0 = os.getProcessCpuTime
    val err = try { fn; None } catch { case e: Throwable => Some(brief(e)) }
    val secs = (System.nanoTime() - t) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val w1 = System.currentTimeMillis()
    val c1 = counters(s)
    val outside = if (trace) listener.outsideJobMs(w0, w1) / 1e3 else 0.0
    (secs, c1 - c0, outside, err, cpu)
  }

  /** One query call: construct the DataFrame, then collect its rows, as
    * the client that asked for the result does. Returns the rows so the
    * caller can check them without running the plan again.
    */
  def op(s: SparkSession, name: String, phase: String)(
      build: => DataFrame): (Op, Option[(Seq[String], Array[Row])]) = {
    var out: Option[(Seq[String], Array[Row])] = None
    var constructS = 0.0
    val (secs, eng, outside, err, cpu) = window(s) {
      span(s"$phase/$name") {
        val t = System.nanoTime()
        val df = span("construct")(build)
        constructS = (System.nanoTime() - t) / 1e9
        out = Some((df.columns.toSeq, span("execute")(df.collect())))
      }
    }
    val executeS = if (err.isEmpty) secs - constructS else 0.0
    (Op(name, phase, if (err.isEmpty) constructS else secs, executeS, err, eng,
      outside, cpu), if (err.isEmpty) out else None)
  }

  def brief(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(300)

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6))
}

/** Order-sensitive result hash over canonical cell text; `expect.py`
  * computes the same text from DuckDB's rows.
  */
object Canon {
  private val mc = new MathContext(12, RoundingMode.HALF_EVEN)
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def dec(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString
  private def num(d: Double): String =
    if (d.isNaN) "nan" else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else dec(new java.math.BigDecimal(d))
  private def ts(t: java.time.LocalDateTime): String = {
    val us = t.getNano / 1000
    t.format(tsFmt) + (if (us != 0) f".$us%06d" else "")
  }

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => dec(d)
    case d: scala.math.BigDecimal => dec(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => ts(t.toLocalDateTime)
    case t: java.time.LocalDateTime => ts(t)
    case t: java.time.Instant =>
      ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case a: scala.collection.Seq[_] => a.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case other => other.toString
  }

  /** (column names, row count, sha256 hex) of a collected result. */
  def digest(cols: Seq[String], rows: Array[Row]): (Seq[String], Long, String) = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      h.update((r.toSeq.map(cell).mkString("\u001f") + "\n").getBytes("UTF-8"))
    }
    (cols, rows.length.toLong, h.digest().map("%02x".format(_)).mkString)
  }
}
