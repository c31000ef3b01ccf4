package pipebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One traced interval: run → model or query call → action → job, plus
  * the benchmark's direct public calls. Times are epoch ms. */
final case class Span(id: Long, parent: Long, run: String, name: String,
    kind: String, startMs: Double, endMs: Double)

/** Task metrics summed over the tasks of the traced window. `shuffleIoMs`
  * is shuffle write time plus shuffle fetch wait; `runMs` is executor run
  * time. */
final case class TaskTotals(stages: Long = 0, tasks: Long = 0, inputBytes: Long = 0,
    inputRecords: Long = 0, outputRecords: Long = 0, shuffleWrite: Long = 0,
    shuffleRead: Long = 0, spill: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleIoMs: Double = 0, runMs: Long = 0) {
  def -(o: TaskTotals): TaskTotals = TaskTotals(stages - o.stages, tasks - o.tasks,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    outputRecords - o.outputRecords, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleIoMs - o.shuffleIoMs, runMs - o.runMs)
}

/** A Spark action as the listeners saw it: the SQL execution's interval,
  * its function name, planning phases and the paths it read or wrote. */
final case class Action(execId: Long, rootId: Long, func: String,
    startMs: Double, endMs: Double, phasesMs: Map[String, Double],
    outPaths: Seq[String], inPaths: Seq[String])

final case class Job(id: Int, execId: Option[Long], startMs: Double,
    endMs: Double)

/** The benchmark's listeners: a SparkListener (jobs, stages, tasks, SQL
  * execution intervals) and a QueryExecutionListener (planning phases,
  * read/written paths). Registered only while a traced iteration runs;
  * records stay in memory until [[take]]. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val execStart = mutable.Map[Long, (Long, Double)]() // id -> (root, start)
  private val execEnd = mutable.Map[Long, Double]()
  private val execQe = mutable.Map[Long, QueryExecution]()
  // keyed by identity: the listener sees the same QueryExecution object
  private val qes = new java.util.IdentityHashMap[QueryExecution,
    (String, Map[String, Double], Seq[String], Seq[String])]()
  private val jobs = mutable.Map[Int, Job]()
  private var totals = TaskTotals()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = Job(e.jobId, exec, e.time.toDouble, e.time.toDouble)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      totals = if (m == null) totals.copy(tasks = totals.tasks + 1) else TaskTotals(
        totals.stages, totals.tasks + 1,
        totals.inputBytes + m.inputMetrics.bytesRead,
        totals.inputRecords + m.inputMetrics.recordsRead,
        totals.outputRecords + m.outputMetrics.recordsWritten,
        totals.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        totals.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        totals.spill + m.diskBytesSpilled,
        totals.cpuNs + m.executorCpuTime,
        totals.gcMs + m.jvmGCTime,
        totals.shuffleIoMs + m.shuffleWriteMetrics.writeTime / 1e6 +
          m.shuffleReadMetrics.fetchWaitTime,
        totals.runMs + m.executorRunTime)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { totals = totals.copy(stages = totals.stages + 1) }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execStart(s.executionId) =
          (s.rootExecutionId.getOrElse(s.executionId), s.time.toDouble)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        execEnd(s.executionId) = s.time.toDouble
        org.apache.spark.sql.pipebench.SqlEvents.queryExecution(s)
          .foreach(execQe(s.executionId) = _)
      }
      case _ =>
    }
  }

  private def paths(qe: QueryExecution): (Seq[String], Seq[String]) = {
    val plans = Seq(qe.logical, qe.analyzed)
    val out = plans.flatMap(_.collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
    }).distinct
    val in = plans.flatMap(_.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten).distinct
    (out, in)
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val (out, in) = try paths(qe) catch { case _: Exception => (Nil, Nil) }
      lock.synchronized { qes.put(qe, (func, phases, out, in)) }
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
      record(func, qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Delivers every posted event, then unregisters both listeners. */
  def stop(): Unit = {
    org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Task totals so far (after draining the bus). */
  def taskTotals(): TaskTotals = {
    org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
    lock.synchronized(totals)
  }

  /** Actions and jobs recorded since the last take, then forgets them. */
  def take(): (Seq[Action], Seq[Job]) = lock.synchronized {
    val actions = execStart.toSeq.flatMap { case (id, (root, st)) =>
      execEnd.get(id).map { end =>
        val (func, ph, out, in) = execQe.get(id).flatMap(q => Option(qes.get(q)))
          .getOrElse(("", Map.empty[String, Double], Nil, Nil))
        Action(id, root, func, st, end, ph, out, in)
      }
    }.sortBy(_.startMs)
    val js = jobs.values.toSeq.sortBy(_.startMs)
    execStart.clear(); execEnd.clear(); execQe.clear(); qes.clear(); jobs.clear()
    totals = TaskTotals()
    (actions, js)
  }
}

/** Interval arithmetic for self times. */
object Intervals {
  /** Length (ms) of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }
}

/** Spans of every traced iteration, kept in memory and written once. */
final class SpanLog {
  private val spans = mutable.ArrayBuffer[Span]()
  private var next = 1L
  def add(parent: Long, run: String, name: String, kind: String,
      startMs: Double, endMs: Double): Long = {
    val id = next; next += 1
    spans += Span(id, parent, run, name, kind, startMs, endMs)
    id
  }
  def size: Int = spans.size
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":${q(s.run)},"name":${q(s.name)},""" +
        s""""kind":${q(s.kind)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(path, body)
  }
}
