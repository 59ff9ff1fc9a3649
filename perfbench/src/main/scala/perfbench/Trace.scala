package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskFailedReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spark engine counters summed over the tasks of one span's jobs. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; bytesRead += o.bytesRead
    recordsRead += o.recordsRead; bytesWritten += o.bytesWritten
    recordsWritten += o.recordsWritten
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
    "scheduler_delay_s" -> schedDelayMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "bytes_read" -> bytesRead, "records_read" -> recordsRead,
    "bytes_written" -> bytesWritten, "records_written" -> recordsWritten)
}

/** Attributes task metrics to spans: every span runs its Spark jobs under
  * its own job group, so the group id on a job's properties names the span
  * its stages and tasks belong to. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Long, Counters]()

  private def counters(id: Long): Counters = bySpan.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Tracer.GroupPrefix)).foreach { gid =>
      val id = gid.stripPrefix(Tracer.GroupPrefix).toLong
      val c = counters(id)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageSpan.containsKey(e.stageId)) return
    val id = stageSpan.get(e.stageId)
    val c = counters(id)
    val m = e.taskMetrics
    val i = e.taskInfo
    c.synchronized {
      c.tasks += 1
      e.reason match {
        case Success => ()
        case _: TaskFailedReason => c.failedTasks += 1
        case _ => ()
      }
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
        // the scheduler-delay formula of Spark's own UI: wall time of the
        // task minus the parts the executor accounts for
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        c.schedDelayMs += math.max(0L, i.duration - overhead)
      }
    }
  }
}

final case class Span(id: Long, name: String, parent: Long, opId: String,
                      start: Double, end: Double, attrs: Map[String, Double]) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

/** Span recorder. With tracing off every call is a plain pass-through: no
  * job groups, no listener, no forcing. With tracing on, each span tags its
  * Spark jobs with a job group, and spans stay in memory until `dump`. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  val listener = new SpanListener

  def attach(spark: SparkSession): Unit =
    if (enabled) spark.sparkContext.addSparkListener(listener)

  def detach(spark: SparkSession): Unit =
    if (enabled) {
      org.apache.spark.graftglue.BusGlue.waitUntilEmpty(spark.sparkContext, 60000L)
      spark.sparkContext.removeSparkListener(listener)
    }

  /** Run `body` as span `name` of operation `opId`; `attrs` receives
    * counts measured at the boundary (rows, bytes, files). */
  def span[T](spark: SparkSession, name: String, opId: String)
             (body: mutable.Map[String, Double] => T): T = {
    val attrs = mutable.Map[String, Double]()
    if (!enabled) return body(attrs)
    val id = ids.incrementAndGet()
    val parents = stack.get
    val sc = spark.sparkContext
    stack.set((id, name) :: parents)
    sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
    val t0 = Proc.now()
    try body(attrs)
    finally {
      val t1 = Proc.now()
      stack.set(parents)
      parents.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(Tracer.GroupPrefix + pid, pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      done.add(Span(id, name, parents.headOption.map(_._1).getOrElse(0L), opId, t0, t1, attrs.toMap))
    }
  }

  private val held = new ThreadLocal[List[DataFrame]] {
    override def initialValue(): List[DataFrame] = Nil
  }

  /** In a traced run, materialize `df` at a layer boundary (persisted, so
    * the next layer starts from the forced result) and record its row
    * count under `key`; untraced runs return `df` untouched. */
  def boundary(df: DataFrame, attrs: mutable.Map[String, Double],
               key: String = "rows"): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist()
      held.set(p :: held.get)
      attrs(key) = Frames.force(p).toDouble
      p
    }

  /** Drop the boundary results this thread persisted (end of an operation). */
  def release(): Unit = {
    held.get.foreach(_.unpersist(false))
    held.set(Nil)
  }

  /** Collect a query's result. Traced, planning (building the executed
    * plan) and execution are separate spans of the operation. */
  def collect(spark: SparkSession, df: DataFrame, opId: String): Array[Row] = {
    if (enabled) span(spark, "queries.plan", opId) { a =>
      val t0 = Proc.now()
      df.queryExecution.executedPlan
      a("plan_ms") = (Proc.now() - t0) * 1e3
    }
    span(spark, "queries.exec", opId) { a =>
      val rows = df.collect()
      a("rows_returned") = rows.length.toDouble
      rows
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  /** Time of the spans of operation `opId` marked `repeated`: they time
    * work that a later span of the operation does again, so a traced
    * operation's time less this is comparable with an untraced one. */
  def repeatedSeconds(opId: String): Double =
    done.asScala.filter(s => s.opId == opId && s.attrs.contains("repeated")).map(_.dur).sum

  def counters(id: Long): Counters = Option(listener.bySpan.get(id)).getOrElse(new Counters)

  /** Sum of the counters of every span named `name` (or under prefix). */
  def total(pred: Span => Boolean): Counters = {
    val c = new Counters
    spans.filter(pred).foreach(s => c.add(counters(s.id)))
    c
  }

  /** Self time of each span: its duration minus the time its children
    * cover (children of one span run one after another). */
  def selfTimes: Map[Long, Double] = {
    val all = spans
    val childSum = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    all.map(s => s.id -> math.max(0.0, s.dur - childSum.getOrElse(s.id, 0.0))).toMap
  }

  def dumpJson(): String = {
    val self = selfTimes
    val arr = new java.util.ArrayList[Any]()
    spans.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
      m.put("op", s.opId); m.put("start", s.start); m.put("end", s.end)
      m.put("self_s", self(s.id))
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      counters(s.id).toMap.foreach { case (k, v) => m.put("spark." + k, v) }
      arr.add(m)
    }
    Json.mapper.writeValueAsString(arr)
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}
