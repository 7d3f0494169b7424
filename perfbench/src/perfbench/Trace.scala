package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call from the benchmark into a layer. Times are
  * epoch microseconds, so they line up with Catalyst's phase times. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startUs: Long, endUs: Long, gcMs: Long, codegen: Long)

/** Per-span Spark counters, summed over every task of every job the
  * span submitted. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRecords, peakExecMem = 0L
}

/** Spans recorded by the benchmark's own code around each call into a
  * layer, plus the Spark and Catalyst listeners that attach job, stage,
  * task and planning-phase figures to them. Everything stays in memory
  * and is written out once, at the end of the run.
  *
  * A span marks the jobs it submits with a local property, so the
  * [[SparkListener]] can key every task to the span that caused it.
  * Catalyst phases carry wall-clock times; they are matched to spans by
  * time (calls run one at a time, on one thread). */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val clock0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  @volatile var enabled = false

  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[Int, Counters]()
  /** (phase, startUs, endUs) from `QueryExecution.tracker`. */
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private var stack = List(-1)
  private var nextId = 0
  private val stageSpan = mutable.Map[Int, Int]()

  def nowUs: Long = clock0Us + (System.nanoTime() - nano0) / 1000L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def codegen: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` inside a span named `name` of operation `op`. A no-op
    * wrapper while tracing is disabled. */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val prevProp = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      val (g0, c0, t0) = (gcMs, codegen, nowUs)
      try body
      finally {
        val t1 = nowUs
        spans.synchronized {
          spans += Span(id, parent, name, op, t0, t1, gcMs - g0, codegen - c0)
        }
        sc.setLocalProperty(Prop, prevProp)
        stack = stack.tail
      }
    }

  private def countersOf(span: Int): Counters =
    counters.synchronized(counters.getOrElseUpdate(span, new Counters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      span.foreach { s =>
        val id = s.toInt
        countersOf(id).synchronized(countersOf(id).jobs += 1)
        stageSpan.synchronized(e.stageIds.foreach(stageSpan(_) = id))
      }
    }
    private def spanOfStage(stage: Int): Option[Int] =
      stageSpan.synchronized(stageSpan.get(stage))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      spanOfStage(e.stageInfo.stageId).foreach { id =>
        val c = countersOf(id)
        c.synchronized(c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- spanOfStage(e.stageId); m <- Option(e.taskMetrics)) {
        val c = countersOf(id)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      if (enabled) qe.tracker.phases.foreach { case (name, p) =>
        phases.synchronized(phases += ((name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)))
      }
  }

  def register(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def toJson: Json.V = Json.obj(
    "spans" -> Json.arr(spans.toSeq.map(s => Json.obj(
      "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
      "name" -> Json.str(s.name), "op" -> Json.num(s.op),
      "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs),
      "gc_ms" -> Json.num(s.gcMs), "codegen" -> Json.num(s.codegen)))),
    "counters" -> Json.obj(counters.toSeq.sortBy(_._1).map { case (id, c) =>
      id.toString -> Json.obj(
        "jobs" -> Json.num(c.jobs), "stages" -> Json.num(c.stages),
        "tasks" -> Json.num(c.tasks), "run_ms" -> Json.num(c.runMs),
        "shuffle_write" -> Json.num(c.shuffleWrite),
        "shuffle_read" -> Json.num(c.shuffleRead),
        "spill" -> Json.num(c.spill), "input_bytes" -> Json.num(c.inputBytes),
        "input_records" -> Json.num(c.inputRecords),
        "peak_exec_mem" -> Json.num(c.peakExecMem))
    }: _*),
    "phases" -> Json.arr(phases.toSeq.map { case (n, s, e) =>
      Json.obj("name" -> Json.str(n), "start_us" -> Json.num(s),
        "end_us" -> Json.num(e))
    }))
}

/** Just enough JSON to write the run record. */
object Json {
  sealed trait V { def render: String }
  private final case class Raw(render: String) extends V
  def num(x: Double): V =
    if (x.isNaN || x.isInfinite) Raw("null") else Raw(java.math.BigDecimal.valueOf(x).toPlainString)
  def num(x: Long): V = Raw(x.toString)
  def bool(b: Boolean): V = Raw(b.toString)
  def str(s: String): V = Raw {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
  def arr(xs: Seq[V]): V = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def obj(kv: (String, V)*): V =
    Raw(kv.map { case (k, v) => str(k).render + ":" + v.render }.mkString("{", ",", "}"))
}
