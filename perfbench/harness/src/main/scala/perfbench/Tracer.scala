package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds;
  * `parent` is -1 for a root. `op` and `pass` name the operation and the
  * pass (negative for set-up passes) the span belongs to. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      op: String, pass: Int, var start: Double, var end: Double,
                      attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** In-memory span recorder. Off, every method is a pass-through; on, it
  * registers a `SparkListener` (jobs, stages, task metrics) and a
  * `QueryExecutionListener` (planning phases, executed-plan walks) and
  * keeps every span until [[write]] dumps them as JSON lines. */
final class Tracer(on: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private val pendingPhases = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  private def now(): Double = System.currentTimeMillis().toDouble
  private def open(name: String, layer: String, parent: Option[Span], op: String,
                   pass: Int, start: Double): Span = {
    val s = Span(ids.getAndIncrement(), name, layer, parent.map(_.id).getOrElse(-1),
      op, pass, start, start)
    spans.put(s.id, s)
    s
  }

  def span[T](name: String, layer: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val p = stack.headOption
      val s = open(name, layer, p, if (op.nonEmpty) op else p.map(_.op).getOrElse(""),
        p.map(_.pass).getOrElse(0), now())
      stack = s :: stack
      try body finally { stack = stack.tail; s.end = now() }
    }

  /** A pass: the root span its ops hang under. */
  def pass[T](n: Int)(body: => T): T =
    if (!on) body
    else {
      val s = open("pass", "harness", None, "", n, now())
      stack = s :: stack
      try body finally { stack = stack.tail; s.end = now() }
    }

  private var sparkRef: SparkSession = _

  /** An operation; once it ends, the listener events it caused are
    * drained and its planning phases and plan counts recorded. */
  def op[T](id: String, pass: Int)(body: => T): T =
    if (!on) body
    else {
      val s = open("op", "harness", stack.headOption, id, pass, now())
      stack = s :: stack
      try body finally {
        stack = stack.tail; s.end = now()
        sparkRef.sparkContext.setLocalProperty("perfbench.span", null)
        drain(sparkRef)
        flushQe(s)
      }
    }

  /** Marks the jobs the current thread starts as children of the open span. */
  def tagJobs(spark: SparkSession): Unit =
    if (on) spark.sparkContext.setLocalProperty("perfbench.span",
      stack.headOption.map(_.id.toString).orNull)

  def drain(spark: SparkSession): Unit =
    if (on && spark != null) org.apache.spark.PerfbenchShim.drain(spark.sparkContext)

  /** Records the planning phases of a DataFrame the op built: its
    * analysis runs when the query function builds it, outside the write. */
  def phasesOf(qe: QueryExecution): Unit = if (on) pendingPhases.add(qe)

  private def flushQe(opSpan: Span): Unit = {
    val seen = mutable.Set[AnyRef]()
    def phases(qe: QueryExecution): Unit =
      if (seen.add(qe.tracker)) qe.tracker.phases.foreach { case (phase, ps) =>
        val s = open(phase, "operators", Some(opSpan), opSpan.op, opSpan.pass,
          ps.startTimeMs.toDouble)
        s.end = ps.endTimeMs.toDouble
      }
    Iterator.continually(pendingPhases.poll()).takeWhile(_ != null).foreach(phases)
    Iterator.continually(pendingQe.poll()).takeWhile(_ != null).foreach { qe =>
      phases(qe)
      PlanWalk.count(qe.executedPlan).foreach { case (k, v) =>
        opSpan.attrs(k) = opSpan.attrs.getOrElse(k, 0.0) + v }
    }
  }

  def attach(spark: SparkSession): Unit = if (on) {
    sparkRef = spark
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        pendingQe.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
          .flatMap(id => Option(spans.get(id.toInt)))
        val s = open("job", "operators", parent, parent.map(_.op).getOrElse(""),
          parent.map(_.pass).getOrElse(Tracer.Untimed), e.time.toDouble)
        jobSpan.put(e.jobId, s)
        e.stageInfos.foreach(si => stageSpan.put((si.stageId, si.attemptNumber()),
          open("stage", "operators", Some(s), s.op, s.pass, e.time.toDouble)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobSpan.get(e.jobId)).foreach(_.end = e.time.toDouble)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageSpan.get((si.stageId, si.attemptNumber()))).foreach { s =>
          si.submissionTime.foreach(t => s.start = t.toDouble)
          s.end = si.completionTime.map(_.toDouble).getOrElse(s.start)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get((e.stageId, e.stageAttemptId))).foreach { s =>
          val m = e.taskMetrics
          val info = e.taskInfo
          def add(k: String, v: Double): Unit = s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
          add("tasks", 1)
          if (m != null) {
            val records = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
              m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
            if (records > 0) add("busy_tasks", 1)
            add("run_s", m.executorRunTime / 1e3)
            add("cpu_s", m.executorCpuTime / 1e9)
            add("input_bytes", m.inputMetrics.bytesRead.toDouble)
            add("input_rows", m.inputMetrics.recordsRead.toDouble)
            add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
            add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
            add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
            add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
            val fetching =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
            val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - fetching
            add("scheduler_delay_s", math.max(0L, delay) / 1e3)
          }
        }
    })
  }

  /** Writes every span as one JSON object per line. */
  def write(path: Path): Unit = if (on) {
    val lines = spans.values().toArray(Array.empty[Span]).sortBy(_.id).map { s =>
      Harness.toJson(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op, "pass" -> s.pass, "start" -> s.start,
        "end" -> s.end, "attrs" -> s.attrs.toMap))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** The pass number of work outside the set-ups and the timed passes. */
  val Untimed: Int = -1000
}

/** Counts in an executed plan, looking through adaptive plans and query
  * stages: shuffle exchanges, broadcast exchanges and in-memory
  * (session-cache) scans. */
object PlanWalk {
  def count(root: SparkPlan): Map[String, Double] = {
    val c = mutable.Map("exchanges" -> 0.0, "broadcasts" -> 0.0, "cache_scans" -> 0.0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => c("exchanges") += 1
        case _: BroadcastExchangeLike => c("broadcasts") += 1
        case _: InMemoryTableScanExec => c("cache_scans") += 1
        case _ =>
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children ++ p.subqueries
      }
      kids.foreach(walk)
    }
    root match {
      case _: CommandResultExec => // its command ran under its own execution
      case p => walk(p)
    }
    c.toMap
  }
}
