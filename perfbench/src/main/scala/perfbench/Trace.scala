package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: a query execution (build call plus action), an
  * ingest tick, or a read-after-write refresh. Listener counters land in
  * `counters` while the operation is the collector's current target. */
final class Op(val id: String, val name: String, val phase: String,
               val module: String) {
  var startNs = 0L
  var endNs = 0L
  var buildS = 0.0
  var actionS = 0.0
  var rows = 0L
  var fingerprint = ""
  var status = "ok"
  var error = ""
  var stageBuilds: Seq[String] = Nil
  var codegenNs = 0L
  var codegenCompiles = 0L
  /** (start, end) of every Spark job the operation ran, in epoch ms. */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def wallS: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = synchronized { counters(key) += v }
  def max(key: String, v: Double): Unit =
    synchronized { counters(key) = math.max(counters(key), v) }
  def apply(key: String): Double = synchronized { counters(key) }
}

/** A named interval on the benchmark's own timeline (System.nanoTime). */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long)

/** SparkListener + QueryExecutionListener + StreamingQueryListener that
  * the traced run registers on the session it creates. Events are
  * credited to the operation that was current when the bus delivered
  * them; the benchmark drains the bus at the end of every operation, so
  * each operation's events are credited before the next one starts. */
final class Collector extends SparkListener with QueryExecutionListener {
  @volatile var current: Op = _
  val background = new Op("background", "background", "none", "none")
  private val stageOp = mutable.Map.empty[Int, Op]
  private val jobStart = mutable.Map.empty[Int, (Op, Long)]
  /** StreamingQuery runId -> role ("upsert" or "join"). */
  val streamRoles = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def target: Op = { val c = current; if (c != null) c else background }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = target
    jobStart(e.jobId) = (op, e.time)
    e.stageIds.foreach(stageOp(_) = op)
    op.add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      op.synchronized { op.jobs += ((t0, e.time)) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = synchronized(stageOp.getOrElse(e.stageInfo.stageId, target))
    op.add("scheduler.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = synchronized(stageOp.getOrElse(e.stageId, target))
    val info = e.taskInfo
    val m = e.taskMetrics
    op.add("scheduler.tasks", 1)
    if (info != null && m != null) {
      op.add("task.duration_ms", info.duration.toDouble)
      op.add("task.run_ms", m.executorRunTime.toDouble)
      op.add("task.cpu_ns", m.executorCpuTime.toDouble)
      op.add("task.gc_ms", m.jvmGCTime.toDouble)
      op.add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
      op.add("sources.rows_read", m.inputMetrics.recordsRead.toDouble)
      op.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      op.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      op.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      op.add("shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
      info.accumulables.foreach { a =>
        if (a.name.contains("scan time")) a.update.foreach {
          case v: Long => op.add("sources.scan_ms", v.toDouble)
          case _ =>
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val op = target
    qe.tracker.phases.foreach { case (phase, s) =>
      op.add(s"catalyst.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
    }
    op.add("shuffle.exchanges", Collector.exchanges(qe).toDouble)
    val stageWrite = Seq(qe.logical, qe.commandExecuted).exists(_.find {
      case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString.contains("/graft_stage/")
      case _ => false
    }.isDefined)
    if (stageWrite) op.add("graft.stage_build_ns", durationNs.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val op = target
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      op.add("streaming.trigger_ms", ms("triggerExecution"))
      op.add("streaming.plan_ms", ms("queryPlanning"))
      op.add("streaming.offsets_ms",
        ms("latestOffset") + ms("walCommit") + ms("commitOffsets"))
      op.add("streaming.input_rows", p.numInputRows.toDouble)
      if (streamRoles.get(p.runId.toString) == "upsert")
        op.add("load.merge_ms", ms("addBatch"))
      p.stateOperators.foreach { s =>
        op.max("streaming.state_rows", s.numRowsTotal.toDouble)
        op.max("streaming.state_bytes", s.memoryUsedBytes.toDouble)
      }
    }
  }
}

object Collector extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in the executed plan, subqueries and the final
    * adaptive plan included. */
  def exchanges(qe: QueryExecution): Int =
    try collectWithSubqueries(qe.executedPlan) {
      case s: ShuffleExchangeLike => s
    }.size
    catch { case _: Throwable => 0 }
}

object Spans {
  /** Epoch-ms clock minus the nanoTime clock, to place listener times. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs
}

/** Nested spans on the benchmark's timeline plus the operation they
  * belong to. Kept in memory and written out at the end of the run. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  var op = ""

  def apply[T](name: String)(f: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      stack.pop()
      all += Span(id, parent, op, name, t0, System.nanoTime())
    }
  }

  /** A span whose interval was measured elsewhere (a listener's job). */
  def record(name: String, parentName: String, startNs: Long, endNs: Long): Unit = {
    val parent = all.reverseIterator.find(s => s.op == op && s.name == parentName)
      .map(_.id).getOrElse(-1)
    all += Span(nextId, parent, op, name, startNs, endNs)
    nextId += 1
  }
}
