package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{Bus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One clock for the whole run: milliseconds since the run began, from
  * `nanoTime` for our own spans and from epoch milliseconds for the
  * listener's job events. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - baseNs) / 1e6
  def fromEpoch(epochMs: Long): Double = (epochMs - baseEpochMs).toDouble
}

/** Spans recorded from the benchmark's own code, around each call into a
  * graft layer. Kept in memory and written out when the run ends. */
final class Spans(clock: Clock) {
  import Spans.Span
  val all = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  var on = false

  /** Runs `body` inside a span named `name`; while it runs, Spark jobs it
    * starts carry the span id as the job-local property `perfbench.span`
    * (Spark copies local properties into the threads it spawns). */
  def apply[T](sc: SparkContext, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(all.length, stack.headOption.getOrElse(-1), name,
        clock.now(), Double.NaN)
      all += s; stack.push(s.id)
      sc.setLocalProperty(Spans.Key, s.id.toString)
      try body
      finally {
        s.end = clock.now(); stack.pop()
        sc.setLocalProperty(Spans.Key, stack.headOption.map(_.toString).orNull)
      }
    }

  /** A span known only after the fact (a streaming micro-batch, a planning
    * phase reported by Catalyst's tracker). */
  def record(parent: Int, name: String, start: Double, end: Double): Int = {
    val s = Span(all.length, parent, name, start, end); all += s; s.id
  }

  def current: Int = stack.headOption.getOrElse(-1)

  def toJson: Seq[Map[String, Any]] = all.toSeq.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end))
}
object Spans {
  val Key = "perfbench.span"
  final case class Span(id: Int, parent: Int, name: String, start: Double,
                        var end: Double)
}

/** Spark's public listener APIs, attached only to traced passes: job and
  * task counters per job, Catalyst phase times per executed query, and
  * block-store writes of checkpointed RDDs. */
final class Trace(spark: SparkSession, clock: Clock)
    extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val pass: Int, val span: String,
                  val batch: String, val start: Double) {
    var end = Double.NaN
    var stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, spill, shuffleRead, shuffleWrite = 0L
    var readBytes, writeBytes = 0L
    def toJson: Map[String, Any] = Map("id" -> id, "pass" -> pass,
      "span" -> span, "batch" -> batch, "start" -> start, "end" -> end,
      "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "spill_bytes" -> spill, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "read_bytes" -> readBytes,
      "write_bytes" -> writeBytes)
  }
  private val sc = spark.sparkContext
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.Map.empty[Int, (Long, Long)] // pass -> (rdds, bytes)
  private val rdds = mutable.Set.empty[(Int, Int)]
  @volatile var pass = -1

  def attach(p: Int): Unit = {
    pass = p; sc.addSparkListener(this); spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    Bus.drain(sc); sc.removeSparkListener(this)
    spark.listenerManager.unregister(this); pass = -1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    val j = new Job(e.jobId, pass, prop(Spans.Key),
      prop("streaming.sql.batchId"), clock.fromEpoch(e.time))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = clock.fromEpoch(e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.readBytes += m.inputMetrics.bytesRead
        j.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
        val (n, bytes) = blocks.getOrElse(pass, (0L, 0L))
        val fresh = rdds.add((pass, rdd))
        blocks(pass) = (n + (if (fresh) 1 else 0), bytes + b.memSize + b.diskSize)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    queries += Trace.phases(qe) ++ Map("pass" -> pass, "func" -> funcName)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** A query planned by the benchmark itself (not through a Dataset
    * action, so the execution listener does not see it). */
  def addQuery(qe: QueryExecution): Unit = synchronized {
    queries += Trace.phases(qe) ++ Map("pass" -> pass, "func" -> "toRdd")
  }

  def toJson: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.values.map(_.toJson).toSeq,
      "queries" -> queries.toSeq,
      "checkpoints" -> blocks.toSeq.sortBy(_._1).map { case (p, (n, b)) =>
        Map("pass" -> p, "rdds" -> n, "bytes" -> b) })
  }
}

object Trace {
  def phases(qe: QueryExecution): Map[String, Any] = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }
}
