package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-request execution counters. The benchmark tags each call into the
 * engine with the local properties `perfbench.req` and `perfbench.step`;
 * this listener charges every job, stage and task to that tag. */
final class ExecCounters extends SparkListener {
  import ExecCounters._

  private val stageTag = new ConcurrentHashMap[Int, (String, String)]
  private val accs = mutable.Map.empty[(String, String), Acc]
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def acc(tag: (String, String)): Acc = accs.synchronized(accs.getOrElseUpdate(tag, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("untagged")
    val tag = (prop(ReqKey), prop(StepKey))
    e.stageIds.foreach(s => stageTag.put(s, tag))
    val a = acc(tag)
    a.synchronized(a.jobs += 1)
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val a = acc(tag)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (tag <- Option(stageTag.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(tag)
      a.synchronized {
        a.tasks += 1
        a.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }

  /** Waits until the listener bus has delivered every job end, so the
   * counters are complete; gives up after `timeoutMs`. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    var quiet = 0
    var last = -1L
    while (quiet < 3 && System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      val now = ended.get
      if (now == started.get && now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  /** Counters per (request, step). */
  def snapshot(): Seq[Map[String, Any]] =
    accs.synchronized(accs.toSeq).map { case ((req, step), a) =>
      a.synchronized(Map("req" -> req, "step" -> step, "jobs" -> a.jobs, "stages" -> a.stages,
        "tasks" -> a.tasks, "shuffle_read_bytes" -> a.shuffleRead,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
        "executor_cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs))
    }
}

object ExecCounters {
  val ReqKey = "perfbench.req"
  val StepKey = "perfbench.step"

  final class Acc {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs, gcMs = 0L
  }

  def tag(sc: SparkContext, req: String, step: String): Unit = {
    sc.setLocalProperty(ReqKey, req)
    sc.setLocalProperty(StepKey, step)
  }
}

/** Every micro-batch's progress, kept per run id: unlike
 * `StreamingQuery.recentProgress` it never drops old batches. */
final class BatchLog extends StreamingQueryListener {
  import BatchLog._

  private val batches = new ConcurrentHashMap[(String, Long), Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) {
      val src = p.sources.headOption
      def off(s: String): Long = Option(s).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
      batches.put((p.runId.toString, p.batchId), Batch(p.batchId, d, p.numInputRows,
        src.map(s => off(s.startOffset)).getOrElse(-1L), src.map(s => off(s.endOffset)).getOrElse(-1L)))
    }
  }

  /** The batches of one run, waiting up to `timeoutMs` for `ids` to arrive. */
  def of(runId: String, ids: Set[Long] = Set.empty, timeoutMs: Long = 10000): Seq[Batch] = {
    val deadline = System.currentTimeMillis + timeoutMs
    def got = batches.asScala.collect { case ((r, _), b) if r == runId => b }.toSeq.sortBy(_.id)
    while (!ids.subsetOf(got.map(_.id).toSet) && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    got
  }
}

object BatchLog {
  /** One micro-batch: `start`/`end` are MemoryStream offsets, so the batch
   * holds the chunks whose offsets lie in (start, end]. */
  final case class Batch(id: Long, durations: Map[String, Long], rows: Long,
      start: Long, end: Long)
}
