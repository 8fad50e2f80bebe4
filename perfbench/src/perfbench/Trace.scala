package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: `name` is the layer, `op` the
  * operation id shared by every span of one operation, `parent` the id of
  * the enclosing span (0 for a root). */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long)

/** Records spans in memory around the benchmark's calls into graft. A
  * span's parent is the innermost span still open on the same thread. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def apply[T](name: String, op: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.get.headOption.getOrElse(0)
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      synchronized { done += Span(id, parent, name, op, t0, t1) }
    }
  }

  /** Adds a span measured elsewhere (a streaming trigger, say). */
  def add(name: String, op: String, parent: Int, startNs: Long, endNs: Long): Unit =
    synchronized {
      nextId += 1
      done += Span(nextId, parent, name, op, startNs, endNs)
    }

  def all: Seq[Span] = synchronized(done.toList)

  /** Id of the innermost span open on this thread (0 when none). */
  def current: Int = open.get.headOption.getOrElse(0)

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by span name. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines :+ "").mkString("\n").getBytes("UTF-8"))
  }
}

/** Engine counters for the traced run, from Spark's listener bus. Stage
  * executor time is also split by call site (`site.<File>.run_s`): the
  * innermost graft frame of the action that ran the stage, taken from the
  * SQL execution's call stack (AQE submits most stages from its own
  * threads, whose stage names say nothing) or else from the stage's own. */
final class EngineListener extends SparkListener {
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageShuffle = mutable.Map.empty[(Int, Int), Long]
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val graftFrame = """graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r
  private val execSite = mutable.Map.empty[Long, String]
  private val stageSite = mutable.Map.empty[Int, String]

  private def add(k: String, v: Double): Unit = counts(k) = counts(k) + v

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      graftFrame.findFirstMatchIn(s.details).foreach(m => execSite(s.executionId) = m.group(1))
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .foreach(site => e.stageIds.foreach(stageSite(_) = site))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    add("spark.tasks", 1)
    if (!e.taskInfo.successful) add("spark.failed_tasks", 1)
    taskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      add("spark.run_s", m.executorRunTime / 1e3)
      add("spark.cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      stageShuffle(key) = stageShuffle.getOrElse(key, 0L) + m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    add("spark.stages", 1)
    if (stageShuffle.getOrElse(key, 0L) > 0) add("spark.shuffle_stages", 1)
    val ms = taskMs.remove(key).getOrElse(mutable.ArrayBuffer.empty).sorted
    if (ms.size >= 2) {
      val med = ms(ms.size / 2)
      skews += ms.last.toDouble / math.max(med, 1L)
    }
    stageShuffle.remove(key)
    val runS = info.taskMetrics match {
      case null => 0.0
      case tm => tm.executorRunTime / 1e3
    }
    stageSite.remove(info.stageId)
      .orElse(graftFrame.findFirstMatchIn(info.details).map(_.group(1)))
      .foreach(site => add(s"site.$site.run_s", runS))
  }

  /** Bytes of RDD blocks stored (checkpoint or persist), counted as
    * they are put. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      add("mat.stored_bytes", (b.memSize + b.diskSize).toDouble)
  }

  def snapshot: Map[String, Double] = synchronized {
    val skew =
      if (skews.isEmpty) 0.0 else skews.sorted.apply(skews.size / 2)
    counts.toMap + ("spark.task_skew" -> skew)
  }

  /** Counters accumulated since snapshot `before`; the task skew is the
    * median over all stages so far. */
  def since(before: Map[String, Double]): Map[String, Double] = {
    val now = snapshot
    (now.keySet ++ before.keySet).map { k =>
      k -> (now.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))
    }.toMap + ("spark.task_skew" -> now("spark.task_skew"))
  }
}

/** Dataset actions (driver-side collects included) seen by the session. */
final class SqlListener extends QueryExecutionListener {
  @volatile var actions = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { actions += 1 }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { actions += 1 }
}

/** Micro-batch progress of every streaming query, kept for the CDC
  * metrics: file completion times need each batch's start and commit time. */
final class ProgressListener extends StreamingQueryListener {
  final case class Batch(query: java.util.UUID, batchId: Long, startMs: Long,
      durations: Map[String, Long], inputRows: Long) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized { batches += Batch(p.id, p.batchId, start, d, p.numInputRows) }
  }

  def all: Seq[Batch] = synchronized(batches.toList)
}
