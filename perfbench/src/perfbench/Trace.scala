package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run → pass → op → build/plan/exec, with Spark
  * jobs, stages and query actions hung under the op that started them.
  * Times are epoch milliseconds; every span carries the run id. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Long, end: Long) {
  def json(run: String): String =
    s"""{"run":"$run","id":$id,"parent":$parent,"layer":"$layer","name":"$name",""" +
      s""""start":$start,"end":$end}"""
}

/** Stage totals the per-layer metrics are built from. */
final case class StageStats(tasks: Int, taskMillis: Seq[Long], runMillis: Long, cpuNanos: Long,
                            shuffleRead: Long, shuffleWrite: Long, spill: Long,
                            recordsIn: Long, failedTasks: Int)

/** In-memory span recorder plus the Spark, SQL and streaming listeners
  * that feed it. Spans are kept in memory and written out at the end. */
final class Trace(spark: SparkSession, val runId: String) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Long)]
  private var nextId = 1
  private val lock = new Object

  private val SpanKey = "perfbench.span"

  /** Spans that lie inside a pass. Only jobs submitted under one of them
    * are counted, so the benchmark's own checking between passes is not. */
  private val inPass = mutable.Set.empty[Int]

  /** Opens a span under the innermost open one, runs `f`, closes it.
    * Jobs submitted meanwhile are hung under it via a local property. */
  def span[T](layer: String, name: String)(f: => T): T = {
    val id = fresh()
    val start = System.currentTimeMillis()
    val outer = open.headOption.map(_._1).getOrElse(0)
    if (layer == "pass" || lock.synchronized(inPass(outer))) lock.synchronized(inPass += id)
    open.push((id, layer, name, start))
    sc.setLocalProperty(SpanKey, id.toString)
    try f
    finally {
      open.pop()
      val parent = open.headOption.map(_._1).getOrElse(0)
      sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
      add(id, parent, layer, name, start, System.currentTimeMillis())
    }
  }

  private def fresh(): Int = lock.synchronized { val i = nextId; nextId += 1; i }

  private def add(id: Int, parent: Int, layer: String, name: String, s: Long, e: Long): Unit =
    lock.synchronized { spans += Span(id, parent, layer, name, s, e) }

  // ---- listener state: job → (its span, the span that submitted it)
  private val jobSpan = mutable.Map.empty[Int, (Int, Int, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val failed = mutable.Map.empty[Int, Int].withDefaultValue(0)
  val stages = mutable.ArrayBuffer.empty[StageStats]
  var jobs = 0
  var streamBatches = 0
  val streamBatchMillis = mutable.ArrayBuffer.empty[Long]
  var actions = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(0)
      if (inPass(parent)) {
        val id = fresh()
        jobSpan(e.jobId) = (id, parent, e.time)
        e.stageIds.foreach(s => stageJob(s) = id)
        jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        spans += Span(id, parent, "job", s"job-${e.jobId}", start, e.time)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (stageJob.contains(e.stageId)) {
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        if (!e.taskInfo.successful) failed(e.stageId) += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stageJob.remove(i.stageId).foreach { job =>
        spans += Span(fresh(), job, "stage", s"stage-${i.stageId}",
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
        if (m != null) stages += StageStats(
          tasks = i.numTasks,
          taskMillis = taskTimes.remove(i.stageId).map(_.toSeq).getOrElse(Nil),
          runMillis = m.executorRunTime,
          cpuNanos = m.executorCpuTime,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          recordsIn = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          failedTasks = failed.remove(i.stageId).getOrElse(0))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized { actions += 1 }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lock.synchronized { actions += 1 }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        streamBatches += 1
        streamBatchMillis += e.progress.batchDuration
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def all: Seq[Span] = lock.synchronized(spans.toSeq)

  /** Time each op spent with no Spark job running, in seconds. */
  def gapSeconds: Double = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    def opOf(id: Int): Int = byId.get(id) match {
      case Some(s) if s.layer == "op" => s.id
      case Some(s) => opOf(s.parent)
      case None => 0
    }
    val jobsByOp = ss.filter(_.layer == "job").groupBy(j => opOf(j.parent))
    ss.filter(_.layer == "op").map { op =>
      val busy = Trace.covered(jobsByOp.getOrElse(op.id, Nil).map(j =>
        (math.max(j.start, op.start), math.min(j.end, op.end))))
      (op.end - op.start - busy) / 1000.0
    }.sum
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer, in seconds. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Trace.covered(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.layer -> (s.end - s.start - covered) / 1000.0
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, all.map(_.json(runId)).mkString("", "\n", "\n"))
  }
}

object Trace {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
