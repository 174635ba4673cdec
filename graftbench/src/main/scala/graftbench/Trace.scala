package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are always kept: they are how the benchmark times the calls
  * it makes into each layer. The Spark, query-execution and streaming
  * listeners are registered only for a traced run (`attach`). Every
  * record carries epoch-millisecond bounds, so a counter can be
  * summed over the timed windows and jobs can be billed to the span
  * or layer they ran under. Nothing is written until the run ends.
  */
final class Trace {
  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double)
  final case class Job(id: Int, startMs: Long, var endMs: Long, site: String, stack: String)
  final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                           inBytes: Long, records: Long, shReadBytes: Long,
                           shWriteBytes: Long, shRecords: Long, spillBytes: Long,
                           outBytes: Long)
  final case class Planning(atMs: Long, seconds: Double)
  final case class Batch(atMs: Long, durations: Map[String, Long])

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stageOfJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id -> (short, long) call site of the action that started it. */
  val execSite = mutable.HashMap.empty[Long, (String, String)]
  val stagesDone = mutable.ArrayBuffer.empty[Int]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val planning = mutable.ArrayBuffer.empty[Planning]
  val batches = mutable.ArrayBuffer.empty[Batch]
  var attached = false

  def span[T](name: String)(f: => T): T = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      synchronized { spans += Span(name, s, System.currentTimeMillis(), secs) }
    }
  }

  /** The first frame of a job's call stack that belongs to graft. */
  private def graftFrame(stack: String): String =
    stack.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .getOrElse("")

  private val sparkListener = new SparkListener {
    // Jobs of one SQL execution often run on helper threads whose own
    // call site names no graft frame; the execution's start event carries
    // the call site of the action that began it, used in their place.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { execSite(s.executionId) = (s.description, s.details) }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val last = e.stageInfos.maxBy(_.stageId)
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
      val (site, stack) =
        if (graftFrame(last.details).nonEmpty) (last.name, last.details)
        else exec.getOrElse((last.name, last.details))
      jobs += Job(e.jobId, e.time, -1L, site, stack)
      e.stageIds.foreach(s => stageOfJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stagesDone += e.stageInfo.stageId
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead,
          math.max(m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten),
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      val at = phases.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      Trace.this.synchronized { planning += Planning(at, ms / 1e3) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Trace.this.synchronized {
          batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, d)
        }
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    if (attached) org.apache.spark.GraftbenchBus.drain(spark.sparkContext)

  // -- aggregation over the timed windows -------------------------------

  private def in(ws: Seq[(Long, Long)], t: Long) = ws.exists { case (a, b) => t >= a && t <= b }

  def jobsIn(ws: Seq[(Long, Long)]): Seq[Job] = jobs.filter(j => in(ws, j.startMs)).toSeq
  def tasksIn(ws: Seq[(Long, Long)]): Seq[TaskRec] = {
    val ids = jobsIn(ws).map(_.id).toSet
    tasks.filter(t => stageOfJob.get(t.stage).exists(ids)).toSeq
  }
  def stagesIn(ws: Seq[(Long, Long)]): Int = {
    val ids = jobsIn(ws).map(_.id).toSet
    stagesDone.count(s => stageOfJob.get(s).exists(ids))
  }
  def spansIn(ws: Seq[(Long, Long)], name: String): Seq[Span] =
    spans.filter(s => s.name == name && in(ws, s.startMs)).toSeq

  def jobSeconds(js: Seq[Job]): Double =
    js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3

  /** Wall time in the windows during which no Spark job was running. */
  def driverGap(ws: Seq[(Long, Long)]): Double = ws.map { case (a, b) =>
    val iv = jobs.filter(j => j.endMs >= a && j.startMs <= b)
      .map(j => (math.max(a, j.startMs), math.min(b, j.endMs))).sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    (b - a - busy) / 1e3
  }.sum

  /** Bytes the job's tasks wrote to files. */
  def outputBytes(j: Job): Long =
    tasks.filter(t => stageOfJob.get(t.stage).contains(j.id)).map(_.outBytes).sum

  /** Layer of a job: the graft class its first graft frame is in. */
  def frameOf(j: Job): String = graftFrame(j.stack)

  /** max / mean records per task of the stages whose jobs match. */
  def taskSkew(js: Seq[Job]): Double = {
    val ids = js.map(_.id).toSet
    val byStage = tasks.filter(t => stageOfJob.get(t.stage).exists(ids)).groupBy(_.stage)
    val skews = byStage.values.filter(_.size > 1).map { ts =>
      val r = ts.map(_.records.toDouble)
      val mean = r.sum / r.size
      if (mean > 0) r.max / mean else 1.0
    }
    if (skews.isEmpty) 0.0 else skews.max
  }

  def planningIn(ws: Seq[(Long, Long)]): Double =
    planning.filter(p => in(ws, p.atMs)).map(_.seconds).sum

  def batchesIn(ws: Seq[(Long, Long)]): Seq[Batch] = batches.filter(b => in(ws, b.atMs)).toSeq

  /** Spans and jobs as JSON, written when the run ends. */
  def toJson: String = synchronized {
    import Main.jstr
    val sp = spans.map(s =>
      s"""{"name":${jstr(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"s":${s.seconds}}""")
    val jb = jobs.map(j =>
      s"""{"id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"site":${jstr(j.site)},""" +
        s""""frame":${jstr(frameOf(j))}}""")
    s"""{"spans":${sp.mkString("[", ",", "]")},"jobs":${jb.mkString("[", ",", "]")}}"""
  }
}
