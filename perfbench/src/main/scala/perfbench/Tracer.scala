package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the traced run. `parent` is the id of the
  * enclosing span (-1 for an operation's root span); every span of one
  * operation carries that operation's id. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Work counters summed over the jobs, stages and tasks of one phase of
  * one operation, as the scheduler reported them. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var schedWaitMs = 0.0
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var scanBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; schedWaitMs += o.schedWaitMs
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    scanBytes += o.scanBytes
  }
}

/** Records spans on the client thread and counts scheduler work with a
  * SparkListener and a StreamingQueryListener. Jobs are attributed to
  * the operation and phase named in the local properties the client
  * thread set when it submitted them (streaming threads inherit them
  * from the thread that started the query). Nothing is written until
  * [[flushAndCollect]]: spans stay in memory for the whole run. */
final class Tracer(sc: SparkContext) {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long)]
  private var nextSpan = 0
  private var currentOp = -1

  private final class StageAcc(val op: Int, val phase: String,
      val job: Int) {
    var submitted = -1L
    var firstLaunch = Long.MaxValue
    var completed = -1L
    val work = new Work
  }
  private final class JobAcc(val op: Int, val phase: String,
      val start: Long) { @volatile var end = -1L }

  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  /** Streaming progress per op: (batches, sum durationMs by key). */
  private val progress = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).getOrElse(-1)
      val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("none")
      jobs.put(e.jobId, new JobAcc(op, phase, e.time))
      e.stageIds.foreach(s => stages.putIfAbsent(s, new StageAcc(op, phase, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(s =>
        s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(s =>
        s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stages.get(e.stageId)).foreach(s => s.synchronized {
        s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
      })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach(s => s.synchronized {
        val w = s.work
        w.tasks += 1
        if (e.reason != Success) w.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          w.runMs += m.executorRunTime
          w.cpuMs += m.executorCpuTime / 1e6
          w.gcMs += m.jvmGCTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.scanBytes += m.inputMetrics.bytesRead
        }
      })
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val op = Option(e.progress.name).flatMap(n => scala.util.Try(
        n.stripPrefix("perfbench-op-").toInt).toOption).getOrElse(-1)
      val m = progress.computeIfAbsent(op, _ => mutable.Map.empty[String, Double])
      m.synchronized {
        m("batches") = m.getOrElse("batches", 0.0) + 1
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          m(k) = m.getOrElse(k, 0.0) + v.doubleValue()
        }
      }
    }
  }

  def start(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def stop(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** The query name a traced streaming query must carry, so its
    * progress is charged to the current operation. */
  def streamName: String = s"perfbench-op-$currentOp"

  def beginOp(op: Int): Unit = {
    currentOp = op
    sc.setLocalProperty(OpKey, op.toString)
  }

  def endOp(): Unit = {
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(PhaseKey, null)
  }

  /** Time `body` as a span named `name` under the innermost open span.
    * Jobs submitted inside it are charged to phase `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    val prevPhase = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    open.push((id, System.nanoTime()))
    try body
    finally {
      val (_, t0) = open.pop()
      spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
      sc.setLocalProperty(PhaseKey, prevPhase)
    }
  }

  /** Wait for the listener bus, then return everything recorded. */
  def flushAndCollect(): Tracer.Trace = {
    org.apache.spark.perfbench.Bus.drain(sc, 60000L)
    val stageList = stages.asScala.toSeq.map { case (id, s) =>
      val wait =
        if (s.submitted > 0 && s.firstLaunch != Long.MaxValue)
          math.max(0L, s.firstLaunch - s.submitted).toDouble else 0.0
      s.work.stages = if (s.submitted > 0) 1 else 0   // skipped stages never run
      s.work.schedWaitMs = wait
      Tracer.StageRec(id, s.job, s.op, s.phase, s.submitted, s.completed, s.work)
    }
    val jobList = jobs.asScala.toSeq.map { case (id, j) =>
      Tracer.JobRec(id, j.op, j.phase, j.start, j.end)
    }
    val prog = progress.asScala.map { case (k, v) => k -> v.toMap }.toMap
    Tracer.Trace(spans.toSeq, jobList, stageList, prog)
  }
}

object Tracer {
  final case class StageRec(id: Int, job: Int, op: Int, phase: String,
      submitted: Long, completed: Long, work: Work)
  final case class JobRec(id: Int, op: Int, phase: String, start: Long, end: Long)
  final case class Trace(spans: Seq[Span], jobs: Seq[JobRec],
      stages: Seq[StageRec], progress: Map[Int, Map[String, Double]]) {

    /** Span time minus the part covered by its child spans. */
    def selfMs(s: Span): Double = {
      val kids = spans.filter(_.parent == s.id)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s.endNs - s.startNs - covered) / 1e6
    }

    /** Scheduler work of one operation, optionally limited to phases. */
    def work(op: Int, phase: String => Boolean = _ => true): Work = {
      val w = new Work
      jobs.filter(j => j.op == op && phase(j.phase)).foreach(_ => w.jobs += 1)
      stages.filter(s => s.op == op && phase(s.phase)).foreach(s => w.add(s.work))
      w
    }

    def asJson(opNames: Map[Int, String]): Any = Map(
      "ops" -> opNames.toSeq.sortBy(_._1).map { case (i, n) => Map("id" -> i, "name" -> n) },
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
        "ms" -> s.ms, "self_ms" -> selfMs(s))),
      "jobs" -> jobs.sortBy(_.id).map(j => Map("id" -> j.id, "op" -> j.op,
        "phase" -> j.phase, "start_ms" -> j.start, "end_ms" -> j.end)),
      "stages" -> stages.sortBy(_.id).map(s => Map("id" -> s.id, "job" -> s.job,
        "op" -> s.op, "submitted_ms" -> s.submitted,
        "completed_ms" -> s.completed, "tasks" -> s.work.tasks,
        "run_ms" -> s.work.runMs, "sched_wait_ms" -> s.work.schedWaitMs)))
  }
}
