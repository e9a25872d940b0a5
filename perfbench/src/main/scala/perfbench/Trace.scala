package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed engine call. Times are epoch milliseconds with sub-ms
  * precision, comparable with Spark's event timestamps. */
final case class Call(id: Int, op: String, round: Int, startMs: Double,
    endMs: Double, gcMs: Long, traced: Boolean) {
  def wallMs: Double = endMs - startMs
}

/** What the listeners attribute to one traced call. */
final case class Layer(wallS: Double, selfS: Double, jobs: Int, tasks: Int,
    taskCpuS: Double, planMs: Double, shuffleMb: Double, spillMb: Double,
    gcS: Double, taskSkew: Double)

final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, runId: String)

/** Times every engine call from outside, counts attempts and failures,
  * and in a traced run attributes Spark jobs, tasks, shuffle, spill,
  * planning and GC to each call through a SparkListener and a
  * QueryExecutionListener. Tracing is switched per round so that a
  * traced run can measure its own overhead against untraced rounds of
  * the same process. Spans stay in memory until [[finish]]. */
final class Recorder(spark: SparkSession, val runId: String) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  val calls = ArrayBuffer[Call]()
  private val failedCalls = scala.collection.mutable.Set[Int]()
  def attempted: Int = calls.size
  def failed: Int = failedCalls.size

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  @volatile private var traced = false
  private var round = 0
  def currentRound: Int = round

  /** Runs `f` as one call of `op`, timing it; an exception is counted
    * as a failed call and printed, never swallowed silently. */
  def op[T](name: String)(f: => T): Option[(Int, T)] = {
    val id = calls.size
    val gc0 = gcMs
    val s = nowMs
    val r =
      try Some(f)
      catch {
        case NonFatal(e) =>
          failedCalls += id
          System.out.println(s"FAILED $name (call $id): $e")
          e.printStackTrace(System.err)
          None
      }
    calls += Call(id, name, round, s, nowMs, gcMs - gc0, traced)
    r.map(v => (id, v))
  }

  /** Marks call `id` failed when its output check does not hold. */
  def check(id: Int, ok: Boolean, what: => String): Unit =
    if (!ok) {
      failedCalls += id
      System.out.println(s"CHECK FAILED ${calls(id).op} (call $id): $what")
    }

  // ---- tracing ----------------------------------------------------

  private final case class JobEv(jobId: Int, startMs: Long, stages: Seq[Int])
  private final case class TaskEv(stageId: Int, runMs: Long, cpuNs: Long,
      shuffleBytes: Long, spillBytes: Long)
  private final case class PlanEv(startMs: Long, durMs: Long)

  private val jobStarts = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val taskEvs = new ConcurrentLinkedQueue[TaskEv]()
  private val planEvs = new ConcurrentLinkedQueue[PlanEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.add(JobEv(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) taskEvs.add(TaskEv(e.stageId, m.executorRunTime,
        m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planEvs.add(PlanEv(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  /** Starts the next round, traced or not; returns its number. */
  def startRound(on: Boolean): Int = {
    round += 1
    if (on != traced) {
      val sc = spark.sparkContext
      PerfbenchShim.drainListenerBus(sc)
      if (on) {
        sc.addSparkListener(sparkListener)
        spark.listenerManager.register(queryListener)
      } else {
        sc.removeSparkListener(sparkListener)
        spark.listenerManager.unregister(queryListener)
      }
      traced = on
    }
    round
  }

  /** Ends tracing, attributes the recorded Spark events to the traced
    * calls, writes the run's spans to `spans` as JSON lines (one root
    * span, one span per traced call, one child span per Spark job of that
    * call) and returns each traced call's layer figures. */
  def finish(spans: java.nio.file.Path): Map[Int, Layer] = {
    startRound(on = false)
    val tc = calls.filter(_.traced).sortBy(_.startMs)
    val starts = tc.map(_.startMs).toArray
    // a call owns the events that start inside its interval; Spark's
    // timestamps are whole milliseconds, hence the 1 ms slack
    def owner(tMs: Double): Option[Call] = {
      val i = java.util.Arrays.binarySearch(starts, tMs + 1.0)
      val j = if (i >= 0) i else -i - 2
      if (j >= 0 && tc(j).endMs + 1.0 >= tMs) Some(tc(j)) else None
    }
    def jobEnd(j: JobEv, c: Call): Double =
      Option(jobEnds.get(j.jobId)).map(_.toDouble).getOrElse(c.endMs)
    val jobs = jobStarts.asScala.toSeq.flatMap(j => owner(j.startMs).map(c => (c, j)))
    val stageOwner = jobs.flatMap { case (c, j) => j.stages.map(_ -> c.id) }.toMap
    val tasks = taskEvs.asScala.toSeq.flatMap(t => stageOwner.get(t.stageId).map(_ -> t))
      .groupBy(_._1).map { case (c, ts) => c -> ts.map(_._2) }
    val plans = planEvs.asScala.toSeq.flatMap(p => owner(p.startMs).map(c => (c.id, p.durMs)))
      .groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2).sum }
    val jobsBy = jobs.groupBy(_._1.id).map { case (c, js) => c -> js.map(_._2) }

    val spanOf = tc.zipWithIndex.map { case (c, i) => c.id -> (i + 1) }.toMap
    val lines: Seq[Span] = if (tc.isEmpty) Nil else
      Span(0, -1, "run", calls.head.startMs, calls.last.endMs, runId) +:
        (tc.map(c => Span(spanOf(c.id), 0, c.op, c.startMs, c.endMs, runId)).toSeq ++
          jobs.zipWithIndex.map { case ((c, j), i) =>
            Span(tc.size + 1 + i, spanOf(c.id), s"spark.job.${j.jobId}",
              j.startMs.toDouble, jobEnd(j, c), runId)
          })
    Files.writeLines(spans, lines.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"run_id":"${s.runId}"}"""
    })

    tc.map { c =>
      val js = jobsBy.getOrElse(c.id, Nil)
      val covered = unionLength(js.map(j =>
        (math.max(j.startMs.toDouble, c.startMs), math.min(jobEnd(j, c), c.endMs))))
      val ts = tasks.getOrElse(c.id, Nil)
      val runs = ts.map(_.runMs).sorted
      val skew = if (runs.isEmpty) 0.0
        else runs.last.toDouble / math.max(1L, runs(runs.size / 2))
      c.id -> Layer(
        wallS = c.wallMs / 1e3,
        selfS = math.max(0.0, c.wallMs - covered) / 1e3,
        jobs = js.size,
        tasks = ts.size,
        taskCpuS = ts.map(_.cpuNs).sum / 1e9,
        planMs = plans.getOrElse(c.id, 0L).toDouble,
        shuffleMb = ts.map(_.shuffleBytes).sum / 1e6,
        spillMb = ts.map(_.spillBytes).sum / 1e6,
        gcS = c.gcMs / 1e3,
        taskSkew = skew)
    }.toMap
  }

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Files {
  def writeLines(path: java.nio.file.Path, lines: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Total size of the regular files under `dir`. */
  def bytesUnder(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
    finally s.close()
  }
}
