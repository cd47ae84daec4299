package graftbench

import org.apache.spark.GraftBenchBus
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Spark engine counters of one layer call (or, summed, of one pass). */
final class EngineStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, deserMs, gcMs = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, spill = 0L
  var inputBytes, outputBytes = 0L
  var planningMs = 0L
  /** max over executed stages of (max task run time / median task run time) */
  var skew = 1.0
  var codegenCompiles = 0L
  var codegenMs = 0.0
  var persistedAfter = 0L

  def +=(o: EngineStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; deserMs += o.deserMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    shuffleRecords += o.shuffleRecords; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    planningMs += o.planningMs
    skew = math.max(skew, o.skew)
    codegenCompiles += o.codegenCompiles; codegenMs += o.codegenMs
    persistedAfter = math.max(persistedAfter, o.persistedAfter)
  }
}

/** Collects task, stage, job and query events per job group. Registered
  * only on traced runs; the harness sets the group of each layer call and
  * drains the bus before the next one, so every event lands on its call.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val groups = mutable.HashMap.empty[String, EngineStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  private val jobOpen = mutable.HashMap.empty[Int, (String, Long)]
  /** (group, job id, start ms, end ms) */
  val jobs = ArrayBuffer.empty[(String, Int, Long, Long)]
  /** (job id, stage id, start ms, end ms, tasks) */
  val stages = ArrayBuffer.empty[(Int, Int, Long, Long, Int)]
  /** group of the call in progress; catches events from threads that do
    * not carry the job group property */
  @volatile var current: String = null

  private def stats(g: String): EngineStats = groups.getOrElseUpdate(g, new EngineStats)

  def take(group: String): EngineStats = synchronized {
    groups.remove(group).getOrElse(new EngineStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(current)
    if (g != null) {
      val s = stats(g)
      s.jobs += 1
      e.stageIds.foreach { s => stageGroup(s) = g; stageJob.getOrElseUpdate(s, e.jobId) }
      jobOpen(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (g, t0) => jobs += ((g, e.jobId, t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val s = stats(g)
      s.stages += 1
      val ts = stageTaskMs.remove(info.stageId).getOrElse(ArrayBuffer.empty[Long]).sorted
      if (ts.length >= 2) {
        val med = ts(ts.length / 2).max(1L)
        s.skew = math.max(s.skew, ts.last.toDouble / med)
      }
      stages += ((stageJob.getOrElse(info.stageId, -1), info.stageId,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L), info.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = synchronized {
    val g = current
    if (g != null) stats(g).planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
}

/** Codegen compile count and time, as deltas of Spark's CodegenMetrics
  * histogram. Its reservoir keeps every sample while fewer than 1028 have
  * been recorded in the JVM, so the summed time is exact below that and
  * estimated from the mean above it.
  */
object Codegen {
  private def now: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n
    (n, sum)
  }
  def measure[T](body: => T): (T, Long, Double) = {
    val (n0, s0) = now
    val r = body
    val (n1, s1) = now
    (r, n1 - n0, s1 - s0)
  }
}

/** One span: a pass, a layer call, or a Spark job or stage. Times are ms
  * since the run's trace origin.
  */
final case class TraceSpan(id: Int, name: String, kind: String, parent: Int,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory spans, written out when the run ends. Off on untraced runs:
  * `call` then only runs its body.
  */
final class Tracer(sc: SparkContext, listener: Option[EngineListener]) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[TraceSpan]
  private var stack = List.empty[Int]
  private val callStats = mutable.HashMap.empty[Int, EngineStats]
  var on = false

  private def nowMs: Double = (System.nanoTime() - originNs) / 1e6

  private def open(name: String, kind: String): Int = {
    val id = spans.length
    spans += TraceSpan(id, name, kind, stack.headOption.getOrElse(-1), nowMs, Double.NaN)
    stack = id :: stack
    id
  }
  private def close(id: Int): Unit = {
    spans(id) = spans(id).copy(end = nowMs)
    stack = stack.tail
  }

  /** A pass span; returns the body's result and the summed stats of the
    * calls made inside it. */
  def pass[T](name: String)(body: => T): (T, EngineStats) = {
    if (!on) return (body, new EngineStats)
    val id = open(name, "pass")
    val r = try body finally close(id)
    val total = new EngineStats
    spans.iterator.filter(s => s.kind == "call" && s.parent == id)
      .foreach(s => callStats.get(s.id).foreach(total += _))
    (r, total)
  }

  /** A layer call: the Spark work it causes is attributed to it through
    * a job group, and the bus is drained before it returns. */
  def call[T](name: String)(body: => T): T = {
    if (!on) return body
    val l = listener.get
    val id = open(name, "call")
    val group = s"graftbench-$id"
    sc.setJobGroup(group, name)
    l.current = group
    try {
      val (r, compiles, compileMs) = Codegen.measure(body)
      GraftBenchBus.drain(sc)
      val st = l.take(group)
      st.codegenCompiles = compiles
      st.codegenMs = compileMs
      st.persistedAfter = Guard.leaked(sc)
      callStats(id) = st
      r
    } finally {
      l.current = null
      sc.clearJobGroup()
      close(id)
    }
  }

  /** Calls of the last pass named `pass`, with their stats. */
  def callsOf(passId: Int): Seq[(TraceSpan, EngineStats)] =
    spans.filter(s => s.kind == "call" && s.parent == passId)
      .map(s => (s, callStats.getOrElse(s.id, new EngineStats))).toSeq

  def lastPassId(name: String): Int =
    spans.lastIndexWhere(s => s.kind == "pass" && s.name == name)

  def passIds(name: String): Seq[Int] =
    spans.indices.filter(i => spans(i).kind == "pass" && spans(i).name == name)

  /** Adds the listener's job and stage spans under their calls. */
  private def engineSpans(): Seq[TraceSpan] = listener.toSeq.flatMap { l =>
    def rel(epochMs: Long): Double = (epochMs - originEpochMs).toDouble
    val callOf = spans.iterator.filter(_.kind == "call")
      .map(s => s"graftbench-${s.id}" -> s.id).toMap
    var next = spans.length
    val jobSpan = mutable.HashMap.empty[Int, Int]
    val js = l.jobs.flatMap { case (g, job, t0, t1) =>
      callOf.get(g).map { parent =>
        val s = TraceSpan(next, s"job $job", "job", parent, rel(t0), rel(t1))
        jobSpan(job) = next; next += 1; s
      }
    }
    val ss = l.stages.flatMap { case (job, stage, t0, t1, n) =>
      jobSpan.get(job).map { parent =>
        val s = TraceSpan(next, s"stage $stage ($n tasks)", "stage", parent, rel(t0), rel(t1))
        next += 1; s
      }
    }
    js.toSeq ++ ss.toSeq
  }

  /** Span duration minus the union of its children's intervals. */
  def selfMs(all: Seq[TraceSpan]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> (s.ms - covered)
    }.toMap
  }

  def allSpans: Seq[TraceSpan] = spans.toSeq ++ engineSpans()

  /** Writes every span as JSON lines: id, name, kind, parent, start, end,
    * self (ms). */
  def write(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val self = selfMs(all)
    val lines = all.map { s =>
      f"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "kind": "${s.kind}", "parent": ${s.parent}, """ +
        f""""start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f, "self_ms": ${self(s.id)}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
