package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. `op` is the id of the benchmark op the span
  * belongs to; `parent` is the enclosing span's id (empty for an op). */
final case class Span(id: String, parent: String, name: String, op: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark-side totals of one op, summed over its tasks. */
final class OpCounters {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The traced run's recorder. It is a `SparkListener` on the
  * SparkContext, so it sees the jobs of every session that shares the
  * context, cloned sessions included. Each op sets the local property
  * [[Tracer.OpKey]] on its thread; Spark copies local properties into
  * every job the thread submits, which is how jobs, stages and tasks are
  * attributed to ops. Op and Catalyst-phase spans are added by the
  * benchmark thread through [[span]]. Everything stays in memory until
  * [[spansJson]] writes it out at exit. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobStart = mutable.HashMap[Int, (String, Double)]()
  private val jobOfStage = mutable.HashMap[Int, Int]()
  private val opOfStage = mutable.HashMap[Int, String]()
  private val counters = mutable.HashMap[String, OpCounters]()

  private def countersOf(op: String): OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).orNull
    if (op == null) return
    lock.synchronized {
      jobStart(e.jobId) = (op, e.time.toDouble)
      e.stageIds.foreach { s =>
        if (!opOfStage.contains(s)) { opOfStage(s) = op; jobOfStage(s) = e.jobId }
      }
      countersOf(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (op, start) =>
      spans += Span(s"job:${e.jobId}", "", "job", op, start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    opOfStage.get(info.stageId).foreach { op =>
      for (a <- info.submissionTime; b <- info.completionTime)
        spans += Span(s"stage:${info.stageId}.${info.attemptNumber()}",
          s"job:${jobOfStage(info.stageId)}", "stage", op, a.toDouble, b.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    opOfStage.get(e.stageId).foreach { op =>
      val c = countersOf(op)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Run `body` as op `op`: its jobs are attributed to the op, and an
    * op span is recorded. Returns the body's value and the wall in ms. */
  def op[T](op: String)(body: => T): (T, Double) = {
    sc.setLocalProperty(OpKey, op)
    val a = Clock.nowMs
    try {
      val v = body
      val b = Clock.nowMs
      lock.synchronized { spans += Span(op, "", "op", op, a, b) }
      (v, b - a)
    } finally sc.setLocalProperty(OpKey, null)
  }

  /** Record a named phase inside op `op`; returns the body's value. */
  def span[T](op: String, name: String)(body: => T): (T, Double) = {
    val a = Clock.nowMs
    val v = body
    val b = Clock.nowMs
    lock.synchronized { spans += Span(s"$op/$name", op, name, op, a, b) }
    (v, b - a)
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def countersFor(op: String): OpCounters = lock.synchronized(countersOf(op))

  def spansOf(op: String): Seq[Span] = lock.synchronized(spans.filter(_.op == op).toSeq)

  /** Ms of `op` covered by at least one of its jobs. */
  def jobUnionMs(op: String): Double = {
    val ss = spansOf(op)
    ss.find(_.name == "op").map { o =>
      Stats.unionLength(ss.filter(_.name == "job").map(j => (j.start, j.end)), o.start, o.end)
    }.getOrElse(0.0)
  }

  /** Every span with its self time: its duration minus the union of its
    * children. A job's parent is the Catalyst phase it started in, if
    * any, else its op; a stage's parent is its job. */
  def spansJson(): Seq[Map[String, Any]] = lock.synchronized {
    val byOp = spans.groupBy(_.op)
    spans.toSeq.map { s =>
      val siblings = byOp(s.op)
      val parent = s.name match {
        case "job" =>
          siblings.find(p => p.parent == s.op && p.name != "op" &&
            p.start <= s.start && s.start <= p.end).map(_.id).getOrElse(s.op)
        case "op" => ""
        case _ => s.parent
      }
      val children = s.name match {
        case "op" => siblings.filter(c => c.name != "op" && c.name != "stage")
        case "job" => siblings.filter(_.parent == s.id)
        case "stage" => Seq.empty
        case _ => siblings.filter(j => j.name == "job" && j.start >= s.start && j.start <= s.end)
      }
      val self = s.ms - Stats.unionLength(children.map(c => (c.start, c.end)), s.start, s.end)
      Map("id" -> s.id, "parent" -> parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "ms" -> s.ms, "self_ms" -> self)
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}

/** Sums Spark's whole-stage codegen compile times. `CodegenMetrics`
  * keeps them only in a sampling histogram, which has no sum, so the
  * histogram's reservoir is wrapped once with one that also adds every
  * recorded value to a counter. */
object CodegenClock {
  private val totalMs = new AtomicLong(0L)
  @volatile private var installed = false

  def install(): Boolean = synchronized {
    if (!installed) {
      try {
        val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        val f = classOf[com.codahale.metrics.Histogram].getDeclaredField("reservoir")
        f.setAccessible(true)
        val inner = f.get(h).asInstanceOf[com.codahale.metrics.Reservoir]
        f.set(h, new com.codahale.metrics.Reservoir {
          override def size(): Int = inner.size()
          override def update(value: Long): Unit = { totalMs.addAndGet(value); inner.update(value) }
          override def getSnapshot: com.codahale.metrics.Snapshot = inner.getSnapshot
        })
        installed = true
      } catch { case _: Exception => () }
    }
    installed
  }

  def ms: Long = totalMs.get()
}
