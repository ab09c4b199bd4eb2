package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the run's parameters, the
  * optional tracer and the process-wide input ledger. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Option[Tracer], val work: String, val sessionS: Double) {
  val ledger = new InputLedger

  /** Time `body` as op `id`; under tracing the op's jobs are attributed
    * to it. Returns the value and the wall in ms. */
  def timeOp[T](id: String)(body: => T): (T, Double) = tracer match {
    case Some(t) => t.op(id)(body)
    case None =>
      val a = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - a) / 1e6)
  }

  /** Number of timed ops for a workload whose ops run at about
    * `plannedPerSecond` on a 4-core machine. The count depends only on
    * `--seconds`, never on the program's speed, so every commit does the
    * same work and ends at the same state. */
  def plannedOps(plannedPerSecond: Double, min: Int): Int =
    math.max(min, math.round(seconds * plannedPerSecond).toInt)

  /** Median wall in seconds of `reps` runs of `build`; the last run's
    * value is returned with all the walls. */
  def repeatSetup[T](reps: Int)(build: Int => T): (T, Seq[Double]) = {
    var last: Option[T] = None
    val walls = (0 until reps).map { r =>
      val a = System.nanoTime()
      last = Some(build(r))
      val s = (System.nanoTime() - a) / 1e9
      Log(f"set-up $r took $s%.2f s")
      s
    }
    (last.get, walls)
  }

  /** Warm-up: rounds of `perRound` ops drawn from the warm-up seed
    * stream, until the JIT compile time per op stops falling (a round
    * spends at least 80 % of the previous round's) or falls under 1 ms,
    * with at least `minRounds` and at most `maxRounds` rounds. */
  def warmup(perRound: Int, minRounds: Int, maxRounds: Int)(op: Int => Unit)
      : mutable.LinkedHashMap[String, Any] = {
    val a = System.nanoTime()
    val jitPerOp = mutable.ArrayBuffer[Double]()
    var i = 0
    var done = false
    while (!done) {
      val j0 = Jvm.jitMs
      (0 until perRound).foreach { _ => op(i); i += 1 }
      jitPerOp += (Jvm.jitMs - j0).toDouble / perRound
      Log(f"warm-up round ${jitPerOp.length}: ${jitPerOp.last}%.1f jit ms/op")
      val r = jitPerOp.length
      done = r >= maxRounds || (r >= minRounds &&
        (jitPerOp(r - 1) >= 0.8 * jitPerOp(r - 2) || jitPerOp(r - 1) < 1.0))
    }
    Json.obj("warmup_s" -> (System.nanoTime() - a) / 1e9, "warmup_ops" -> i,
      "warmup_jit_ms_per_op" -> jitPerOp.toSeq)
  }
}

/** The timed phase: per-op wall and process CPU, failures, and the JVM
  * and machine counters across the phase. Work between ops (input
  * generation, bookkeeping) is outside every op's interval and is not
  * counted in the wall or CPU totals. */
final class Phase(ctx: Ctx) {
  val latencies = mutable.ArrayBuffer[Double]()
  val extraMs = mutable.ArrayBuffer[Double]()
  private var cpuNs = 0L
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  private var gc0, jit0, cg0 = 0L
  private var gc1, jit1, cg1 = 0L
  private var env0, env1: Env.ProcSample = _

  def begin(): Unit = {
    Log("timed phase begins")
    gc0 = Jvm.gcMs; jit0 = Jvm.jitMs; cg0 = CodegenClock.ms; env0 = Env.sample()
  }

  def end(): Unit = {
    Log(f"timed phase ends: ${latencies.length} ops, median ${if (latencies.isEmpty) 0.0 else Stats.median(latencies.toSeq)}%.1f ms")
    gc1 = Jvm.gcMs; jit1 = Jvm.jitMs; cg1 = CodegenClock.ms; env1 = Env.sample()
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 10) failures += msg
  }

  /** Run one op. `inLatency = false` ops (index appends between probes)
    * count toward throughput and CPU but not the latency percentiles. */
  def run[T](id: String, inLatency: Boolean = true)(body: => T): Option[T] = {
    attempted += 1
    val c0 = Jvm.cpuNs
    try {
      val (v, ms) = ctx.timeOp(id)(body)
      cpuNs += Jvm.cpuNs - c0
      if (inLatency) latencies += ms else extraMs += ms
      Some(v)
    } catch {
      case e: Exception =>
        cpuNs += Jvm.cpuNs - c0
        fail(s"$id: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  def gcMs: Long = gc1 - gc0
  def jitMs: Long = jit1 - jit0
  def codegenMs: Long = cg1 - cg0

  def json: mutable.LinkedHashMap[String, Any] = Json.obj(
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> failures.toSeq,
    "latencies_ms" -> latencies.toSeq,
    "extra_ms" -> extraMs.toSeq,
    "wall_s" -> (latencies.sum + extraMs.sum) / 1e3,
    "cpu_s" -> cpuNs / 1e9,
    "gc_ms" -> gcMs,
    "jit_ms" -> jitMs,
    "codegen_ms" -> codegenMs,
    "proc" -> Env.delta(env0, env1))
}
