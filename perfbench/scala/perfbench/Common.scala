package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JSON rendering of the run artifact, through Jackson with its Scala
  * module: maps keep their insertion order. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  /** An ordered map literal. */
  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)
}

/** Seed streams. Every input the benchmark generates comes from
  * `stream(seed, purpose, index)`: data, warm-up and timed ops use
  * different `purpose` ids, so warm-up never draws a timed op's inputs. */
object Seeds {
  val Data = 1L
  val Warmup = 2L
  val Timed = 3L
  val Append = 4L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def derive(seed: Long, purpose: Long, index: Long): Long =
    mix(mix(mix(seed) ^ purpose) ^ index)

  def stream(seed: Long, purpose: Long, index: Long): SplittableRandom =
    new SplittableRandom(derive(seed, purpose, index))
}

/** Process-wide record of every op input fingerprint, warm-up included.
  * A timed op whose fingerprint was seen before counts as a repeat: it
  * could have been served by a result cache instead of doing the work. */
final class InputLedger {
  private val seen = mutable.HashSet[String]()
  private val timedDigest = java.security.MessageDigest.getInstance("SHA-256")
  private var timed = 0
  private var repeats = 0

  def warmup(fp: String): Unit = seen += fp

  def timedOp(fp: String): Unit = {
    timed += 1
    if (!seen.add(fp)) repeats += 1
    timedDigest.update(fp.getBytes("UTF-8"))
  }

  def repeatShare: Double = if (timed == 0) 0.0 else repeats.toDouble / timed

  /** Digest of every timed op's inputs, in order. */
  def inputsDigest: String = timedDigest.clone().asInstanceOf[java.security.MessageDigest]
    .digest().map(b => f"${b & 0xff}%02x").mkString
}

/** Bytes under a directory, with a per-file (size, mtime) snapshot so
  * that bytes created or rewritten between two snapshots can be summed. */
object DirBytes {
  final case class Entry(size: Long, mtimeNs: Long)

  def snapshot(dir: String): Map[String, Entry] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p)).map { p =>
      val attrs = Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      root.relativize(p).toString ->
        Entry(attrs.size(), attrs.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS))
    }.toMap
    finally walk.close()
  }

  def total(dir: String): Long = snapshot(dir).values.map(_.size).sum

  /** Bytes of files that are new in `after` or whose size or mtime changed. */
  def written(before: Map[String, Entry], after: Map[String, Entry]): Long =
    after.iterator.collect {
      case (p, e) if !before.get(p).contains(e) => e.size
    }.sum

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}

/** JVM counters read around the timed phase. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Used heap after full collections, in MB. Two collections with a
    * short pause let finalizers and reference queues release what the
    * first one found unreachable. */
  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Milliseconds since JVM start. */
  def uptimeMs: Double = ManagementFactory.getRuntimeMXBean.getUptime.toDouble

  def inputArgs: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
}

/** The run's environment: context for telling a noisy window from a slow
  * program, not a metric. */
object Env {
  final case class ProcSample(steal: Long, total: Long, load1: Double)

  def sample(): ProcSample = {
    val (steal, total) =
      try {
        val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
          .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
        (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
      } catch { case _: Exception => (0L, 0L) }
    val load =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
      catch { case _: Exception => -1.0 }
    ProcSample(steal, total, load)
  }

  def delta(a: ProcSample, b: ProcSample): Map[String, Any] = Map(
    "steal_share" -> (if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0),
    "steal_jiffies" -> (b.steal - a.steal),
    "loadavg1_start" -> a.load1,
    "loadavg1_end" -> b.load1)

  def record(master: String, sourceDigest: String): mutable.LinkedHashMap[String, Any] = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_master" -> master,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "jvm_args" -> Jvm.inputArgs.filter(a => a.startsWith("-X")),
    "java_version" -> System.getProperty("java.version"),
    "source_digest" -> sourceDigest,
    "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", ""))
}

/** Order-insensitive digest of a collected result: the sum of the rows'
  * string hashes, so two engines that return the same bag of rows agree
  * whatever order they return it in. */
object ResultDigest {
  def of(rows: Array[org.apache.spark.sql.Row]): (Long, Long) = {
    var h = 0L
    rows.foreach { r =>
      val s = r.toSeq.map {
        case null => "∅"
        case d: java.math.BigDecimal => d.stripTrailingZeros().toPlainString
        case x => x.toString
      }.mkString("\u0001")
      h += scala.util.hashing.MurmurHash3.stringHash(s).toLong * 0x9E3779B1L +
        s.hashCode.toLong
    }
    (rows.length.toLong, h)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(intervals: collection.Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = curB.max(b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Progress lines on stderr, which the runner keeps in the run's log. */
object Log {
  def apply(msg: String): Unit =
    System.err.println(f"perfbench ${Jvm.uptimeMs / 1e3}%8.2fs $msg")
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the listener bus's epoch-millisecond event times. */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6
}

object Files2 {
  def write(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes("UTF-8"))
  }
}
