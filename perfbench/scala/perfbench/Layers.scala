package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-layer figures of the traced run, all measured from outside the
  * engine: walls of calls into public functions, and the tracer's
  * listener totals. A layer a workload does not exercise reports 0. */
object Layers {
  /** One per-layer figure: its name, unit, and the end-to-end metric and
    * workload it should move. This table is the one list of them: the
    * artifact carries it, and `stats.py` reads names and units from it. */
  final case class Figure(name: String, unit: String, moves: String)

  val Table: Seq[Figure] = Seq(
    Figure("storage.open_ms", "ms", "p50_ms @ scan, ingest"),
    Figure("storage.meta_bytes", "bytes", "storage.open_ms; write_amp @ ingest, ann"),
    Figure("storage.prune_ms", "ms", "p50_ms @ scan"),
    Figure("storage.files_total", "count", "p50_ms @ scan"),
    Figure("storage.files_kept_per_op", "count", "cpu_s_per_op @ scan"),
    Figure("storage.prune_ratio", "ratio", "cpu_s_per_op @ scan"),
    Figure("storage.append_driver_ms", "ms", "p50_ms @ ingest; ops_per_s @ ann"),
    Figure("storage.compactions", "count", "tail_ms @ ingest; ops_per_s @ ann"),
    Figure("storage.compact_bytes_rewritten", "bytes", "write_amp @ ingest, ann"),
    Figure("storage.small_file_ratio_end", "ratio", "bytes_stored_per_user_byte @ ingest, ann"),
    Figure("sql_graft.files_pruned_static_per_op", "count", "cpu_s_per_op @ scan"),
    Figure("sql_graft.files_pruned_runtime_per_op", "count", "p50_ms @ scan"),
    Figure("spark.catalyst.analyze_ms", "ms", "p50_ms @ scan"),
    Figure("spark.catalyst.optimize_ms", "ms", "p50_ms @ scan"),
    Figure("spark.catalyst.plan_ms", "ms", "p50_ms @ scan"),
    Figure("spark.catalyst.codegen_ms_per_op", "ms", "tail_ms @ scan"),
    Figure("spark.exec.jobs_per_op", "count", "p50_ms @ ann, scan"),
    Figure("spark.exec.tasks_per_op", "count", "cpu_s_per_op @ all"),
    Figure("spark.exec.task_cpu_ms_per_op", "ms", "cpu_s_per_op @ all"),
    Figure("spark.exec.input_bytes_per_op", "bytes", "cpu_s_per_op @ scan"),
    Figure("spark.exec.output_bytes_per_op", "bytes", "write_amp @ ingest, ann"),
    Figure("spark.exec.shuffle_bytes_per_op", "bytes", "p50_ms @ ann"),
    Figure("spark.exec.spill_bytes_per_op", "bytes", "tail_ms @ all"),
    Figure("spark.driver.gap_ms_per_op", "ms", "p50_ms @ ann, scan"),
    Figure("operators.append_ms", "ms", "ops_per_s @ ann"),
    Figure("operators.index_bytes_per_vector", "bytes", "bytes_stored_per_user_byte @ ann"),
    Figure("jvm.gc_ms_per_op", "ms", "tail_ms @ all"),
    Figure("jvm.jit_ms_timed", "ms", "tail_ms @ all"),
    Figure("trace.p50_ms", "ms", "tracing overhead against the untraced p50_ms"))

  def tableJson: Seq[Map[String, String]] =
    Table.map(f => Map("name" -> f.name, "unit" -> f.unit, "moves" -> f.moves))

  def empty: mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(Table.map(_.name -> (0.0: Any)): _*)

  /** Spark execution totals per op over `ops`, and the driver gap: op
    * wall minus its Catalyst time minus the union of its job intervals. */
  def exec(t: Tracer, ops: Seq[String], catalystMs: String => Double): Map[String, Double] = {
    t.drain()
    val n = ops.size.max(1).toDouble
    val cs = ops.map(t.countersFor)
    val gaps = ops.map { op =>
      val wall = t.spansOf(op).find(_.name == "op").map(_.ms).getOrElse(0.0)
      wall - catalystMs(op) - t.jobUnionMs(op)
    }
    Map(
      "spark.exec.jobs_per_op" -> cs.map(_.jobs).sum / n,
      "spark.exec.tasks_per_op" -> cs.map(_.tasks).sum / n,
      "spark.exec.task_cpu_ms_per_op" -> cs.map(_.cpuNs).sum / 1e6 / n,
      "spark.exec.input_bytes_per_op" -> cs.map(_.inputBytes).sum / n,
      "spark.exec.output_bytes_per_op" -> cs.map(_.outputBytes).sum / n,
      "spark.exec.shuffle_bytes_per_op" -> cs.map(_.shuffleWriteBytes).sum / n,
      "spark.exec.spill_bytes_per_op" -> cs.map(_.spillBytes).sum / n,
      "spark.driver.gap_ms_per_op" -> Stats.mean(gaps))
  }

  def jvm(p: Phase, ops: Int): Map[String, Double] = Map(
    "jvm.gc_ms_per_op" -> p.gcMs.toDouble / ops.max(1),
    "jvm.jit_ms_timed" -> p.jitMs.toDouble,
    "spark.catalyst.codegen_ms_per_op" -> p.codegenMs.toDouble / ops.max(1),
    "trace.p50_ms" -> (if (p.latencies.isEmpty) 0.0 else Stats.median(p.latencies.toSeq)))

  /** Mean over `ops` of the op wall minus the union of its job
    * intervals: the driver-side share of a write (footers, zone maps,
    * metadata render, commit). */
  def driverMs(t: Tracer, ops: Seq[String]): Double = Stats.mean(ops.map(id =>
    t.spansOf(id).find(_.name == "op").map(_.ms).getOrElse(0.0) - t.jobUnionMs(id)))

  /** Median wall of opening the table (metadata read and parse). */
  def openMs(spark: SparkSession, location: String, reps: Int = 15): Double =
    Stats.median((0 until reps).map { _ =>
      val a = System.nanoTime()
      graft.storage.GraftTable.open(spark, location)
      (System.nanoTime() - a) / 1e6
    })

  /** Committed metadata, history and manifest bytes: everything under
    * the table directory except its data files. */
  def metaBytes(location: String): Long =
    DirBytes.total(location) - DirBytes.total(s"$location/data")

  /** Share of the given data files under the 32 MiB small-file
    * threshold that auto-compaction uses. */
  def smallFileRatio(paths: Seq[String]): Double = {
    val sizes = paths.map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p)))
    if (sizes.isEmpty) 0.0 else sizes.count(_ < (32L << 20)).toDouble / sizes.size
  }

  /** Compaction commits on a set of tables, read between ops. An append
    * commits once per table; every further commit is an auto-compaction,
    * and the files it dropped are the bytes it rewrote. */
  final class CompactionWatch(spark: SparkSession, locations: Seq[String]) {
    var compactions = 0
    var rewritten = 0L

    private def state(loc: String) = {
      val t = graft.storage.GraftTable.open(spark, loc)
      (t.version, t.relFiles.toSet, DirBytes.snapshot(loc))
    }
    private var last = locations.map(l => l -> state(l)).toMap

    /** Call after each op that appended once to every watched table. */
    def afterAppend(): Unit = {
      last = last.map { case (loc, (v0, files0, snap0)) =>
        val now = state(loc)
        if (now._1 - v0 > 1) {
          compactions += (now._1 - v0 - 1).toInt
          rewritten += (files0 -- now._2).toSeq.map(f => snap0.get(f).map(_.size).getOrElse(0L)).sum
        }
        loc -> now
      }
    }
  }
}
