package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.types._

import graft.storage.{GraftTable, GraftTableOptions}

/** `ingest`: each op is one `GraftTable.copyFromCsv(lines, ...)` call,
  * the COPY FROM STDIN analog, loading a seeded batch of CSV lines into a
  * sort_by table with auto-compaction on. The op count is fixed by
  * `--seconds`, so both commits end at the same table state, and
  * compaction runs several times inside the timed phase. */
object IngestWorkload {
  val BatchLines = 4000
  val AutoCompactMinFiles = 4
  val PlannedOpsPerSecond = 3.0
  val BuildReps = 3

  val Schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", IntegerType),
    StructField("l_quantity", IntegerType), StructField("l_extendedprice", LongType),
    StructField("l_discount", IntegerType), StructField("l_shipdate", DateType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType)))

  val Options: GraftTableOptions = GraftTableOptions(compression = "zstd",
    sortBy = Seq("l_orderkey"), autoCompactMinFiles = AutoCompactMinFiles)

  private val Modes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Words = Seq("blithely", "bold", "careful", "deposits", "dolphins", "even",
    "final", "fluffily", "foxes", "furiously", "ideas", "ironic", "packages", "pending",
    "pinto", "quick", "regular", "requests", "silent", "slyly", "special", "unusual")
  private val Epoch = java.time.LocalDate.of(1970, 1, 1)

  /** Running per-column totals: the generator's side of the final check. */
  final class Totals {
    var rows, orderkey, partkey, quantity, price, discount, shipday, modeCrc, commentCrc = 0L
    var bytes = 0L
    def exprs: Seq[String] = Seq("count(*)", "sum(l_orderkey)", "sum(l_partkey)",
      "sum(l_quantity)", "sum(l_extendedprice)", "sum(l_discount)",
      "sum(datediff(l_shipdate, date'1970-01-01'))",
      "sum(crc32(cast(l_shipmode AS BINARY)))", "sum(crc32(cast(l_comment AS BINARY)))")
    def values: Seq[Long] = Seq(rows, orderkey, partkey, quantity, price, discount, shipday,
      modeCrc, commentCrc)
  }

  private def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** One seeded batch of CSV lines, added to `totals`. */
  def batch(rng: java.util.SplittableRandom, totals: Totals): Array[String] =
    Array.fill(BatchLines) {
      val key = rng.nextLong(1000000000L)
      val part = rng.nextInt(200000)
      val qty = 1 + rng.nextInt(50)
      val price = 100L + rng.nextLong(10000000L)
      val disc = rng.nextInt(11)
      val day = java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2500))
      val mode = Modes(rng.nextInt(Modes.size))
      val comment = (0 until 2 + rng.nextInt(4)).map(_ => Words(rng.nextInt(Words.size))).mkString(" ")
      val line = s"$key,$part,$qty,$price,$disc,$day,$mode,$comment"
      totals.rows += 1; totals.orderkey += key; totals.partkey += part
      totals.quantity += qty; totals.price += price; totals.discount += disc
      totals.shipday += java.time.temporal.ChronoUnit.DAYS.between(Epoch, day)
      totals.modeCrc += crc(mode); totals.commentCrc += crc(comment)
      totals.bytes += line.length + 1
      line
    }

  private def fingerprint(lines: Array[String]): String =
    s"${lines.length}:${lines.head}:${lines.last}:${lines.map(_.hashCode.toLong).sum}"

  def run(ctx: Ctx): mutable.LinkedHashMap[String, Any] = {
    val spark = ctx.spark
    val wh = s"${ctx.work}/wh"
    val loc = s"$wh/db/events"

    // set-up, repeated: create the empty table; the last one is kept
    val (table, buildWalls) = ctx.repeatSetup(BuildReps) { r =>
      val ns = if (r == BuildReps - 1) "db" else s"rep$r"
      val t = GraftTable.create(spark, s"$wh/$ns/events", Schema, Options)
      if (ns != "db") DirBytes.delete(s"$wh/$ns")
      t
    }

    // warm-up loads a scratch table of the same shape, then drops it
    val scratch = GraftTable.create(spark, s"$wh/warm/events", Schema, Options)
    val warmTotals = new Totals
    val warm = ctx.warmup(perRound = 4, minRounds = 2, maxRounds = 3) { i =>
      val lines = batch(Seeds.stream(ctx.seed, Seeds.Warmup, i), warmTotals)
      ctx.ledger.warmup(fingerprint(lines))
      scratch.copyFromCsv(lines.iterator, false, Seq.empty, "FAILFAST")
    }
    DirBytes.delete(s"$wh/warm")

    val n = ctx.plannedOps(PlannedOpsPerSecond, 12)
    val totals = new Totals
    var snap = DirBytes.snapshot(loc)
    var written = 0L
    val watch = new Layers.CompactionWatch(spark, Seq(loc))
    val phase = new Phase(ctx)
    phase.begin()
    (0 until n).foreach { i =>
      val lines = batch(Seeds.stream(ctx.seed, Seeds.Timed, i), totals)
      ctx.ledger.timedOp(fingerprint(lines))
      phase.run(s"t$i")(table.copyFromCsv(lines.iterator, false, Seq.empty, "FAILFAST"))
        .foreach(got => if (got != lines.length) phase.fail(s"t$i: loaded $got of ${lines.length} rows"))
      // bookkeeping between ops: bytes written, compaction commits
      val after = DirBytes.snapshot(loc)
      written += DirBytes.written(snap, after)
      snap = after
      watch.afterAppend()
    }
    phase.end()
    val heapMb = Jvm.heapAfterGcMb()

    // correctness: row count and per-column checksums against the
    // generator's totals, and a deep verify of the table
    val got = spark.table("pb.db.events").selectExpr(totals.exprs: _*)
      .head.toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Number].longValue)
    val checksumOk = got == totals.values
    val problems = GraftTable.open(spark, loc).verify(deep = true)
    if (!checksumOk || problems.nonEmpty) {
      phase.fail(s"final state: checksums ${if (checksumOk) "match" else s"differ: $got vs ${totals.values}"}; " +
        s"verify: ${problems.take(3).mkString("; ")}")
      phase.failed = phase.attempted
    }
    val end = GraftTable.open(spark, loc)
    val stored = end.tableSize()

    val layers = Layers.empty
    ctx.tracer.foreach { t =>
      val ids = (0 until n).map(i => s"t$i")
      layers ++= Layers.exec(t, ids, _ => 0.0)
      layers ++= Layers.jvm(phase, n)
      layers ++= Seq(
        "storage.open_ms" -> Layers.openMs(spark, loc),
        "storage.meta_bytes" -> Layers.metaBytes(loc).toDouble,
        "storage.files_total" -> end.relFiles.size.toDouble,
        "storage.append_driver_ms" -> Layers.driverMs(t, ids),
        "storage.compactions" -> watch.compactions.toDouble,
        "storage.compact_bytes_rewritten" -> watch.rewritten.toDouble,
        "storage.small_file_ratio_end" -> Layers.smallFileRatio(end.relFiles.map(f => s"$loc/$f")))
    }

    Json.obj(
      "setup" -> (Json.obj("session_s" -> ctx.sessionS, "build_s" -> buildWalls,
        "setup_s" -> (ctx.sessionS + Stats.median(buildWalls) + warm("warmup_s").asInstanceOf[Double])) ++ warm),
      "timed" -> phase.json,
      "planned_ops" -> n,
      "heap_mb" -> heapMb,
      "user_bytes" -> totals.bytes,
      "bytes_stored_per_user_byte" -> stored.toDouble / totals.bytes,
      "write_amp" -> written.toDouble / totals.bytes,
      "write_amp_scope" -> "timed phase",
      "recall_at_10" -> (if (checksumOk) 1.0 else got.head.toDouble / totals.rows),
      "counts" -> Json.obj("rows" -> totals.rows, "table_bytes" -> stored,
        "bytes_written" -> written, "compactions" -> watch.compactions,
        "compact_bytes_rewritten" -> watch.rewritten, "files_end" -> end.relFiles.size,
        "version_end" -> end.version, "meta_bytes" -> Layers.metaBytes(loc)),
      "layers" -> layers)
  }
}
