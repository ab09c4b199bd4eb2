package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._

import graft.storage.{GraftTable, GraftTableOptions}

/** `scan`: read-only SQL through the graft catalog against a lineitem-
  * shaped table (sort_by the key, zstd, one file per key range, so the
  * files' key zone maps are disjoint) and a small orders-shaped
  * dimension. Each op is one of four query shapes with seeded
  * parameters; selectivity is log-uniform over three decades and the
  * projected column count varies, so the share of files pruned spans 0
  * to 1 and op costs spread smoothly instead of forming clusters. */
object ScanWorkload {
  val Rows = 50000L
  val Orders: Long = Rows / 4
  val Files = 100
  val Days = 2400
  val PlannedOpsPerSecond = 3.0
  val BuildReps = 3

  private val Modes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Seq("about", "above", "across", "after", "again", "blithely",
    "bold", "careful", "carefully", "deposits", "dolphins", "even", "final", "fluffily",
    "foxes", "furiously", "ideas", "instructions", "ironic", "packages", "pending",
    "pinto", "platelets", "quick", "quickly", "regular", "requests", "sauternes",
    "silent", "slyly", "special", "theodolites", "thinly", "unusual", "warhorses",
    "waters", "wake", "sleep", "haggle", "nag")
  private val Numeric = Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax")
  private val Other = Seq("l_returnflag", "l_linestatus", "l_shipmode", "l_comment",
    "l_commitdate")
  private val ShapeNames = Seq("key_between", "eq_like_date", "width_bucket", "join_dim")
  // Upper ends of the selectivity ranges. A whole-table op costs several
  // times the median one, and its run-to-run jitter would dominate the
  // mean-based metrics (ops_per_s, cpu_s_per_op) of a 20-op run; the join
  // stops lower because its full-table form costs most.
  private val MaxSelectivity = Seq(0.3, 0.3, 0.3, 0.1)
  // Half the ops are key ranges. Each shape has its own cost level, and
  // with the shapes in equal numbers the median would fall between two
  // of those levels, where it jumps; weighting the key range puts the
  // median (and the tail percentile of a short run) inside its cost range.
  private val ShapeCycle = Seq(0, 1, 0, 2, 0, 3)

  private def arr(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("array(", ",", ")")

  /** The generated lineitem rows: a pure function of the seed. Ship
    * dates follow the order key (plus up to 29 days), so a date range
    * selects a key range, as in TPC-H's load order. */
  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    def h(k: Int) = s"xxhash64(id, ${seed}L, $k)"
    def pick(xs: Seq[String], k: Int) = s"element_at(${arr(xs)}, cast(pmod(${h(k)}, ${xs.size}) AS INT) + 1)"
    val ship = s"date_add(date'1995-01-01', cast((id div 4) * $Days div $Orders AS INT) + cast(pmod(${h(9)}, 30) AS INT))"
    spark.range(Rows).selectExpr(
      "id div 4 AS l_orderkey",
      "cast(id % 4 + 1 AS INT) AS l_linenumber",
      s"cast(pmod(${h(1)}, 20000) AS INT) AS l_partkey",
      s"cast(pmod(${h(2)}, 1000) AS INT) AS l_suppkey",
      s"cast(1 + pmod(${h(3)}, 50) AS INT) AS l_quantity",
      s"100 + pmod(${h(4)}, 10000000) AS l_extendedprice",
      s"cast(pmod(${h(5)}, 11) AS INT) AS l_discount",
      s"cast(pmod(${h(6)}, 9) AS INT) AS l_tax",
      s"${pick(Seq("A", "N", "R"), 7)} AS l_returnflag",
      s"${pick(Seq("O", "F"), 8)} AS l_linestatus",
      s"$ship AS l_shipdate",
      s"date_add($ship, cast(pmod(${h(10)}, 61) AS INT) - 30) AS l_commitdate",
      s"${pick(Modes, 11)} AS l_shipmode",
      s"concat_ws(' ', ${pick(Words, 12)}, ${pick(Words, 13)}, ${pick(Words, 14)}) AS l_comment")
  }

  def orders(spark: SparkSession, seed: Long): DataFrame = {
    def h(k: Int) = s"xxhash64(id, ${seed}L, ${100 + k})"
    spark.range(Orders).selectExpr(
      "id AS o_orderkey",
      s"cast(pmod(${h(1)}, 15000) AS INT) AS o_custkey",
      s"element_at(array('O','F','P'), cast(pmod(${h(2)}, 3) AS INT) + 1) AS o_orderstatus",
      s"1000 + pmod(${h(3)}, 50000000) AS o_totalprice",
      s"date_add(date'1995-01-01', cast(id * $Days div $Orders AS INT)) AS o_orderdate",
      s"element_at(${arr(Priorities)}, cast(pmod(${h(4)}, 5) AS INT) + 1) AS o_orderpriority")
  }

  final case class Op(shape: Int, sql: String, filters: Seq[Filter], columns: Int) {
    def refSql: String = sql.replace("pb.db.lineitem", "ref_lineitem").replace("pb.db.orders", "ref_orders")
  }

  private def date(dayOffset: Long): String =
    java.time.LocalDate.of(1995, 1, 1).plusDays(dayOffset).toString

  /** One op with seeded parameters; `u` in [0, 1) places its selectivity
    * on the log scale from 1e-3 up to [[MaxSelectivity]] of its shape,
    * and `k` columns are projected. */
  def genOp(rng: java.util.SplittableRandom, shape: Int, u: Double, k: Int): Op = {
    val sel = math.pow(10, -3.0 + (3.0 + math.log10(MaxSelectivity(shape))) * u)
    val chosen = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle(Numeric ++ Other).take(k)
    def agg(c: String, alias: String) =
      if (Numeric.contains(c)) s"sum($alias$c) AS s_$c" else s"max($alias$c) AS m_$c"
    def keyRange = {
      val w = math.max(1L, (sel * Orders).toLong)
      val a = (rng.nextDouble() * (Orders - w + 1)).toLong
      (a, a + w - 1)
    }
    def dayRange(span: Int) = {
      val w = math.max(1L, (sel * span).toLong)
      val a = (rng.nextDouble() * (span - w + 1)).toLong
      (a, a + w - 1)
    }
    shape match {
      case 0 =>
        val (a, b) = keyRange
        Op(0, s"SELECT count(*) AS n, ${chosen.map(agg(_, "")).mkString(", ")} " +
          s"FROM pb.db.lineitem WHERE l_orderkey BETWEEN $a AND $b",
          Seq(GreaterThanOrEqual("l_orderkey", a), LessThanOrEqual("l_orderkey", b)), k + 1)
      case 1 =>
        val (a, b) = dayRange(Days + 30)
        val mode = Modes(rng.nextInt(Modes.size))
        val word = Words(rng.nextInt(Words.size))
        Op(1, s"SELECT l_orderkey, l_linenumber, ${chosen.mkString(", ")} FROM pb.db.lineitem " +
          s"WHERE l_shipmode = '$mode' AND l_comment LIKE '%$word%' " +
          s"AND l_shipdate BETWEEN DATE'${date(a)}' AND DATE'${date(b)}'",
          Seq(EqualTo("l_shipmode", mode), StringContains("l_comment", word),
            GreaterThanOrEqual("l_shipdate", java.sql.Date.valueOf(date(a))),
            LessThanOrEqual("l_shipdate", java.sql.Date.valueOf(date(b)))),
          (Seq("l_orderkey", "l_linenumber", "l_shipmode", "l_comment", "l_shipdate") ++ chosen).distinct.size)
      case 2 =>
        val (a, b) = keyRange
        val buckets = 3 + rng.nextInt(8)
        Op(2, s"SELECT width_bucket(l_quantity, 0, 51, $buckets) AS bucket, count(*) AS n, " +
          s"${chosen.map(agg(_, "")).mkString(", ")} FROM pb.db.lineitem " +
          s"WHERE l_orderkey BETWEEN $a AND $b GROUP BY 1",
          Seq(GreaterThanOrEqual("l_orderkey", a), LessThanOrEqual("l_orderkey", b)),
          (Seq("l_orderkey", "l_quantity") ++ chosen).distinct.size)
      case _ =>
        val (a, b) = dayRange(Days)
        Op(3, s"SELECT o.o_orderpriority, count(*) AS n, ${chosen.map(agg(_, "l.")).mkString(", ")} " +
          "FROM pb.db.lineitem l JOIN pb.db.orders o ON l.l_orderkey = o.o_orderkey " +
          s"WHERE o.o_orderdate BETWEEN DATE'${date(a)}' AND DATE'${date(b)}' " +
          "GROUP BY o.o_orderpriority",
          Seq.empty, k + 1)
    }
  }

  /** The timed ops follow one fixed schedule of strata. Shapes repeat in
    * [[ShapeCycle]]; per shape, one op per selectivity stratum, visited
    * alternately from the cheap and the expensive end; the projected
    * column count cycles 1 to 6. Inside its stratum every parameter is
    * drawn from the seed. So each seed runs the same mix of op costs in
    * the same order, and only the parameters differ. */
  def timedOps(seed: Long, n: Int): IndexedSeq[Op] = {
    val shapes = (0 until n).map(i => ShapeCycle(i % ShapeCycle.size))
    val counts = shapes.groupBy(identity).map { case (k, v) => k -> v.size }
    val seen = mutable.HashMap[Int, Int]().withDefaultValue(0)
    shapes.zipWithIndex.map { case (shape, i) =>
      val j = seen(shape)
      seen(shape) = j + 1
      val m = counts(shape)
      val stratum = if (j % 2 == 0) j / 2 else m - 1 - j / 2
      val rng = Seeds.stream(seed, Seeds.Timed, i)
      genOp(rng, shape, (stratum + rng.nextDouble()) / m, 1 + (j + shape) % 6)
    }
  }

  private def graftScans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
    case q: QueryStageExec => graftScans(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(graftScans) ++ other.subqueries.flatMap(graftScans)
  }

  def run(ctx: Ctx): mutable.LinkedHashMap[String, Any] = {
    val spark = ctx.spark
    val wh = s"${ctx.work}/wh"
    val liLoc = s"$wh/db/lineitem"
    val ordLoc = s"$wh/db/orders"

    // set-up, repeated: generate and load both tables; the last load is kept
    val (_, buildWalls) = ctx.repeatSetup(ScanWorkload.BuildReps) { r =>
      val ns = if (r == ScanWorkload.BuildReps - 1) "db" else s"rep$r"
      val li = lineitem(spark, ctx.seed)
      val t = GraftTable.create(spark, s"$wh/$ns/lineitem", li.schema,
        GraftTableOptions(compression = "zstd", sortBy = Seq("l_orderkey")))
      t.append(li.repartitionByRange(Files, col("l_orderkey")))
      val od = orders(spark, ctx.seed)
      val o = GraftTable.create(spark, s"$wh/$ns/orders", od.schema,
        GraftTableOptions(compression = "zstd", sortBy = Seq("o_orderkey")))
      o.append(od.repartitionByRange(8, col("o_orderkey")))
      if (ns != "db") DirBytes.delete(s"$wh/$ns")
    }
    val table = GraftTable.open(spark, liLoc)
    val filesTotal = table.relFiles.size

    def exec(op: Op): Array[Row] = spark.sql(op.sql).collect()

    val warm = ctx.warmup(perRound = 4, minRounds = 2, maxRounds = 3) { i =>
      val rng = Seeds.stream(ctx.seed, Seeds.Warmup, i)
      val op = genOp(rng, ShapeCycle(i % ShapeCycle.size), rng.nextDouble(), 1 + rng.nextInt(6))
      ctx.ledger.warmup(op.sql)
      exec(op)
    }

    val n = (ctx.plannedOps(PlannedOpsPerSecond, 12) + 5) / 6 * 6
    val ops = timedOps(ctx.seed, n)
    val digests = new Array[(Long, Long)](n)
    val perOp = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val catalyst = mutable.HashMap[String, Double]()
    val phase = new Phase(ctx)
    phase.begin()
    ops.zipWithIndex.foreach { case (op, i) =>
      val id = s"t$i"
      ctx.ledger.timedOp(op.sql)
      ctx.tracer match {
        case None =>
          phase.run(id)(exec(op)).foreach(rows => digests(i) = ResultDigest.of(rows))
        case Some(t) =>
          val res = phase.run(id) {
            val (df, an) = t.span(id, "analyze")(spark.sql(op.sql))
            val (_, opt) = t.span(id, "optimize")(df.queryExecution.optimizedPlan)
            val (_, pl) = t.span(id, "plan")(df.queryExecution.executedPlan)
            (df, df.collect(), an, opt, pl)
          }
          res.foreach { case (df, rows, an, opt, pl) =>
            digests(i) = ResultDigest.of(rows)
            catalyst(id) = an + opt + pl
            val a = System.nanoTime()
            val kept = table.prunedFiles(op.filters).size
            val pruneMs = (System.nanoTime() - a) / 1e6
            val scans = graftScans(df.queryExecution.executedPlan)
              .filter(_.output.exists(_.name == "l_orderkey"))
            def metric(name: String) =
              scans.flatMap(_.metrics.get(name)).map(_.value).sum
            // the scan's static pruning must agree with the table's pruner
            val static = metric("graftFilesPrunedStatic")
            val agrees = static == filesTotal - kept
            if (!agrees) phase.fail(s"$id: graftFilesPrunedStatic $static, but the " +
              s"pruner kept $kept of $filesTotal files: ${op.sql}")
            perOp += Json.obj("op" -> id, "shape" -> ShapeNames(op.shape),
              "columns" -> op.columns, "analyze_ms" -> an, "optimize_ms" -> opt,
              "plan_ms" -> pl, "prune_ms" -> pruneMs, "files_kept" -> kept,
              "files_pruned_static" -> static, "static_matches_pruner" -> agrees,
              "files_pruned_runtime" -> metric("graftFilesPrunedRuntime"))
          }
      }
    }
    phase.end()
    val heapMb = Jvm.heapAfterGcMb()

    Log("checking answers")
    // correctness: the same SQL over the same generated rows, written and
    // read by Spark's stock parquet source
    val ref = s"${ctx.work}/ref"
    lineitem(spark, ctx.seed).write.parquet(s"$ref/lineitem")
    orders(spark, ctx.seed).write.parquet(s"$ref/orders")
    spark.read.parquet(s"$ref/lineitem").createOrReplaceTempView("ref_lineitem")
    spark.read.parquet(s"$ref/orders").createOrReplaceTempView("ref_orders")
    Log("reference written")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val wants = ops.indices.filter(digests(_) != null).map { i =>
        i -> pool.submit(() => ResultDigest.of(spark.sql(ops(i).refSql).collect()))
      }
      wants.foreach { case (i, want) =>
        if (want.get() != digests(i)) phase.fail(s"t$i: result differs from the parquet reference: ${ops(i).sql}")
      }
    } finally pool.shutdown()
    Log("reference compared")
    val userBytes = spark.read.parquet(s"$ref/lineitem")
      .selectExpr("sum(length(concat_ws(',', *)) + 1)").head.getLong(0)
    val stored = table.tableSize()
    val loadWritten = DirBytes.total(liLoc)

    val layers = Layers.empty
    ctx.tracer.foreach { t =>
      val ids = (0 until n).map(i => s"t$i").filter(catalyst.contains)
      layers ++= Layers.exec(t, ids, catalyst.getOrElse(_, 0.0))
      layers ++= Layers.jvm(phase, ids.size)
      def avg(k: String, rows: Seq[mutable.LinkedHashMap[String, Any]] = perOp.toSeq) =
        Stats.mean(rows.map(_(k).asInstanceOf[Number].doubleValue))
      val joins = perOp.filter(_("shape") == ShapeNames(3)).toSeq
      layers ++= Seq(
        "storage.open_ms" -> Layers.openMs(spark, liLoc),
        "storage.meta_bytes" -> Layers.metaBytes(liLoc).toDouble,
        "storage.prune_ms" -> avg("prune_ms"),
        "storage.files_total" -> filesTotal.toDouble,
        "storage.files_kept_per_op" -> avg("files_kept"),
        "storage.prune_ratio" -> Stats.mean(perOp.toSeq.map(r =>
          1.0 - r("files_kept").asInstanceOf[Int].toDouble / filesTotal)),
        "storage.small_file_ratio_end" -> Layers.smallFileRatio(table.relFiles.map(f => s"$liLoc/$f")),
        "sql_graft.files_pruned_static_per_op" -> avg("files_pruned_static"),
        "sql_graft.files_pruned_runtime_per_op" -> (if (joins.isEmpty) 0.0 else avg("files_pruned_runtime", joins)),
        "spark.catalyst.analyze_ms" -> avg("analyze_ms"),
        "spark.catalyst.optimize_ms" -> avg("optimize_ms"),
        "spark.catalyst.plan_ms" -> avg("plan_ms"))
      perOp.foreach { r =>
        val c = t.countersFor(r("op").toString)
        r("input_bytes") = c.inputBytes
      }
    }

    Json.obj(
      "setup" -> (Json.obj("session_s" -> ctx.sessionS, "build_s" -> buildWalls,
        "setup_s" -> (ctx.sessionS + Stats.median(buildWalls) + warm("warmup_s").asInstanceOf[Double])) ++ warm),
      "timed" -> phase.json,
      "planned_ops" -> n,
      "heap_mb" -> heapMb,
      "user_bytes" -> userBytes,
      "bytes_stored_per_user_byte" -> stored.toDouble / userBytes,
      "write_amp" -> loadWritten.toDouble / userBytes,
      "write_amp_scope" -> "set-up load",
      "recall_at_10" -> 1.0,
      "counts" -> Json.obj("files_total" -> filesTotal, "table_bytes" -> stored,
        "load_bytes_written" -> loadWritten,
        "result_rows" -> digests.filter(_ != null).map(_._1).sum),
      "layers" -> layers,
      "per_op" -> perOp.toSeq)
  }
}
