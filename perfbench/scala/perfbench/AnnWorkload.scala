package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** `ann`: a seeded corpus of 64-dim vectors from a Gaussian mixture,
  * indexed in set-up with `buildIvfIndexFrom` and the PQ rung. Each op is
  * one `probeIvfPqRaw` over a seeded batch of query vectors; every
  * `AppendEvery` probes, `appendToIvfPqIndex` adds fresh vectors. Appends
  * count toward throughput, not latency. Every probe is checked against
  * an exact brute-force scan of the in-memory corpus. */
object AnnWorkload {
  val Dims = 64
  val Clusters = 16
  val Rank = 6
  val Spread = 0.5
  val Noise = 0.1
  val CorpusSize = 2000
  val Lists = 8
  val Probes = 2
  val QueriesPerOp = 16
  val AppendEvery = 5
  val AppendSize = 200
  val PlannedOpsPerSecond = 0.45
  val BuildReps = 3
  val TopK = 10
  // auto-compaction threshold set on the index's postings and codes
  // tables, so appends run the storage write path with compaction
  val AutoCompactMinFiles = 4
  private val QueryIdBase = 1000000000000L

  val VectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** The mixture: each component is a Gaussian around its own centre
    * whose variance lies mostly in a random `Rank`-dim subspace, as
    * embeddings of one topic vary along a few directions. */
  final class Corpus(seed: Long) {
    private val (centers, bases) = {
      val rng = Seeds.stream(seed, Seeds.Data, -1L)
      (Array.fill(Clusters, Dims)(gaussian(rng)),
        Array.fill(Clusters, Rank, Dims)(Spread * gaussian(rng)))
    }
    val ids = mutable.ArrayBuffer[Long]()
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val norms = mutable.ArrayBuffer[Double]()

    def draw(rng: java.util.SplittableRandom): Array[Float] = drawFrom(rng, rng.nextInt(Clusters))

    def drawFrom(rng: java.util.SplittableRandom, k: Int): Array[Float] = {
      val z = Array.fill(Rank)(gaussian(rng))
      Array.tabulate(Dims) { d =>
        var x = centers(k)(d) + Noise * gaussian(rng)
        var r = 0
        while (r < Rank) { x += z(r) * bases(k)(r)(d); r += 1 }
        x.toFloat
      }
    }

    def add(id: Long, v: Array[Float]): Unit = { ids += id; vecs += v; norms += norm(v) }

    def cosine(q: Array[Float], id: Long): Option[Double] = index.get(id).map(i =>
      dot(q, vecs(i)) / (norm(q) * norms(i)))

    private lazy val indexMap = mutable.HashMap[Long, Int]()
    private def index: mutable.HashMap[Long, Int] = {
      while (indexMap.size < ids.size) indexMap(ids(indexMap.size)) = indexMap.size
      indexMap
    }
  }

  private def gaussian(rng: java.util.SplittableRandom): Double = {
    // Box-Muller from the seeded stream
    val u1 = 1.0 - rng.nextDouble()
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  def frame(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.toSeq) }, 4), VectorSchema)

  private def fingerprint(rows: Seq[(Long, Array[Float])]): String =
    rows.map { case (id, v) => s"$id:${java.util.Arrays.hashCode(v)}" }.mkString(",")

  def run(ctx: Ctx): mutable.LinkedHashMap[String, Any] = {
    val spark = ctx.spark
    val corpus = new Corpus(ctx.seed)
    val dataRng = Seeds.stream(ctx.seed, Seeds.Data, 0L)
    (0 until CorpusSize).foreach(i => corpus.add(i.toLong, corpus.draw(dataRng)))
    val root = s"${ctx.work}/wh/db/ann"

    // set-up, repeated: build the IVF index and its PQ rung; the last is kept
    val (_, buildWalls) = ctx.repeatSetup(BuildReps) { r =>
      val dir = if (r == BuildReps - 1) root else s"${ctx.work}/wh/rep$r/ann"
      val df = frame(spark, corpus.ids.indices.map(i => (corpus.ids(i), corpus.vecs(i))))
      Similarity.buildIvfIndexFrom(spark, df, dir, nLists = Lists, iters = 1)
      Similarity.quantizeIndex(spark, dir, "pq")
      if (dir != root) DirBytes.delete(s"${ctx.work}/wh/rep$r")
    }
    val appendTables = Seq("postings", "codes").map(x => s"$root/$x")
    appendTables.foreach(loc => graft.storage.GraftTable.open(spark, loc)
      .setOptions(Map("auto_compact_min_files" -> AutoCompactMinFiles.toString)))

    def queries(purpose: Long, i: Int): Seq[(Long, Array[Float])] = {
      val rng = Seeds.stream(ctx.seed, purpose, i)
      val base = QueryIdBase * purpose + i.toLong * QueriesPerOp
      (0 until QueriesPerOp).map(j => (base + j, corpus.drawFrom(rng, j % Clusters)))
    }
    def probe(q: Seq[(Long, Array[Float])]): Array[Row] =
      Similarity.probeIvfPqRaw(spark, root, frame(spark, q), None, Probes).collect()

    val warm = ctx.warmup(perRound = 1, minRounds = 1, maxRounds = 1) { i =>
      val q = queries(Seeds.Warmup, i)
      ctx.ledger.warmup(fingerprint(q))
      probe(q)
    }

    val n = ctx.plannedOps(PlannedOpsPerSecond, 11)
    val appendIds = Iterator.from(0).map(a => CorpusSize.toLong + a.toLong * AppendSize)
    var appended = 0L
    var written = 0L
    val appendMs = mutable.ArrayBuffer[Double]()
    val appendOps = mutable.ArrayBuffer[String]()
    val recalls = mutable.ArrayBuffer[Double]()
    val checks = mutable.ArrayBuffer[(String, Seq[(Long, Array[Float])], Array[Row], Int)]()
    val watch = new Layers.CompactionWatch(spark, appendTables)
    val phase = new Phase(ctx)
    phase.begin()
    (0 until n).foreach { i =>
      if (i > 0 && i % AppendEvery == 0) {
        val a = i / AppendEvery
        val rng = Seeds.stream(ctx.seed, Seeds.Append, a)
        val first = appendIds.next()
        val rows = (0 until AppendSize).map(j => (first + j, corpus.draw(rng)))
        val before = DirBytes.snapshot(root)
        val df = frame(spark, rows)
        val len0 = phase.extraMs.length
        phase.run(s"a$a", inLatency = false)(Similarity.appendToIvfPqIndex(spark, root, df))
          .foreach { _ =>
            rows.foreach { case (id, v) => corpus.add(id, v) }
            appended += rows.size
            appendMs += phase.extraMs(len0)
            appendOps += s"a$a"
          }
        written += DirBytes.written(before, DirBytes.snapshot(root))
        watch.afterAppend()
      }
      val q = queries(Seeds.Timed, i)
      ctx.ledger.timedOp(fingerprint(q))
      phase.run(s"t$i")(probe(q)).foreach(rows => checks += ((s"t$i", q, rows, corpus.ids.size)))
    }
    phase.end()
    val heapMb = Jvm.heapAfterGcMb()

    // correctness: every returned neighbour exists, carries its exact
    // cosine and rank, and recall is taken against the exact top-10 over
    // the corpus as it stood when the probe ran
    checks.foreach { case (id, q, rows, corpusSize) =>
      val byQuery = rows.groupBy(_.getAs[Long]("q_id"))
      val problems = mutable.ArrayBuffer[String]()
      val perQuery = q.map { case (qid, qv) =>
        val got = byQuery.getOrElse(qid, Array.empty[Row]).sortBy(_.getAs[Long]("rank"))
        if (got.isEmpty || got.length > TopK) problems += s"q$qid returned ${got.length} rows"
        got.zipWithIndex.foreach { case (r, k) =>
          val vid = r.getAs[Long]("vec_id")
          if (r.getAs[Long]("rank") != k + 1) problems += s"q$qid rank ${r.getAs[Long]("rank")} at ${k + 1}"
          corpus.cosine(qv, vid) match {
            case Some(c) if math.abs(c - r.getAs[Double]("cos")) <= 1e-3 => ()
            case other => problems += s"q$qid vec $vid cos ${r.getAs[Double]("cos")} vs $other"
          }
          if (k > 0 && got(k - 1).getAs[Double]("cos") < r.getAs[Double]("cos"))
            problems += s"q$qid ranks out of order"
        }
        val truth = exactUpTo(corpus, qv, corpusSize).map(_._1).toSet
        got.count(r => truth.contains(r.getAs[Long]("vec_id"))).toDouble / TopK
      }
      recalls += Stats.mean(perQuery)
      if (problems.nonEmpty) phase.fail(s"$id: ${problems.take(3).mkString("; ")}")
    }

    val vectors = corpus.ids.size.toLong
    val indexBytes = DirBytes.total(root)
    val layers = Layers.empty
    ctx.tracer.foreach { t =>
      // probes and appends: cpu_s_per_op and ops_per_s count both
      val ids = (0 until n).map(i => s"t$i") ++ appendOps
      layers ++= Layers.exec(t, ids, _ => 0.0)
      layers ++= Layers.jvm(phase, ids.size)
      val tables = Seq("postings", "codes", "centroids", "codebook").map(x => s"$root/$x")
      val appendFiles = appendTables.flatMap(loc =>
        graft.storage.GraftTable.open(spark, loc).relFiles.map(f => s"$loc/$f"))
      layers ++= Seq(
        "storage.append_driver_ms" -> Layers.driverMs(t, appendOps.toSeq),
        "storage.compactions" -> watch.compactions.toDouble,
        "storage.compact_bytes_rewritten" -> watch.rewritten.toDouble,
        "storage.small_file_ratio_end" -> Layers.smallFileRatio(appendFiles),
        "storage.open_ms" -> Layers.openMs(spark, s"$root/postings"),
        "storage.meta_bytes" -> tables.map(Layers.metaBytes).sum.toDouble,
        "storage.files_total" -> tables.map(x => graft.storage.GraftTable.open(spark, x).relFiles.size).sum.toDouble,
        "operators.append_ms" -> Stats.mean(appendMs.toSeq),
        "operators.index_bytes_per_vector" -> indexBytes.toDouble / vectors)
    }

    Json.obj(
      "setup" -> (Json.obj("session_s" -> ctx.sessionS, "build_s" -> buildWalls,
        "setup_s" -> (ctx.sessionS + Stats.median(buildWalls) + warm("warmup_s").asInstanceOf[Double])) ++ warm),
      "timed" -> phase.json,
      "planned_ops" -> n,
      "heap_mb" -> heapMb,
      "user_bytes" -> vectors * Dims * 4,
      "bytes_stored_per_user_byte" -> indexBytes.toDouble / (vectors * Dims * 4),
      "write_amp" -> (if (appended == 0) 0.0 else written.toDouble / (appended * Dims * 4)),
      "write_amp_scope" -> "timed phase appends",
      "recall_at_10" -> Stats.mean(recalls.toSeq),
      "counts" -> Json.obj("vectors" -> vectors, "appended" -> appended,
        "index_bytes" -> indexBytes, "bytes_written" -> written,
        "recall_at_10" -> Stats.mean(recalls.toSeq),
        "compactions" -> watch.compactions, "compact_bytes_rewritten" -> watch.rewritten,
        "append_ms" -> appendMs.toSeq),
      "layers" -> layers)
  }

  /** Exact top-10 over the first `size` corpus vectors (the corpus as it
    * stood when the probe ran; appends only ever extend it). */
  private def exactUpTo(corpus: Corpus, q: Array[Float], size: Int): Seq[(Long, Double)] = {
    val qn = norm(q)
    (0 until size).map(i => (corpus.ids(i), dot(q, corpus.vecs(i)) / (qn * corpus.norms(i))))
      .sortBy { case (id, c) => (-c, id) }.take(TopK)
  }
}
