package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.storage.GraftTable

/** The quantized rungs of the persisted ANN index (PQ `codes`, int8
  * `codes_i8`, binary `codes_bin`): their raw probes from an AQE-on
  * caller, their Spark job counts, their on-disk layout, and the
  * equivalence of the memoized builders with `quantizeIndex`. */
class AnnRungSpec extends SparkSpec {

  private def dir = sf("sf0.001")

  private def rawQueries(s: SparkSession) =
    s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))

  private def enIds(s: SparkSession) =
    Tables.load(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id").cast("long").as("id"))

  private type Probe =
    (SparkSession, String, DataFrame, Option[DataFrame], Int) => DataFrame

  /** (rung, memoized builder, raw probe, probe on a normalized batch). */
  private val rungs: Seq[(String, (SparkSession, String) => String, Probe, Probe)] = Seq(
    ("int8", Similarity.int8IndexDir _, Similarity.probeIvfInt8Raw _,
      Similarity.probeIvfInt8 _),
    ("bin", Similarity.binIndexDir _, Similarity.probeIvfBinRaw _,
      Similarity.probeIvfBin _))

  for ((rung, build, raw, probe) <- rungs) {
    test(s"raw $rung probe from an AQE-on caller returns exactly the probe's rows on the probe session") {
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
        "the caller must run with AQE on, or this pins nothing")
      val root = build(spark, dir)
      val s2 = Similarity.probeSession(spark)
      for (nprobe <- Seq(1, 2); filtered <- Seq(false, true)) {
        val out = raw(spark, root, rawQueries(spark),
          if (filtered) Some(enIds(spark)) else None, nprobe)
        assert(out.sparkSession.conf.get("spark.sql.adaptive.enabled") === "false",
          "the raw probe must plan on the AQE-off probe session")
        val got = out.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
        val want = probe(s2, root,
          Similarity.normalizeQueryFrame(rawQueries(s2)),
          if (filtered) Some(enIds(s2)) else None, nprobe)
          .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
        assert(got.nonEmpty, s"nprobe=$nprobe filtered=$filtered returned nothing")
        assert(got === want, s"nprobe=$nprobe filtered=$filtered")
      }
    }

    test(s"raw $rung probe runs each bounded intermediate once: job count pinned") {
      val root = build(spark, dir)
      for (nprobe <- Seq(1, 2); filtered <- Seq(false, true)) {
        def run() = raw(spark, root, rawQueries(spark),
          if (filtered) Some(enIds(spark)) else None, nprobe).collect()
        run() // first call opens the index tables
        val jobs = jobsOf { run(); () }
        info(s"nprobe=$nprobe filtered=$filtered: $jobs jobs")
        // the PQ probe's once-run steps (AnnIndexSpec pins 12/13): the
        // int8 query table adds the committed scale's broadcast, the
        // sign-word table reads no table, and the filtered probe adds the
        // filter side's broadcast. A probe that evaluates `assigned` once
        // per consumer runs 3-4 more jobs and fails this pin.
        val pin = (if (rung == "int8") 12 else 10) + (if (filtered) 1 else 0)
        assert(jobs <= pin,
          s"$rung nprobe=$nprobe filtered=$filtered ran $jobs jobs (pin $pin)")
      }
    }
  }

  /** Jobs `body` submits, counted by a SparkListener on its job group. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"rung-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "raw rung probe job-count pin")
      try body finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBus.drain(sc)
    } finally sc.removeSparkListener(l)
    n.get()
  }

  /** Every table a rung commits, with its literal schema: indexes built
    * by earlier code open only while these hold. */
  private val layout: Seq[(String, Seq[(String, String)])] = Seq(
    "pq" -> Seq(
      "codebook" -> "struct<m:int,cid:int,cv:array<double>,cc:double>",
      "codes" -> "struct<label:int,vec_id:bigint,codes:array<int>>"),
    "int8" -> Seq(
      "i8meta" -> "struct<scale:double>",
      "codes_i8" -> "struct<label:int,vec_id:bigint,code:array<bigint>>"),
    "bin" -> Seq(
      "codes_bin" -> "struct<label:int,vec_id:bigint,code:array<bigint>>"))

  private def builder(rung: String): (SparkSession, String) => String =
    rung match {
      case "pq" => Similarity.ivfPqIndexDir
      case "int8" => Similarity.int8IndexDir
      case "bin" => Similarity.binIndexDir
    }

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("each rung's sibling tables keep their names and schemas") {
    for ((rung, tables) <- layout; (name, schema) <- tables) {
      val t = GraftTable.open(spark, s"${builder(rung)(spark, dir)}/$name")
      assert(t.readSchema().simpleString === schema, s"$rung: $name")
    }
  }

  test("quantizeIndex on a clone of the IVF root commits the memoized builders' rows, codebook as one file") {
    val root = Similarity.ivfIndexDir(spark, dir)
    val clone = tmpDir("ann-rung-clone")
    Seq("centroids", "postings").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$clone/$t"))
    // AQE off: the codebook's aggregate lands at the session's shuffle
    // width, so only an explicit one-file commit passes the count below
    withConf("spark.sql.adaptive.enabled", "false") {
      for ((rung, tables) <- layout) {
        val built = builder(rung)(spark, dir)
        assert(Similarity.quantizeIndex(spark, clone, rung) ===
          GraftTable.open(spark, s"$built/${tables.last._1}").rowCountFromMetadata())
        for ((name, _) <- tables) {
          assert(rowSet(GraftTable.open(spark, s"$built/$name").read()) ===
            rowSet(GraftTable.open(spark, s"$clone/$name").read()),
            s"$rung: $name rows differ")
        }
      }
    }
    // the codebook trained from postings is s5's corpus codebook, so a
    // root whose codebook was trained from the embeddings table serves
    // the same codes
    val pqRoot = Similarity.ivfPqIndexDir(spark, dir)
    assert(rowSet(GraftTable.open(spark, s"$pqRoot/codebook").read()) ===
      rowSet(Similarity.pqCodebook(spark, dir).select("m", "cid", "cv", "cc")))
    for ((path, r) <- Seq("ivfPqIndexDir" -> pqRoot, "quantizeIndex" -> clone)) {
      val files = GraftTable.open(spark, s"$r/codebook").committedFiles.size
      info(s"codebook via $path: $files file(s)")
      assert(files === 1, s"codebook via $path committed as $files files")
    }
  }
}
