package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.functions.{AdcScore, DotProduct}

/** The quantized probes' driver step and `AdcScore`, pinned bit for bit
  * against the Spark forms they replace, and the probes' job counts and
  * plan shapes. */
class AnnProbeSpec extends SparkSpec {

  private def dir = sf("sf0.001")

  /** Rows as a non-local frame, so projections over it run generated
    * code instead of being folded on the driver. */
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val vecT = ArrayType(DoubleType, containsNull = false)

  /** Vectors whose elements span many magnitudes, so a different add
    * order would show in the last bits. */
  private def randomVector(rng: scala.util.Random, n: Int): Array[Double] =
    Array.fill(n)((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(9) - 4))

  test("AdcScore equals the posexplode/join/sum(pdq) path, with ties and codes that have no codebook entry") {
    val rng = new scala.util.Random(11)
    val (m, k, nq) = (3, 4, 6)
    // small values make equal scores common; ~1/5 of the entries are
    // missing from the "codebook"
    val luts = Array.fill(nq)(Array.fill[java.lang.Long](m * k)(
      if (rng.nextInt(5) == 0) null else java.lang.Long.valueOf(rng.nextInt(4).toLong)))
    // codes of m-1..m+1 sub-spaces, values -1..k (out of range both
    // ways), some null
    val cands = (0 until 400).map { v =>
      Row(v % nq, v.toLong, Seq.fill(m - 1 + rng.nextInt(3))(
        if (rng.nextInt(10) == 0) null else Integer.valueOf(rng.nextInt(k + 2) - 1)))
    }
    val candT = StructType(Seq(StructField("q_id", IntegerType),
      StructField("vec_id", LongType), StructField("codes", ArrayType(IntegerType))))
    val qtab = frame(for {
      q <- 0 until nq; j <- 0 until m * k if luts(q)(j) != null
    } yield Row(q, j / k, j % k, luts(q)(j)), StructType(Seq(
      StructField("q_id", IntegerType), StructField("qm", IntegerType),
      StructField("qcid", IntegerType), StructField("pdq", LongType))))
    val old = frame(cands, candT)
      .select(col("q_id").as("a_qid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(qtab, col("a_qid") === col("q_id") && col("m") === col("qm") &&
        col("code") === col("qcid"))
      .groupBy("q_id", "vec_id").agg(sum("pdq").as("score"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lutCol = Literal.create(luts.toSeq.map(_.toSeq), ArrayType(ArrayType(LongType)))
    val viaCodegen = frame(cands, candT)
      .select(col("q_id"), col("vec_id"), DotProduct.adcScore(col("codes"),
        element_at(org.apache.spark.sql.graft.Bridge.column(lutCol), col("q_id") + 1), k)
        .as("score"))
      .filter(col("score").isNotNull)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaCodegen === old)
    val interpreted = cands.flatMap { r =>
      Option(AdcScore(Literal.create(r.getSeq[Integer](2), ArrayType(IntegerType)),
        Literal.create(luts(r.getInt(0)).toSeq, ArrayType(LongType)), k).eval())
        .map(v => (r.getInt(0), r.getLong(1)) -> v.asInstanceOf[Long])
    }.toMap
    assert(interpreted === old)
    assert(old.size > 100 && old.size < cands.size, "the inputs must exercise both sides")
  }

  test("the driver ADC table equals pqQueryTable's rows, with and without missing codebook entries") {
    val rng = new scala.util.Random(12)
    val codebook = Similarity.pqCodebook(spark, dir)
    val corpus = Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val queries = corpus ++ (0 until 6).map(i => (100L + i) -> randomVector(rng, 64))
    val q = frame(queries.map { case (id, v) => Row(id, v.toSeq) }.toSeq,
      StructType(Seq(StructField("q_id", LongType), StructField("qv", vecT))))
    for (book <- Seq(codebook, codebook.filter(!(col("m") === 2 && col("cid") < 5)))) {
      val want = Similarity.pqQueryTable(q, book).collect()
        .groupBy(_.getLong(0)).map { case (id, rs) =>
          val lut = new Array[java.lang.Long](Similarity.PqM * Similarity.PqK)
          rs.foreach(r => lut(r.getInt(1) * Similarity.PqK + r.getInt(2)) = r.getLong(3))
          id -> lut.toSeq
        }
      val lutOf = Similarity.pqLut(book.collect())
      val got = queries.map { case (id, v) => id -> lutOf(v).toSeq }.toMap
      assert(got === want)
    }
  }

  test("DotProduct.dot equals DotProduct's generated code bit for bit") {
    val rng = new scala.util.Random(13)
    val pairs = (0 until 300).map { _ =>
      val n = 1 + rng.nextInt(80)
      (randomVector(rng, n), randomVector(rng, n))
    }
    val df = frame(pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a.toSeq, b.toSeq) },
      StructType(Seq(StructField("i", IntegerType), StructField("a", vecT),
        StructField("b", vecT))))
      .select(col("i"), DotProduct.dotFast(col("a"), col("b")).as("d"))
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "the dot must run in whole-stage generated code")
    val got = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.lang.Double.doubleToRawLongBits(DotProduct.dot(a, b)) ===
        java.lang.Double.doubleToRawLongBits(got(i)), s"pair $i")
    }
  }

  /** The Spark assignment the probes ran before their driver step —
    * kept here as the reference the driver's must reproduce. */
  private def assignQueryBatch(q: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame = {
    val wAssign = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("clabel"))
    q.crossJoin(broadcast(cent.withColumnRenamed("label", "clabel")))
      .select(col("q_id"), col("qv"), col("qn"), col("clabel"),
        Similarity.cosine(col("qv"), col("cv"), col("qn"), col("cnrm")).as("ccos"))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("clabel").as("alabel"))
  }

  test("the driver's nearest-list assignment equals assignQueryBatch's rows, ties included") {
    val rng = new scala.util.Random(14)
    val dims = 16
    // labels 5..9 repeat labels 0..4's directions (scaled, so the
    // cosines tie exactly): ties break on the label
    val base = Array.fill(5)(randomVector(rng, dims).map(_ * 1e4))
    val centRows = (0 until 10).map { l =>
      val cv = if (l < 5) base(l) else base(l - 5).map(_ * 2.0)
      Row(l, cv.toSeq, math.sqrt(DotProduct.dot(cv, cv)))
    }
    val centT = StructType(Seq(StructField("label", IntegerType),
      StructField("cv", vecT), StructField("cnrm", DoubleType)))
    val qRows = (0 until 12).map { i =>
      val v = if (i < 5) base(i).map(_ * 0.5) else randomVector(rng, dims)
      Row(i.toLong, v.toSeq, math.sqrt(DotProduct.dot(v, v)))
    }
    val qT = StructType(Seq(StructField("q_id", LongType), StructField("qv", vecT),
      StructField("qn", DoubleType)))
    val root = Similarity.ivfIndexDir(spark, dir)
    val post = graft.storage.GraftTable.open(spark, s"$root/postings").read()
    val indexCase = (
      post.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")),
      graft.storage.GraftTable.open(spark, s"$root/centroids").read()
        .select(col("label"), col("cv"), col("cnrm")))
    for ((q, cent) <- Seq((frame(qRows, qT), frame(centRows, centT)), indexCase);
         nprobe <- Seq(1, 2, 3, 12)) {
      val want = assignQueryBatch(q, cent, nprobe)
        .select(col("q_id"), col("alabel")).collect().map(r => (r.get(0), r.get(1))).toSet
      val queries = Similarity.vecsOf(q.collect())
      val got = Similarity.assignNearest(queries,
        Similarity.vecsOf(cent.collect()), cent.schema("label").dataType, nprobe)
        .map { case (i, l) => (queries(i).key, l) }
      assert(got.length === got.toSet.size)
      assert(got.toSet === want, s"nprobe=$nprobe")
    }
  }

  test("the driver's sign words equal signWords', NaN and -0.0 included") {
    val rng = new scala.util.Random(15)
    val vs = (0 until 40).map(i => randomVector(rng, 1 + rng.nextInt(150))) ++ Seq(
      Array(Double.NaN, -0.0, 0.0, -1.0, Double.PositiveInfinity, Double.NegativeInfinity))
    val want = frame(vs.zipWithIndex.map { case (v, i) => Row(i, v.toSeq) },
      StructType(Seq(StructField("i", IntegerType), StructField("v", vecT))))
      .select(col("i"), Similarity.signWords("v"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(Similarity.signWordsOf(v).toSeq === want(i), s"vector $i")
    }
  }

  private def rawQueries(s: SparkSession) =
    s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))

  private def enIds(s: SparkSession) =
    Tables.load(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id").cast("long").as("id"))

  test("an empty query batch returns no rows on every rung; a query of the wrong dimension refuses") {
    val root = Similarity.ivfPqIndexDir(spark, dir)
    Similarity.int8IndexDir(spark, dir)
    Similarity.binIndexDir(spark, dir)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def raw(rows: Seq[Row]) = frame(rows, schema)
    for (rung <- "fp64" +: Similarity.RungNames) {
      assert(Similarity.probeRungRaw(spark, root, rung, raw(Nil), 2).collect().isEmpty, rung)
      val e = intercept[IllegalArgumentException](Similarity.probeRungRaw(spark, root,
        rung, raw(Seq(Row(-1L, Seq.fill(3)(1.0f)))), 1).collect())
      assert(e.getMessage.contains("has 3 dimensions; the index has 64"), rung)
    }
  }

  /** What `body` submitted under a fresh job group: its jobs'
    * descriptions and its SQL executions' physical plans. */
  private def traced(body: => Unit)
      : (Seq[String], Seq[org.apache.spark.sql.execution.SparkPlanInfo]) = {
    val sc = spark.sparkContext
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlanInfo]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if x.jobGroupId.contains(group) => plans.add(x.sparkPlanInfo)
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "the caller's description")
      try {
        body
        assert(sc.getLocalProperty("spark.job.description") === "the caller's description",
          "the probe must restore the caller's job description")
      } finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBus.drain(sc)
    } finally sc.removeSparkListener(l)
    (jobs.asScala.toSeq, plans.asScala.toSeq)
  }

  private def broadcastsLocalRows(p: org.apache.spark.sql.execution.SparkPlanInfo): Boolean = {
    def nodes(x: org.apache.spark.sql.execution.SparkPlanInfo)
        : Seq[org.apache.spark.sql.execution.SparkPlanInfo] = x +: x.children.flatMap(nodes)
    nodes(p).exists(b => b.nodeName == "BroadcastExchange" &&
      nodes(b).exists(_.nodeName == "LocalTableScan"))
  }

  private type RawProbe =
    (SparkSession, String, DataFrame, Option[DataFrame], Int) => DataFrame

  /** (rung, index builder, raw probe): each probe runs one job for its
    * inputs (the queries, the centroids, the rung's parameter table),
    * the shortlist and the re-rank, plus the filter side's broadcast. */
  private val rungs: Seq[(String, (SparkSession, String) => String, RawProbe)] = Seq(
    ("pq", Similarity.ivfPqIndexDir _, Similarity.probeIvfPqRaw _),
    ("int8", Similarity.int8IndexDir _, Similarity.probeIvfInt8Raw _),
    ("bin", Similarity.binIndexDir _, Similarity.probeIvfBinRaw _))

  for ((rung, build, raw) <- rungs)
    test(s"raw $rung probe: at most 3/4 jobs, tagged, and no broadcast of driver rows") {
      val root = build(spark, dir)
      // the query frame is read outside the measured body: inferring a
      // parquet file's schema is a job of its own, the caller's not the
      // probe's
      val queries = rawQueries(spark)
      for (nprobe <- Seq(1, 2); filtered <- Seq(false, true)) {
        def run() = raw(spark, root, queries,
          if (filtered) Some(enIds(spark)) else None, nprobe).collect()
        assert(run().nonEmpty) // the first call opens the index tables
        val (jobs, plans) = traced { run(); () }
        info(s"nprobe=$nprobe filtered=$filtered: ${jobs.size} jobs: ${jobs.mkString(", ")}")
        val limit = if (filtered) 4 else 3
        assert(jobs.size <= limit,
          s"$rung nprobe=$nprobe filtered=$filtered ran ${jobs.size} jobs (pin $limit)")
        assert(jobs.contains(s"ann_probe $rung: shortlist"))
        assert(plans.nonEmpty && !plans.exists(broadcastsLocalRows),
          s"$rung nprobe=$nprobe filtered=$filtered broadcasts a local relation")
      }
    }
}
