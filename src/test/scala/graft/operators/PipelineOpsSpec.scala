package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Invariant + planted-corpus specs for the round-5 pipeline operators:
  * d8 window dedup, t9 lexical stats, e6 cohort retention, c3 source
  * mix. (Hash-exactness vs DuckDB is the driver's gate; these prove the
  * operator semantics independently of the oracle formulation.) */
class PipelineOpsSpec extends SparkSpec {

  private val dir = sf("sf0.01")

  /** p3 store locations under this session's engine scratch root
    * (each invocation creates `<root>/p3-<uuid>/t`). */
  private def p3StoreDirs(): Seq[String] = {
    val root = new java.io.File(Dedup.scratchRoot(spark))
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p3-"))
      .map(f => f.getAbsolutePath + "/t").toSeq
  }

  test("d8: planted verbatim 8-token window is found; short docs drop out") {
    import spark.implicits._
    val planted = Seq(
      // docs 1 and 2 share one 8-token run ("w1 .. w8"), surrounded by
      // distinct text; doc 3 is unrelated; doc 4 is too short to have
      // any 8-token window
      (1L, "a b c w1 w2 w3 w4 w5 w6 w7 w8 x y z"),
      (2L, "p q w1 w2 w3 w4 w5 w6 w7 w8 r s"),
      (3L, "completely different tokens here that never repeat anywhere else ok"),
      (4L, "too short doc"),
    ).toDF("doc_id", "text")
    val tmp = tmpDir("d8-planted")
    planted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.d8WindowDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: 14 tokens => 7 windows; the shared run contributes windows
    // at offsets where all 8 tokens fall inside "w1..w8" => exactly 1
    // shared window per doc (the run itself)
    assert(out(1L) === ((7L, 1L)), "doc 1 window/dup counts")
    assert(out(2L) === ((5L, 1L)), "doc 2 window/dup counts")
    assert(out(3L)._2 === 0L, "doc 3 has no duplicated window")
    assert(!out.contains(4L), "doc 4 (< 8 tokens) has no windows")
  }

  test("d8: agrees with an independent count-distinct formulation") {
    val got = Dedup.d8WindowDedup(spark, dir)
    val toks = split(col("text"), " ")
    val wins = when(size(toks) >= 8,
      transform(sequence(lit(0), size(toks) - 8),
        i => concat_ws(" ", slice(toks, i + 1, lit(8)))))
      .otherwise(array().cast("array<string>"))
    val w = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(wins).as("win"))
    val shared = w.groupBy("win").agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("win")
    val expect = w.groupBy("doc_id").agg(count(lit(1)).as("n_win"))
      .join(w.join(shared, "win").groupBy("doc_id").agg(count(lit(1)).as("n_dup")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_win"), coalesce(col("n_dup"), lit(0L)).as("n_dup"))
    val gotSlim = got.select("doc_id", "n_win", "n_dup")
    assert(gotSlim.exceptAll(expect).isEmpty && expect.exceptAll(gotSlim).isEmpty,
      "min<max shared-window formulation must equal count_distinct>=2")
  }

  test("t9: per-doc invariants and a hand-checked doc") {
    val out = TextAnalysis.t9LexicalStats(spark, dir)
    assert(out.filter(col("n_hapax") > col("n_types") ||
      col("n_types") > col("n_tok") ||
      col("ttr") <= 0 || col("ttr") > 1 ||
      col("hapax_ratio") < 0 || col("hapax_ratio") > 1).isEmpty,
      "hapax <= types <= tokens; ratios in range")
    // independent per-doc computation for one document
    val doc = Tables.load(spark, dir, "documents").filter(col("doc_id") === 0)
      .select(split(col("text"), " ").as("toks"))
      .select(size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"),
        size(filter(col("toks"),
          t => size(filter(col("toks"), x => x === t)) === 1)).cast("long").as("n_hapax"))
      .head()
    val got = out.filter(col("doc_id") === 0).head()
    assert(got.getLong(1) === doc.getLong(0), "n_tok")
    assert(got.getLong(2) === doc.getLong(1), "n_types")
    assert(got.getLong(4) === doc.getLong(2), "n_hapax")
  }

  test("e6: offset-0 diagonal covers every user; cells never exceed cohort size") {
    val out = Events.e6Retention(spark, dir)
    val nUsers = Tables.load(spark, dir, "events")
      .select(count_distinct(col("user_id"))).head().getLong(0)
    val diag = out.filter(col("wk_offset") === 0)
      .agg(sum("n_users")).head().getLong(0)
    assert(diag === nUsers, "every user appears in their cohort's offset-0 cell")
    val over = out.as("a").join(
      out.filter(col("wk_offset") === 0).select(col("cohort_wk"),
        col("n_users").as("cohort_size")), "cohort_wk")
      .filter(col("n_users") > col("cohort_size"))
    assert(over.isEmpty, "retained users cannot exceed the cohort size")
  }

  test("e6: salted distinct equals the naive count_distinct formulation") {
    val got = Events.e6Retention(spark, dir).select("cohort_wk", "wk_offset", "n_users")
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(604800000000.0)).cast("long").as("wk"))
    val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val expect = ev.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  /** 8 tight groups in 64-dim space; vec_id i belongs to group i % 8 so
    * the first-k init picks one seed per group. */
  private def plantedClusters(): String = {
    import spark.implicits._
    val rows = (0 until 80).map { i =>
      val g = i % 8
      val v = Array.tabulate(64)(d =>
        (if (d == g * 8) 10.0f else 0.0f) + 0.01f * ((i * 7 + d) % 5))
      (i.toLong, v)
    }
    val tmp = tmpDir("planted-clusters")
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  test("s4: recovers planted well-separated clusters; assigns every vector") {
    val tmp = plantedClusters()
    val out = Similarity.s4Kmeans(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 80, "every vector is assigned")
    (0 until 80).foreach { i =>
      assert(out(i.toLong) === out((i % 8).toLong),
        s"vec $i must land in its group's cluster")
    }
    assert(out.values.toSet.size === 8, "8 distinct clusters survive")
  }

  test("s5: ADC retrieves every same-cluster member on the planted corpus") {
    val tmp = plantedClusters()
    val out = Similarity.s5PqAnn(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 5L).foreach { q =>
      val coMembers = (0 until 80).map(_.toLong)
        .filter(i => i != q && i % 8 == q % 8).toSet // 9 per group
      assert(coMembers.subsetOf(out(q)),
        s"query $q top-10 must contain all 9 same-cluster vectors; " +
          s"missing ${coMembers -- out(q)}")
    }
  }

  test("s5: shape invariants — 10 ranked rows per query, no self-match") {
    val out = Similarity.s5PqAnn(spark, dir)
    assert(out.count() === 50)
    assert(out.filter(col("q_id") === col("vec_id")).isEmpty)
    val ranks = out.groupBy("q_id").agg(
      count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn")).collect()
    ranks.foreach { r =>
      assert(r.getLong(1) === 10 && r.getLong(2) === 10L && r.getLong(3) === 1L)
    }
  }

  test("s4: corpus invariants — full coverage, k clusters max, d2 >= 0") {
    val out = Similarity.s4Kmeans(spark, dir)
    val n = Tables.load(spark, dir, "embeddings").count()
    assert(out.count() === n)
    // (v·v − 2v·c) + c·c can cancel to a tiny negative for a point
    // sitting on its centroid — allow that epsilon, nothing more
    assert(out.filter(col("cluster_id") < 0 || col("cluster_id") > 7 ||
      col("d2") < -1e-6).isEmpty)
  }

  test("e7: flagged outliers agree with builtin population moments") {
    val out = Events.e7Outliers(spark, dir)
    assert(out.filter(abs(col("z")) <= 3).isEmpty, "every flagged |z| > 3")
    // independent check via Spark's own avg/var_pop (different
    // arithmetic): sets may only disagree within float noise of the 3σ
    // boundary, and none exists on this corpus
    val ev = Tables.load(spark, dir, "events")
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("m"), stddev_pop("value").as("s"))
    val expect = ev.join(stats, "event_type")
      .filter(abs(col("value") - col("m")) > lit(3.0) * col("s") * (1 + 1e-9))
      .select("event_id")
    val flagged = out.select("event_id")
    val sym = flagged.exceptAll(expect).count() + expect.exceptAll(flagged).count()
    assert(sym === 0, s"flagged set differs from builtin-moment 3σ by $sym rows")
    assert(out.count() < ev.count() / 20, "outliers are a small tail")
  }

  test("e8: transition counts partition the lagged stream; bp sums ~10000") {
    val out = Events.e8Transitions(spark, dir).collect()
    val ev = Tables.load(spark, dir, "events")
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(out.map(_.getLong(2)).sum === expected,
      "one transition per event except each user's first")
    out.groupBy(_.getString(0)).foreach { case (prev, rows) =>
      val bp = rows.map(_.getLong(3)).sum
      assert(bp <= 10000 && bp > 10000 - rows.length,
        s"$prev: floored bp shares must sum to within #types of 10000")
    }
  }

  test("c4: funnel is monotone per source and consistent with d1") {
    val out = Sampling.c4CurationFunnel(spark, dir).collect()
    out.foreach { r =>
      val (raw, dd, q, l) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(raw >= dd && dd >= q && q >= l,
        s"${r.getString(0)}: stages must shrink monotonically")
    }
    assert(out.map(_.getLong(1)).sum ===
      Tables.load(spark, dir, "documents").count(), "raw covers the corpus")
    assert(out.map(_.getLong(2)).sum === Dedup.d1ExactDedup(spark, dir).count(),
      "dedup stage total equals d1's surviving-representative count")
  }

  test("c3: targets preserve corpus size up to flooring; weights sum to ~1") {
    val out = Sampling.c3SourceMix(spark, dir).collect()
    val total = Tables.load(spark, dir, "documents").count()
    val sumN = out.map(_.getLong(1)).sum
    assert(sumN === total, "per-source counts partition the corpus")
    val wsum = out.map(_.getDouble(2)).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to ~1, got $wsum")
    val sumTargets = out.map(_.getLong(3)).sum
    assert(sumTargets <= total && sumTargets > total - out.length,
      "floored targets lose < 1 doc per source")
    // flattening: a source with more docs never gets a LOWER weight,
    // and the weight ratio is damped vs the count ratio
    val byN = out.sortBy(_.getLong(1))
    byN.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(2) <= b.getDouble(2) + 1e-12, "monotone weights")
      case _ =>
    }
  }

  test("p3: the store is in the loop - two commits, append rewrites nothing, batch is fingerprint-deduped") {
    // a private scratch root: the p3-* directories listed below are then
    // exactly the stores this test opened, not another spec's in this JVM
    withConf("spark.graft.scratchDir", tmpDir("p3-scratch")) {
      val dir = sf("sf0.001")
      val before = p3StoreDirs().toSet
      val out = Pipeline.p3IncrementalRefresh(spark, dir).collect()
      assert(out.nonEmpty)
      // optimization round 18: both appends REBALANCE before the write,
      // so the store must NOT carry one near-empty file per shuffle
      // partition (32 at the session default) — at this scale each
      // append coalesces to ~one sized file. Pin the new write shape on
      // the entry's own store (the freshest p3-* dir under the scratch
      // root this call created).
      val created = (p3StoreDirs().toSet -- before).toSeq
      assert(created.nonEmpty, "the entry must create its store under the scratch root")
      // the rebalance hint sizes files only under AQE; without it the
      // hint is a plain shuffle at spark.sql.shuffle.partitions
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
        "spark.sql.adaptive.enabled must be true: it is the precondition of the rebalance file-count pin below")
      created.foreach { loc =>
        val st = graft.storage.GraftTable.open(spark, loc)
        assert(st.committedFiles.size <= 4,
          s"rebalanced appends must write few sized files, got ${st.committedFiles.size}")
      }
      // ids are unique (both dedup levels held) and the 80/20 split is
      // respected: every id is a base or batch id
      val ids = out.map(_.getLong(0)).toSeq
      assert(ids.distinct.length === ids.length)
      // drive the same pipeline by hand to inspect the STORE's commit
      // mechanics (the entry uses a fresh temp store per call, so probe a
      // fresh one through the same public surface)
      import graft.storage.GraftTable
      import org.apache.spark.sql.functions.md5
      val docs = Tables.load(spark, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      val base = docs.filter(col("doc_id") % 5 =!= 4).limit(20)
      val loc = tmpDir("p3-probe") + "/t"
      val t = GraftTable.create(spark, loc, base.schema)
      t.append(base)
      val filesAfterBase = GraftTable.open(spark, loc).committedFiles.toSet
      val vAfterBase = GraftTable.open(spark, loc).version
      GraftTable.open(spark, loc).append(docs.filter(col("doc_id") % 5 === 4).limit(5))
      val t2 = GraftTable.open(spark, loc)
      assert(filesAfterBase.subsetOf(t2.committedFiles.toSet),
        "the incremental append must not rewrite the base commit's files")
      assert(t2.version === vAfterBase + 1, "exactly one CAS commit per refresh")
      assert(t2.verify() === Seq.empty)
      GraftTable.drop(loc)
    }
  }

  test("p3: the store side of the dedup join is Bloom-pruned, never broadcast-hinted") {
    // VERDICT r10 #1: the committed store is the ACCUMULATING corpus —
    // a broadcast hint on its fingerprint set is a driver-OOM at scale.
    // Pin the fixed shape: batch sketch → might_contain prune of the
    // store scan → exact anti join, with no ResolvedHint anywhere.
    import graft.storage.GraftTable
    import org.apache.spark.sql.functions.md5
    val docs = Tables.load(spark, sf("sf0.001"), "documents").select(
      col("doc_id").cast("long").as("doc_id"), col("text"),
      col("source"), col("n_chars").cast("long").as("n_chars"))
    val base = docs.filter(col("doc_id") % 5 =!= 4).limit(50)
    val loc = tmpDir("p3-plan") + "/t"
    GraftTable.create(spark, loc, base.schema).append(base)
    val batch = docs.filter(col("doc_id") % 5 === 4).limit(20)
      .withColumn("fp", md5(col("text").cast("binary")))
    val surv = Pipeline.refreshSurvivors(spark, batch, loc)
    val analyzed = surv.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint") && !analyzed.contains("broadcast"),
      s"no broadcast hint may appear in p3's dedup join:\n${analyzed.take(2000)}")
    val plan = surv.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected the batch-sketch might_contain prune of the store scan:\n${plan.take(2000)}")
    // semantics unchanged: survivors = batch fingerprints absent from store
    val baseFps = GraftTable.open(spark, loc).read()
      .select(md5(col("text").cast("binary")).as("fp"))
      .collect().map(_.getString(0)).toSet
    val survRows = surv.collect()
    val batchRows = batch.collect()
    val expected = batchRows.filter(r => !baseFps.contains(
      r.getAs[String]("fp"))).map(_.getAs[Long]("doc_id")).toSet
    assert(survRows.map(_.getAs[Long]("doc_id")).toSet === expected)
    GraftTable.drop(loc)
  }

  test("p3: the refresh store rides the engine scratch root on any Hadoop scheme (mock:)") {
    // VERDICT r10 #8: the store location goes through
    // spark.graft.scratchDir + the storage layer's Hadoop FS handling,
    // so the entry is not married to java.nio local temp dirs.
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[graft.storage.MockFs].getName)
    val root = "mock:" + tmpDir("p3-mockroot")
    spark.conf.set("spark.graft.scratchDir", root)
    try {
      val out = Pipeline.p3IncrementalRefresh(spark, sf("sf0.001")).collect()
      assert(out.nonEmpty)
      assert(out.map(_.getLong(0)).distinct.length === out.length)
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("pii_scrub/lang_id input contract: canonical names preferred, positional fallback, uncastable id refuses loudly") {
    import spark.implicits._
    // canonical names out of order: resolved BY NAME, not position
    val named = Seq(("hello world", 5L)).toDF("text", "doc_id")
    val byName = TextAnalysis.piiScrubCore(named).collect()
    assert(byName.head.getLong(0) === 5L,
      "doc_id/text-named tables must resolve by name regardless of order")
    // positional fallback for other names (ADVICE r13)
    val positional = Seq((7L, "contact a@b.co")).toDF("id", "body")
    val pos = TextAnalysis.piiScrubCore(positional).collect()
    assert(pos.head.getLong(0) === 7L && pos.head.getLong(1) === 1L)
    assert(TextAnalysis.langIdCore(positional).collect()
      .head.getLong(0) === 7L)
    // a mis-ordered unnamed table would silently NULL every id through
    // the non-ANSI cast — it must refuse loudly instead (review r14)
    val misordered = Seq(("prose not an id", 7L)).toDF("body", "id")
    val e = intercept[Exception] {
      TextAnalysis.piiScrubCore(misordered).collect()
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("does not cast to a long id"), msgs(e))
  }
}
