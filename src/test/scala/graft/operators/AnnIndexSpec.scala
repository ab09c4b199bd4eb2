package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In

import graft.{SparkSpec, Tables}
import graft.storage.GraftTable

/** s7 — the PERSISTED IVF index: s2's quantizer materialized as graft
  * tables (centroids + label-clustered postings), probes served through
  * zone-map file pruning, and incremental vector appends that never
  * touch committed files. */
class AnnIndexSpec extends SparkSpec {

  private def dir = sf("sf0.001")

  test("s7 from the persisted index equals the inline IVF plan (s2)") {
    val fromIndex = Similarity.s7AnnPersisted(spark, dir).collect()
    val inline = Similarity.s2AnnIvf(spark, dir).collect()
    assert(fromIndex.nonEmpty)
    assert(fromIndex.map(_.toSeq).toSeq === inline.map(_.toSeq).toSeq,
      "materializing the index and pruning the probe must lose nothing")
  }

  test("a probe's label filter zone-map-prunes the postings scan") {
    val root = Similarity.ivfIndexDir(spark, dir)
    val post = GraftTable.open(spark, s"$root/postings")
    val all = post.committedFiles.size
    assert(all >= 5, s"range partitioning should split the lists; got $all files")
    val one = post.prunedFiles(Seq(In("label", Array[Any](0)))).size
    assert(one < all,
      s"a single-list probe must read a file subset ($one of $all)")
    // every row is still reachable: the per-list prunes cover the corpus
    val covered = (0 to 9).flatMap(l =>
      post.prunedFiles(Seq(In("label", Array[Any](l))))).toSet
    assert(covered.size === all, "the union of list probes covers every file")
  }

  test("s20 multi-probe: nprobe=1 degenerates to s7; candidates stay inside each query's 3 nearest lists") {
    val root = Similarity.ivfIndexDir(spark, dir)
    val post = GraftTable.open(spark, s"$root/postings")
    val q = post.read().filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val single = Similarity.probeIvf(spark, root, q, nprobe = 1)
      .orderBy("q_id", "rank").collect()
    val s7 = Similarity.s7AnnPersisted(spark, dir).collect()
    assert(single.map(_.toSeq).toSeq === s7.map(_.toSeq).toSeq,
      "the probe-width dial at 1 must be exactly the single-probe path")

    // each query's returned labels ⊆ its 3 nearest centroid labels
    val cent = GraftTable.open(spark, s"$root/centroids").read().collect()
      .map(r => (r.getInt(0),
        r.getSeq[Double](1).toArray, r.getDouble(2)))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qRows = q.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val nearest3 = qRows.map { case (qid, qv, qn) =>
      qid -> cent.sortBy { case (l, cv, cn) =>
        (-dot(qv, cv) / (qn * cn), l)
      }.take(Similarity.MultiProbe).map(_._1).toSet
    }.toMap
    val out = Similarity.s20MultiprobeIvf(spark, dir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(1)).toSet.subsetOf(nearest3(qid)),
        s"query $qid returned a candidate outside its 3 probed lists")
    }
  }

  test("s20 multi-probe: recall is monotone in nprobe and exact at nprobe = nlist") {
    val root = Similarity.ivfIndexDir(spark, dir)
    val post = GraftTable.open(spark, s"$root/postings")
    val nlist = GraftTable.open(spark, s"$root/centroids")
      .rowCountFromMetadata().toInt
    val q = post.read().filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    // exact reference: the brute-force entry's first 5 ranks per query
    val exact = Similarity.s1AnnBrute(spark, dir).collect()
      .filter(_.getLong(3) <= 5)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val full = Similarity.probeIvf(spark, root, q, nprobe = nlist)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(full.toSeq === exact.toSeq,
      "probing every list must reproduce the exact brute-force top-k")
    // monotonicity: recall@5 vs exact never drops as nprobe widens
    val exactSets = exact.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def recall(nprobe: Int): Double = {
      val got = Similarity.probeIvf(spark, root, q, nprobe = nprobe).collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(2)).toSet }
      exactSets.map { case (k, ex) =>
        got.get(k).fold(0.0)(g => (g intersect ex).size.toDouble / ex.size)
      }.sum / exactSets.size
    }
    val r1 = recall(1); val r3 = recall(Similarity.MultiProbe)
    assert(r3 >= r1, s"widening the probe must not lose recall ($r1 -> $r3)")
  }

  test("s12: filtered probe of the persisted index equals the in-memory composition (s11)") {
    val fromIndex = Similarity.s12FilteredPersisted(spark, dir).collect()
    val inline = Similarity.s11FilteredIvf(spark, dir).collect()
    assert(fromIndex.nonEmpty)
    assert(fromIndex.map(_.toSeq).toSeq === inline.map(_.toSeq).toSeq,
      "the committed index + filterIds semi join must reproduce s11 exactly")
  }

  test("s12: candidates are a subset of the filter universe; probed lists only") {
    val en = Tables.load(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    val out = Similarity.s12FilteredPersisted(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => en.contains(r.getLong(2))),
      "every returned candidate must satisfy the metadata predicate (pre-filter contract)")
    // the filter must not widen the scan: returned labels stay within
    // the queries' assigned lists (file pruning is label-driven and
    // filter-independent — the semi join lands on the pruned scan)
    val probed = Similarity.s7AnnPersisted(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).groupBy(_._1)
      .map { case (q, ls) => q -> ls.map(_._2).toSet }
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      probed.get(q).foreach(ls =>
        assert(rows.map(_.getInt(1)).toSet.subsetOf(ls),
          s"query $q escaped its probed list(s)"))
    }
  }

  test("filtered IVF-PQ probe: candidates within filter, exact re-rank cosines, dense ranks") {
    import org.apache.spark.sql.functions.col
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val postT = GraftTable.open(spark, s"$root/postings")
    val q = postT.read().filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val en = Tables.load(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id").cast("long").as("id"))
    val enSet = en.collect().map(_.getLong(0)).toSet
    val got = Similarity.probeIvfPq(spark, root, q, Some(en)).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => enSet.contains(r.getLong(2))),
      "the ADC shortlist must be drawn from the filtered universe")
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def nrm(v: Array[Double]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to rows.length).toSeq)
      rows.foreach { r =>
        val (qv, c) = (raw(qid), raw(r.getLong(2)))
        val dot = qv.zip(c).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        val exact = BigDecimal(dot / (nrm(qv) * nrm(c)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(3) - exact) < 1e-9)
      }
    }
  }

  // -- s9: the composed IVF-PQ index -----------------------------------

  private def bytesOf(files: Seq[String]): Long =
    files.map(f => new java.io.File(java.net.URI.create(
      f.replace(" ", "%20")).getPath).length).sum

  test("s9 probes read code bytes, not vector bytes") {
    Similarity.s9AnnIvfPq(spark, dir).count() // force the index build
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val codes = GraftTable.open(spark, s"$root/codes")
    val post = GraftTable.open(spark, s"$root/postings")
    // the whole-index memory story: PqM small ints per vector vs
    // PqM·PqSub doubles + norm — the code files must be a small
    // fraction of the vector files
    val cb = bytesOf(codes.committedFiles)
    val pb = bytesOf(post.committedFiles)
    assert(cb > 0 && pb > 0)
    assert(cb * 4 < pb,
      s"codes must be a fraction of the vectors: codes=$cb post=$pb")
    // the probe story: a single-list probe prunes BOTH scans to a file
    // subset, and the candidate stage's bytes are the pruned CODE bytes
    val probedCodes = codes.prunedFiles(Seq(In("label", Array[Any](0))))
    val probedPost = post.prunedFiles(Seq(In("label", Array[Any](0))))
    assert(probedCodes.size < codes.committedFiles.size,
      "a single-list probe must read a code-file subset")
    assert(bytesOf(probedCodes) * 4 < bytesOf(probedPost),
      "the ADC candidate scan reads codes, not vectors, in probed lists")
  }

  test("s9 serves the index's codebook and clusters codes per list") {
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val cbT = GraftTable.open(spark, s"$root/codebook")
    // the committed codebook equals the memoized training result — a
    // probe never retrains
    val committed = cbT.read().orderBy("m", "cid").collect()
    val trained = Similarity.pqCodebook(spark, dir).orderBy("m", "cid").collect()
    assert(committed.map(_.toSeq).toSeq === trained.map(_.toSeq).toSeq)
    // per-list clustering: every list's code rows are zone-map reachable
    val codes = GraftTable.open(spark, s"$root/codes")
    val all = codes.committedFiles.size
    assert(all >= 5, s"range partitioning should split the lists; got $all")
    val covered = (0 to 9).flatMap(l =>
      codes.prunedFiles(Seq(In("label", Array[Any](l))))).toSet
    assert(covered.size === all, "the union of list probes covers every code file")
  }

  test("s9 re-rank is exact: result cosines match brute-force recomputation") {
    import org.apache.spark.sql.functions.col
    val got = Similarity.s9AnnIvfPq(spark, dir).collect()
    assert(got.nonEmpty)
    // per query: ranks are 1..k dense, and each reported cos equals the
    // exact left-fold cosine recomputed from the raw vectors
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def nrm(v: Array[Double]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to rows.length).toSeq,
        s"ranks for query $qid must be dense from 1")
      rows.foreach { r =>
        val (q, c) = (raw(qid), raw(r.getLong(2)))
        val dot = q.zip(c).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        val exact = BigDecimal(dot / (nrm(q) * nrm(c)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(3) - exact) < 1e-9,
          s"query $qid cand ${r.getLong(2)}: reported ${r.getDouble(3)} vs exact $exact")
      }
    }
  }

  // -- the raw PQ probe (bench op, CALL ann_probe_pq) -------------------

  private def rawQueries(s: org.apache.spark.sql.SparkSession) =
    s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))

  private def enIds(s: org.apache.spark.sql.SparkSession) =
    Tables.load(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id").cast("long").as("id"))

  test("raw PQ probe from an AQE-on caller returns exactly probeIvfPq's rows on the probe session") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
      "the caller must run with AQE on, or this pins nothing")
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val s2 = Similarity.probeSession(spark)
    for (nprobe <- Seq(1, 2); filtered <- Seq(false, true)) {
      val out = Similarity.probeIvfPqRaw(spark, root, rawQueries(spark),
        if (filtered) Some(enIds(spark)) else None, nprobe)
      assert(out.sparkSession.conf.get("spark.sql.adaptive.enabled") === "false",
        "the raw probe must plan on the AQE-off probe session")
      val got = out.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val want = Similarity.probeIvfPq(s2, root,
        Similarity.normalizeQueryFrame(rawQueries(s2)),
        if (filtered) Some(enIds(s2)) else None, nprobe)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(got.nonEmpty, s"nprobe=$nprobe filtered=$filtered returned nothing")
      assert(got === want, s"nprobe=$nprobe filtered=$filtered")
    }
  }

  test("raw PQ probe runs each bounded intermediate once: job count pinned") {
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val sc = spark.sparkContext
    def jobsOf(body: => Unit): Int = {
      val group = s"pq-jobs-${java.util.UUID.randomUUID()}"
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            n.incrementAndGet()
      }
      sc.addSparkListener(l)
      try {
        sc.setJobGroup(group, "probeIvfPqRaw job-count pin")
        try body finally sc.clearJobGroup()
        org.apache.spark.graft.ListenerBus.drain(sc)
      } finally sc.removeSparkListener(l)
      n.get()
    }
    for (nprobe <- Seq(1, 2); filtered <- Seq(false, true)) {
      def probe() = Similarity.probeIvfPqRaw(spark, root, rawQueries(spark),
        if (filtered) Some(enIds(spark)) else None, nprobe).collect()
      probe() // first call opens the index tables
      val jobs = jobsOf { probe(); () }
      // one job per once-run step and per broadcast, plus the parquet
      // read's schema job; the filtered probe adds the filter side's
      // broadcast. A probe that re-runs an intermediate inside a later
      // plan runs about twice as many jobs and fails this pin.
      val pin = if (filtered) 13 else 12
      assert(jobs <= pin,
        s"nprobe=$nprobe filtered=$filtered ran $jobs jobs (pin $pin)")
    }
  }

  test("incremental IVF-PQ append: codes + vectors land in the assigned list, no rewrite, probe finds them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Similarity.s9AnnIvfPq(spark, dir).count() // force the composed index
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val root2 = tmpDir("ivfpq-append")
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val post = GraftTable.open(spark, s"$root2/postings")
    val codes = GraftTable.open(spark, s"$root2/codes")
    val (postFiles, codeFiles) = (post.committedFiles.toSet, codes.committedFiles.toSet)
    val (nPost, nCodes) = (post.rowCountFromMetadata(), codes.rowCountFromMetadata())
    // the new vector: an exact copy of vec 0 under a fresh id
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    assert(Similarity.appendToIvfPqIndex(spark, root2,
      Seq((2000000L, v0)).toDF("vec_id", "embedding")) === 1L)
    val (post2, codes2) =
      (GraftTable.open(spark, s"$root2/postings"), GraftTable.open(spark, s"$root2/codes"))
    assert(postFiles.subsetOf(post2.committedFiles.toSet) &&
      codeFiles.subsetOf(codes2.committedFiles.toSet),
      "index appends must never rewrite committed files")
    assert(post2.rowCountFromMetadata() === nPost + 1)
    assert(codes2.rowCountFromMetadata() === nCodes + 1)
    // identical vector ⇒ identical encoding against the committed
    // codebook: the appended code array equals vec 0's
    val codeOf = (id: Long) => codes2.read().filter(col("vec_id") === id)
      .select("codes").head.getSeq[Int](0).toSeq
    assert(codeOf(2000000L) === codeOf(0L))
    // and both rows landed in the same (nearest-centroid) list…
    val labelOf = (id: Long) => post2.read().filter(col("vec_id") === id)
      .select("label").head.getInt(0)
    // …which an s9-style probe with the same vector then finds: the
    // exact copy is the per-subspace ADC minimum (its codes are the
    // argmin for the query's own subvectors), so it survives the
    // candidate cut, and the exact re-rank scores it cos = 1
    val q = post2.read().filter(col("vec_id") === 2000000L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", org.apache.spark.sql.functions.lit(-1L))
    val got = Similarity.probeIvfPq(spark, root2, q).collect()
    assert(got.nonEmpty)
    val self = got.find(_.getLong(2) === 2000000L)
      .getOrElse(fail(s"probe must surface the appended copy; got ${got.toSeq}"))
    assert(self.getDouble(3) === 1.0)
    assert(self.getInt(1) === labelOf(2000000L))
    assert(got.head.getDouble(3) === 1.0, "rank 1 must be an exact match")
  }

  test("IVF-PQ audit detects a postings/codes desync; repair restores it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val root2 = tmpDir("ivfpq-repair")
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty)
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // simulate BOTH halves of a failed composed append by planting the
    // residue DIRECTLY on the tables (since round 13 every append
    // entry point — appendToIvfIndex included — maintains all
    // siblings, so the API itself can no longer create this state):
    // a postings-only vector and an orphaned code row
    val bare = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 0L)
      .select(col("label"), lit(3000000L).as("vec_id"), col("v"), col("nrm"))
    GraftTable.open(spark, s"$root2/postings").append(bare)
    val codesT = GraftTable.open(spark, s"$root2/codes")
    val orphan = codesT.read().limit(1)
      .select(col("label"), (col("vec_id") + 4000000L).as("vec_id"), col("codes"))
    codesT.append(orphan)
    val issues = Similarity.verifyIvfPqIndex(spark, root2)
    assert(issues.exists(_.contains("no code row")), issues.toString)
    assert(issues.exists(_.contains("no posting vector")), issues.toString)
    val (addedCodes, removedOrphans) = Similarity.repairIvfPqIndex(spark, root2)
    assert(addedCodes === 1L && removedOrphans === 1L)
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty)
    // the repaired code row is the committed-codebook encoding: equal to
    // vec 0's codes (identical vector)
    val codesT2 = GraftTable.open(spark, s"$root2/codes")
    val codeOf = (id: Long) => codesT2.read().filter(col("vec_id") === id)
      .select("codes").head.getSeq[Int](0).toSeq
    assert(codeOf(3000000L) === codeOf(0L))
  }

  test("IVF-PQ audit detects a LABEL desync (both ids present, different lists); repair relabels") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A code row in the wrong list is invisible to the probe (it never
    // pairs with its posting row) yet both vec_id SETS look complete —
    // the ADVICE r10 failure mode for a desynced append.
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val root2 = tmpDir("ivfpq-mislabel")
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // plant the posting row directly (the API appends all siblings
    // since round 13 and can no longer create a lone posting)
    val bare5 = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 0L)
      .select(col("label"), lit(5000000L).as("vec_id"), col("v"), col("nrm"))
    GraftTable.open(spark, s"$root2/postings").append(bare5)
    val pLabel = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 5000000L).select("label").head.getInt(0)
    val nLists = GraftTable.open(spark, s"$root2/centroids")
      .rowCountFromMetadata().toInt
    val codesT = GraftTable.open(spark, s"$root2/codes")
    val wrong = codesT.read().filter(col("vec_id") === 0L)
      .select(lit((pLabel + 1) % nLists).as("label"),
        lit(5000000L).as("vec_id"), col("codes"))
    codesT.append(wrong)
    val issues = Similarity.verifyIvfPqIndex(spark, root2)
    assert(issues.exists(_.contains("different lists")), issues.toString)
    assert(!issues.exists(_.contains("no code row")), issues.toString)
    assert(!issues.exists(_.contains("no posting vector")), issues.toString)
    val (added, fixed) = Similarity.repairIvfPqIndex(spark, root2)
    assert(added === 0L && fixed === 1L)
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty)
    val relabeled = GraftTable.open(spark, s"$root2/codes").read()
      .filter(col("vec_id") === 5000000L).select("label").head.getInt(0)
    assert(relabeled === pLabel, "repair must take the POSTINGS label")
  }

  test("IVF-PQ repair recovers from a crash inside its own swap") {
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val root2 = tmpDir("ivfpq-crash")
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val nCodes = GraftTable.open(spark, s"$root2/codes").rowCountFromMetadata()
    // simulate the repair dying between drop(codes) and cloneTo: the
    // clean table sits in codes_repair, codes is gone
    GraftTable.open(spark, s"$root2/codes").cloneTo(s"$root2/codes_repair")
    GraftTable.drop(s"$root2/codes")
    assert(!GraftTable.exists(s"$root2/codes"))
    val (added, removed) = Similarity.repairIvfPqIndex(spark, root2)
    assert(added === 0L && removed === 0L, "recovery completes the swap, nothing else")
    assert(GraftTable.exists(s"$root2/codes"))
    assert(!GraftTable.exists(s"$root2/codes_repair"))
    assert(GraftTable.open(spark, s"$root2/codes").rowCountFromMetadata() === nCodes)
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty)
    // a STALE staging table (crash before the swap) is dropped, codes
    // stays authoritative
    GraftTable.open(spark, s"$root2/codes").cloneTo(s"$root2/codes_repair")
    val (a2, r2) = Similarity.repairIvfPqIndex(spark, root2)
    assert(a2 === 0L && r2 === 0L)
    assert(!GraftTable.exists(s"$root2/codes_repair"))
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty)
  }

  test("ann_drift: a fresh index reads clean; a shifted appended distribution flags recluster") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Similarity.ivfIndexDir(spark, dir)
    val root2 = tmpDir("ann-drift")
    Seq("centroids", "postings").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val clean = Similarity.annDriftReport(spark, root2).toMap
    assert(clean("appended_vectors") === "0")
    assert(clean("appended_mass_fraction") === "0.0000")
    assert(clean("recommend_recluster") === "0",
      s"fresh index must read clean: $clean")
    // plant DRIFT below the mass threshold: ~10% new vectors from a
    // SHIFTED distribution — a direction ORTHOGONAL to every committed
    // centroid (Gram–Schmidt against the 10 centroids in 64-dim space),
    // so assignment cosines sit near 0 and only the cosine gap can flag
    val n = GraftTable.open(spark, s"$root2/postings").rowCountFromMetadata()
    val nNew = (n / 10).toInt.max(5)
    val cents = GraftTable.open(spark, s"$root2/centroids").read()
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    val d = cents.head.length
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def nrmOf(a: Array[Double]) = math.sqrt(dot(a, a))
    // orthonormalize the centroids, then project them out of e_0
    val basis = cents.foldLeft(List.empty[Array[Double]]) { (acc, c) =>
      val r = acc.foldLeft(c.clone()) { (v, b) =>
        val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
      }
      val nr = nrmOf(r)
      if (nr > 1e-9) acc :+ r.map(_ / nr) else acc
    }
    val ortho = basis.foldLeft(Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)) {
      (v, b) => val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
    }
    assert(nrmOf(ortho) > 1e-6, "e_0 must not lie in the centroid span")
    val orthoF = ortho.map(_.toFloat)
    val shifted = (0 until nNew)
      .map(i => (7000000L + i, orthoF)).toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfIndex(spark, root2, shifted) === nNew.toLong)
    val drifted = Similarity.annDriftReport(spark, root2).toMap
    assert(drifted("appended_vectors") === nNew.toString)
    assert(drifted("appended_mass_fraction").toDouble < Similarity.DriftMassThreshold,
      "the planted drift must be below the mass threshold — the cosine gap does the flagging")
    assert(drifted("appended_assign_cos_p50").toDouble <
      drifted("build_assign_cos_p50").toDouble - Similarity.DriftCosGap,
      s"negated vectors must sit far from every committed centroid: $drifted")
    assert(drifted("recommend_recluster") === "1", s"drift must flag: $drifted")
    // and the MASS trigger alone: append a benign (unshifted) copy of
    // >20% of the corpus — distances stay healthy, growth itself flags
    val root3 = tmpDir("ann-drift-mass")
    Seq("centroids", "postings").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root3/$t"))
    val nMass = (n / 3).toInt.max(5)
    val benign = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < nMass)
      .select((col("vec_id") + 8000000L).as("vec_id"), col("embedding"))
    assert(Similarity.appendToIvfIndex(spark, root3, benign) === nMass.toLong)
    val massy = Similarity.annDriftReport(spark, root3).toMap
    assert(massy("appended_mass_fraction").toDouble > Similarity.DriftMassThreshold)
    assert(massy("recommend_recluster") === "1", s"mass growth must flag: $massy")
    // a REWRITE discards file-grain lineage: after compact, the
    // baseline resets to the post-rewrite snapshot and the audit reads
    // clean again (it must NOT report the whole index as appended)
    GraftTable.open(spark, s"$root3/postings").compact()
    val postRewrite = Similarity.annDriftReport(spark, root3).toMap
    assert(postRewrite("baseline_source") === "file_grain",
      s"per-table clones carry no baseline file: $postRewrite")
    assert(postRewrite("appended_vectors") === "0",
      s"rewrite must reset the baseline, not poison it: $postRewrite")
    assert(postRewrite("recommend_recluster") === "0")
  }

  test("ann_drift persisted baseline: mass stays flagged across a rewrite; rebuild heals it") {
    import org.apache.spark.sql.functions.col
    val root = Similarity.ivfIndexDir(spark, dir)
    // the MEMOIZED root is built WITH a baseline: its fresh audit must
    // already ride the persisted path and read clean
    val fresh = Similarity.annDriftReport(spark, root).toMap
    assert(fresh("baseline_source") === "persisted", s"$fresh")
    assert(fresh("recommend_recluster") === "0", s"$fresh")
    val root4 = tmpDir("ann-drift-persist")
    Seq("centroids", "postings").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root4/$t"))
    Similarity.writeDriftBaseline(spark, root4)
    val n = GraftTable.open(spark, s"$root4/postings").rowCountFromMetadata()
    val nMass = (n / 3).toInt.max(5)
    val benign = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < nMass)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
    assert(Similarity.appendToIvfIndex(spark, root4, benign) === nMass.toLong)
    // the r11 gap: a rewrite destroys file-grain lineage — WITHOUT the
    // persisted baseline the audit would now read clean (the previous
    // test pins exactly that); WITH it the appended mass survives
    GraftTable.open(spark, s"$root4/postings").compact()
    val audited = Similarity.annDriftReport(spark, root4).toMap
    assert(audited("baseline_source") === "persisted", s"$audited")
    assert(audited("appended_vectors") === nMass.toString,
      s"count-based mass must survive the rewrite: $audited")
    assert(audited("appended_mass_fraction").toDouble >
      Similarity.DriftMassThreshold, s"$audited")
    assert(audited("recommend_recluster") === "1",
      s"mass must keep flagging across a rewrite: $audited")
    // the recommended ACTION refreshes the baseline: clean after
    val (_, nVec) = Similarity.rebuildIvfIndex(spark, root4)
    assert(nVec === n + nMass)
    val healed = Similarity.annDriftReport(spark, root4).toMap
    assert(healed("baseline_source") === "persisted", s"$healed")
    assert(healed("appended_vectors") === "0", s"$healed")
    assert(healed("recommend_recluster") === "0", s"$healed")
  }

  test("ann_drift persisted baseline: list-SKEW flags crowding drift a rewrite would mask") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Similarity.ivfIndexDir(spark, dir)
    val root5 = tmpDir("ann-drift-skew")
    Seq("centroids", "postings").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root5/$t"))
    Similarity.writeDriftBaseline(spark, root5)
    // the r12 review scenario: BELOW-mass-threshold drift (one sixth of
    // the corpus) from an off-manifold direction — every vector lands
    // in ONE list (same max-cos tie-break), then a compact destroys
    // the file-grain cosine split that used to be the only detector
    val n = GraftTable.open(spark, s"$root5/postings").rowCountFromMetadata()
    val nNew = (n / 6).toInt.max(5)
    val cents = GraftTable.open(spark, s"$root5/centroids").read()
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val basis = cents.foldLeft(List.empty[Array[Double]]) { (acc, c) =>
      val r = acc.foldLeft(c.clone()) { (v, b) =>
        val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
      }
      val nr = math.sqrt(dot(r, r))
      if (nr > 1e-9) acc :+ r.map(_ / nr) else acc
    }
    val d = cents.head.length
    val ortho = basis.foldLeft(Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)) {
      (v, b) => val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
    }
    assert(math.sqrt(dot(ortho, ortho)) > 1e-6)
    val orthoF = ortho.map(_.toFloat)
    val shifted = (0 until nNew)
      .map(i => (7500000L + i, orthoF)).toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfIndex(spark, root5, shifted) === nNew.toLong)
    GraftTable.open(spark, s"$root5/postings").compact()
    val audited = Similarity.annDriftReport(spark, root5).toMap
    assert(audited("baseline_source") === "persisted", s"$audited")
    assert(audited("appended_mass_fraction").toDouble <
      Similarity.DriftMassThreshold,
      s"the planted drift must stay below the mass threshold: $audited")
    assert(audited("list_skew").toDouble > Similarity.DriftListSkew,
      s"one-list crowding must show as skew: $audited")
    assert(audited("recommend_recluster") === "1",
      s"skew must keep flagging across the rewrite: $audited")
    // contrast: the file-grain audit (baseline removed) reads CLEAN
    // after the same rewrite — the exact masking the skew signal closes
    val (bfs, _) = GraftTable.fsAndPath(root5)
    bfs.delete(new org.apache.hadoop.fs.Path(root5,
      Similarity.DriftBaselineFile), false)
    val masked = Similarity.annDriftReport(spark, root5).toMap
    assert(masked("baseline_source") === "file_grain")
    assert(masked("recommend_recluster") === "0",
      s"without the baseline the rewrite masks the drift: $masked")
  }

  test("ann_drift persisted baseline: DIFFUSE below-mass cosine drift flags via the histogram TV shift after a rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Similarity.ivfIndexDir(spark, dir)
    val root6 = tmpDir("ann-drift-diffuse")
    Seq("centroids", "postings").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root6/$t"))
    Similarity.writeDriftBaseline(spark, root6)
    // the r12 residual limit: drift that is (a) below the mass
    // threshold, (b) spread across EVERY list proportionally (no
    // crowding → no skew), and (c) at cosines that barely move the
    // diluted post-rewrite MEDIAN (robust statistics hide <50%
    // contamination). Construction: per list, ~10% extra vectors of
    // the form ĉ_l + √3·ortho — assignment cosine exactly 0.5 to the
    // OWN centroid and (ĉ_l·ĉ_m)/2 < 0.5 to every other, so each lands
    // in its intended list and shares stay flat.
    val post = GraftTable.open(spark, s"$root6/postings")
    val listCounts = post.read().groupBy("label")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cents = GraftTable.open(spark, s"$root6/centroids").read()
      .collect().map(r => r.getInt(0) ->
        (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val basis = cents.values.map(_._1).foldLeft(List.empty[Array[Double]]) {
      (acc, c) =>
        val r = acc.foldLeft(c.clone()) { (v, b) =>
          val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
        }
        val nr = math.sqrt(dot(r, r))
        if (nr > 1e-9) acc :+ r.map(_ / nr) else acc
    }
    val d = cents.values.head._1.length
    val ortho = basis.foldLeft(
      Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)) { (v, b) =>
      val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
    }
    val oHat = { val n = math.sqrt(dot(ortho, ortho)); ortho.map(_ / n) }
    var nextId = 7600000L
    val rows = cents.toSeq.sortBy(_._1).flatMap { case (l, (cv, cn)) =>
      val cHat = cv.map(_ / cn)
      val v = cHat.zip(oHat).map { case (a, b) =>
        (a + math.sqrt(3.0) * b).toFloat }
      val k = math.max(1L, listCounts.getOrElse(l, 0L) / 10).toInt
      (0 until k).map { _ => nextId += 1; (nextId, v) }
    }
    val nNew = rows.size
    assert(Similarity.appendToIvfIndex(spark, root6,
      rows.toDF("vec_id", "embedding")) === nNew.toLong)
    post.compact() // destroy the file-grain split
    val audited = Similarity.annDriftReport(spark, root6).toMap
    assert(audited("baseline_source") === "persisted", s"$audited")
    assert(audited("appended_mass_fraction").toDouble <
      Similarity.DriftMassThreshold,
      s"the planted drift must stay below the mass threshold: $audited")
    assert(audited("list_skew").toDouble < Similarity.DriftListSkew,
      s"proportional spreading must not crowd any list: $audited")
    val dilutedGap = audited("build_assign_cos_p50").toDouble -
      audited("appended_assign_cos_p50").toDouble
    assert(dilutedGap < Similarity.DriftCosGap,
      s"the diluted median must miss this drift (that is the point): $audited")
    assert(audited("cos_tv_shift").toDouble > Similarity.DriftTvShift,
      s"the histogram TV shift must count the contaminating mass: $audited")
    assert(audited("recommend_recluster") === "1",
      s"TV must keep flagging across the rewrite: $audited")
    // contrast: a pre-feature baseline (no hist field) on the SAME
    // state reads clean — the exact masking the TV signal closes
    val (bfs, _) = GraftTable.fsAndPath(root6)
    val bPath = new org.apache.hadoop.fs.Path(root6,
      Similarity.DriftBaselineFile)
    val in = bfs.open(bPath)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val stripped = txt.replaceAll(""",\s*"hist"\s*:\s*"[^"]*"""", "")
    val out = bfs.create(bPath, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    val masked = Similarity.annDriftReport(spark, root6).toMap
    assert(masked("baseline_source") === "persisted")
    assert(masked("cos_tv_shift") === "-", s"$masked")
    assert(masked("recommend_recluster") === "0",
      s"without the histogram the rewrite masks diffuse drift: $masked")
  }

  test("deleteFromIndex: erased vectors vanish from every rung, no list file rewritten; crash orphans invisible, flagged, repaired") {
    val root = Similarity.int8IndexDir(spark, dir)
    val root7 = tmpDir("ann-delete")
    Seq("centroids", "postings", "i8meta", "codes_i8").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root7/$t"))
    val post = GraftTable.open(spark, s"$root7/postings")
    val q = post.read().filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .persist()
    q.count()
    val before7 = Similarity.probeIvf(spark, root7, q)
      .orderBy("q_id", "rank").collect()
    // erase query 0's best NON-QUERY neighbor
    val victim = before7.filter(r => r.getLong(0) == 0L && r.getLong(2) >= 5L)
      .minBy(_.getLong(4)).getLong(2)
    val filesBefore = post.committedFiles.toSet
    assert(Similarity.deleteFromIndex(spark, root7, Seq(victim)) === 1L)
    assert(GraftTable.open(spark, s"$root7/postings").committedFiles.toSet
      === filesBefore,
      "merge-on-read erasure must not rewrite a clustered list file")
    val after7 = Similarity.probeIvf(spark, root7, q)
      .orderBy("q_id", "rank").collect()
    assert(!after7.exists(_.getLong(2) == victim),
      "an erased vector must stop being retrievable (fp rung)")
    // query 0's surviving neighbors shift up with identical cosines;
    // ranks stay dense 1..k for every query
    val survivors = before7
      .filter(r => r.getLong(0) == 0L && r.getLong(2) != victim)
      .map(r => (r.getLong(2), r.getDouble(3)))
    val q0After = after7.filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(2), r.getDouble(3)))
    assert(q0After.take(survivors.length).toSeq === survivors.toSeq,
      "surviving neighbors must keep their order and cosines")
    after7.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to rows.length).toSeq,
        s"query $qid ranks must stay dense after erasure")
    }
    // int8 rung: shortlist + re-rank both net of the erasure
    val after17 = Similarity.probeIvfInt8(spark, root7, q).collect()
    assert(after17.nonEmpty && !after17.exists(_.getLong(2) == victim),
      "an erased vector must stop being retrievable (int8 rung)")
    // both siblings were erased together: the desync audit reads clean
    assert(Similarity.verifyInt8Index(spark, root7).isEmpty)
    // crash shape: POSTINGS-first means a crash before the sibling
    // delete leaves ORPHANED code rows — probe-invisible (the re-rank
    // inner-joins postings), flagged by the audit, reclaimed by repair
    val victim2 = after7.filter(r => r.getLong(0) == 0L && r.getLong(2) >= 5L)
      .head.getLong(2)
    GraftTable.open(spark, s"$root7/postings")
      .deleteMor(Seq(In("vec_id", Array[Any](victim2))))
    val after17b = Similarity.probeIvfInt8(spark, root7, q).collect()
    assert(after17b.nonEmpty && !after17b.exists(_.getLong(2) == victim2),
      "an orphaned code row must stay probe-invisible")
    val issues = Similarity.verifyInt8Index(spark, root7)
    assert(issues.exists(_.contains("orphaned")),
      s"the audit must flag the crash residue: $issues")
    Similarity.repairInt8Index(spark, root7)
    assert(Similarity.verifyInt8Index(spark, root7).isEmpty,
      "repair must reclaim the orphaned codes")
    q.unpersist()
  }

  test("ann_rebuild: the quantizer adapts to planted drift; drift reads clean after; PQ labels stay agreed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // plant the §drift scenario on a cloned IVF-PQ root (the composed
    // index exercises the codes-relabel path too)
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val root2 = tmpDir("ann-rebuild")
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val cents = GraftTable.open(spark, s"$root2/centroids").read()
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    val d = cents.head.length
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def nrmOf(a: Array[Double]) = math.sqrt(dot(a, a))
    val basis = cents.foldLeft(List.empty[Array[Double]]) { (acc, c) =>
      val r = acc.foldLeft(c.clone()) { (v, b) =>
        val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
      }
      val nr = nrmOf(r)
      if (nr > 1e-9) acc :+ r.map(_ / nr) else acc
    }
    val ortho = basis.foldLeft(Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)) {
      (v, b) => val p = dot(v, b); v.indices.foreach(i => v(i) -= p * b(i)); v
    }
    val orthoUnit = { val n = nrmOf(ortho); ortho.map(_ / n) }
    val nBefore = GraftTable.open(spark, s"$root2/postings").rowCountFromMetadata()
    val nNew = (nBefore / 10).toInt.max(5)
    val shifted = (0 until nNew)
      .map(i => (7100000L + i, orthoUnit.map(_.toFloat))).toDF("vec_id", "embedding")
    Similarity.appendToIvfPqIndex(spark, root2, shifted)
    assert(Similarity.annDriftReport(spark, root2).toMap
      .apply("recommend_recluster") === "1", "drift planted")
    // no committed centroid aligns with the planted direction yet
    def maxAlign(): Double = GraftTable.open(spark, s"$root2/centroids").read()
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
      .map(c => math.abs(dot(c, orthoUnit)) / nrmOf(c)).max
    assert(maxAlign() < 0.5, s"pre-rebuild alignment already ${maxAlign()}")
    val (nLists, nVecs) = Similarity.rebuildIvfIndex(spark, root2)
    assert(nLists === cents.length)
    assert(nVecs === nBefore + nNew, "every vector survives the rebuild")
    // the recentered quantizer allocated a list to the planted cluster
    assert(maxAlign() > 0.9,
      s"a rebuilt centroid must align with the planted direction: ${maxAlign()}")
    // the audit reads clean: the rewrite reset the baseline, and the
    // (now-captured) planted cluster sits close to its own centroid
    val after = Similarity.annDriftReport(spark, root2).toMap
    assert(after("appended_vectors") === "0", after.toString)
    assert(after("recommend_recluster") === "0", after.toString)
    // PQ invariants hold through the relabel: codes agree with
    // postings on ids AND lists, and the probe still serves exactly
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty)
    val q = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 7100000L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val got = Similarity.probeIvfPq(spark, root2, q).collect()
    assert(got.nonEmpty)
    assert(got.head.getDouble(3) === 1.0,
      "a planted twin (identical vector under another id) must probe at cos 1.0")
    // staging dirs are gone after the swap
    Seq("centroids", "postings", "codes").foreach(n =>
      assert(!GraftTable.exists(s"$root2/${n}_rebuild")))
  }

  test("ann_rebuild swap marker: a mid-sequence crash is COMPLETED, pre-marker staging is discarded") {
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val root2 = tmpDir("ann-rebuild-crash")
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val (fs, _) = graft.storage.GraftTable.fsAndPath(root2)
    val marker = new org.apache.hadoop.fs.Path(root2,
      Similarity.RebuildSwapMarker)
    // 1. crash AFTER the marker, between two tables' swaps: centroids
    // already swapped (no staging left), postings staged with a
    // detectable sentinel, main postings still the old table — the
    // recovery must REPLACE main with the staged table, not drop it
    GraftTable.open(spark, s"$root2/postings")
      .cloneTo(s"$root2/postings_rebuild")
    val stage = GraftTable.open(spark, s"$root2/postings_rebuild")
    import org.apache.spark.sql.functions.col
    stage.append(stage.read().filter(col("vec_id") === 0L)
      .select(col("label"), (col("vec_id") + 999999001L).as("vec_id"),
        col("v"), col("nrm")))
    fs.create(marker, false).close()
    Similarity.recoverRebuildSwap(spark, root2)
    assert(!fs.exists(marker))
    assert(!GraftTable.exists(s"$root2/postings_rebuild"))
    assert(GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 999999001L).count() === 1L,
      "post-marker staging is authoritative: the swap completes")
    // 2. crash inside ONE table's drop→clone window (main missing)
    GraftTable.open(spark, s"$root2/postings")
      .cloneTo(s"$root2/postings_rebuild")
    GraftTable.drop(s"$root2/postings")
    fs.create(marker, false).close()
    Similarity.recoverRebuildSwap(spark, root2)
    assert(GraftTable.exists(s"$root2/postings") && !fs.exists(marker))
    assert(!GraftTable.exists(s"$root2/postings_rebuild"))
    // 3. NO marker: staging predates the commit point and is stale —
    // main stays authoritative, staging is dropped
    GraftTable.open(spark, s"$root2/postings")
      .cloneTo(s"$root2/postings_rebuild")
    val before = GraftTable.open(spark, s"$root2/postings")
      .rowCountFromMetadata()
    Similarity.recoverRebuildSwap(spark, root2)
    assert(!GraftTable.exists(s"$root2/postings_rebuild"))
    assert(GraftTable.open(spark, s"$root2/postings")
      .rowCountFromMetadata() === before,
      "pre-marker staging must be discarded, main untouched")
  }

  test("incremental append routes to the nearest list, commits no rewrite") {
    import spark.implicits._
    // clone the index so the memoized one (shared with s7 runs) stays pristine
    val root = Similarity.ivfIndexDir(spark, dir)
    val root2 = tmpDir("ann-append")
    GraftTable.open(spark, s"$root/centroids").cloneTo(s"$root2/centroids")
    GraftTable.open(spark, s"$root/postings").cloneTo(s"$root2/postings")
    val post = GraftTable.open(spark, s"$root2/postings")
    val before = post.committedFiles.toSet
    val nBefore = post.rowCountFromMetadata()
    // the new vector: an exact copy of vec 0 under a fresh id
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    val added = Seq((1000000L, v0)).toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfIndex(spark, root2, added) === 1L)
    val post2 = GraftTable.open(spark, s"$root2/postings")
    assert(before.subsetOf(post2.committedFiles.toSet),
      "index appends must never rewrite committed postings files")
    assert(post2.rowCountFromMetadata() === nBefore + 1)
    // the stored list is the argmax-cosine centroid, recomputed here
    // with the same left-fold order
    val cents = GraftTable.open(spark, s"$root2/centroids").read()
      .collect().map { r =>
        val cv = r.getSeq[Double](r.fieldIndex("cv"))
        val cn = r.getDouble(r.fieldIndex("cnrm"))
        val lab = r.getInt(r.fieldIndex("label"))
        val dot = v0.map(_.toDouble).zip(cv).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        val nrm = math.sqrt(v0.map(_.toDouble).foldLeft(0.0)((a, x) => a + x * x))
        (lab, dot / (nrm * cn))
      }
    val expected = cents.maxBy(c => (c._2, -c._1))._1
    val got = post2.read().filter(col("vec_id") === 1000000L)
      .select("label").head.getInt(0)
    assert(got === expected, "assignment must match the committed quantizer")
  }

  // -- s17: the persisted INT8 index -------------------------------------

  test("s17 probes read int8 code bytes, not vector bytes; codes cluster per list") {
    Similarity.s17AnnInt8Persisted(spark, dir).count() // force the build
    val root = Similarity.int8IndexDir(spark, dir)
    val codes = GraftTable.open(spark, s"$root/codes_i8")
    val post = GraftTable.open(spark, s"$root/postings")
    val cb = bytesOf(codes.committedFiles)
    val pb = bytesOf(post.committedFiles)
    assert(cb > 0 && pb > 0)
    // the memory story: bit-packed [-127,127] values vs 8-byte doubles
    assert(cb * 2 < pb,
      s"int8 codes must be a fraction of the vectors: codes=$cb post=$pb")
    // the probe story: a single-list probe prunes the code scan
    val probedCodes = codes.prunedFiles(Seq(In("label", Array[Any](0))))
    assert(probedCodes.size < codes.committedFiles.size,
      "a single-list probe must read a code-file subset")
    // the committed scale is the corpus scale (one row)
    assert(GraftTable.open(spark, s"$root/i8meta").read().count() === 1L)
  }

  test("s17 re-rank is exact: result cosines match brute-force recomputation") {
    val emb = Tables.load(spark, dir, "embeddings").collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      val dot = x.zip(y).foldLeft(0.0)((s, p) => s + p._1 * p._2)
      val nx = math.sqrt(x.foldLeft(0.0)((s, v) => s + v * v))
      val ny = math.sqrt(y.foldLeft(0.0)((s, v) => s + v * v))
      dot / (nx * ny)
    }
    val got = Similarity.s17AnnInt8Persisted(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (q, id, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      assert(math.abs(cos - math.rint(cosOf(q, id) * 1e4) / 1e4) < 5e-5,
        s"q=$q id=$id exact re-rank cosine")
      assert(id !== q)
    }
  }

  test("incremental int8 append: codes + vectors land in the assigned list, no rewrite, probe finds them") {
    import spark.implicits._
    Similarity.s17AnnInt8Persisted(spark, dir).count() // force the build
    val root = Similarity.int8IndexDir(spark, dir)
    val root2 = tmpDir("int8-append")
    Seq("centroids", "postings", "i8meta", "codes_i8").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val post = GraftTable.open(spark, s"$root2/postings")
    val codes = GraftTable.open(spark, s"$root2/codes_i8")
    val (postFiles, codeFiles) = (post.committedFiles.toSet, codes.committedFiles.toSet)
    val (nPost, nCodes) = (post.rowCountFromMetadata(), codes.rowCountFromMetadata())
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    assert(Similarity.appendToInt8Index(spark, root2,
      Seq((3000000L, v0)).toDF("vec_id", "embedding")) === 1L)
    val (post2, codes2) = (GraftTable.open(spark, s"$root2/postings"),
      GraftTable.open(spark, s"$root2/codes_i8"))
    assert(postFiles.subsetOf(post2.committedFiles.toSet) &&
      codeFiles.subsetOf(codes2.committedFiles.toSet),
      "index appends must never rewrite committed files")
    assert(post2.rowCountFromMetadata() === nPost + 1)
    assert(codes2.rowCountFromMetadata() === nCodes + 1)
    // identical vector ⇒ identical codes against the COMMITTED scale
    val codeOf = (id: Long) => codes2.read().filter(col("vec_id") === id)
      .select("code").head.getSeq[Long](0).toSeq
    assert(codeOf(3000000L) === codeOf(0L))
    // an s17-style probe with the same vector finds the exact copy at
    // cos = 1 (its integer dot with itself is the shortlist maximum)
    val q = post2.read().filter(col("vec_id") === 3000000L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val got = Similarity.probeIvfInt8(spark, root2, q).collect()
    assert(got.nonEmpty)
    val self = got.find(_.getLong(2) === 3000000L)
      .getOrElse(fail(s"probe must surface the appended copy; got ${got.toSeq}"))
    assert(self.getDouble(3) === 1.0)
    assert(got.head.getDouble(3) === 1.0, "rank 1 must be an exact match")
  }

  test("ann_rebuild relabels the int8 codes too: audit clean, probe exact after") {
    import spark.implicits._
    Similarity.s17AnnInt8Persisted(spark, dir).count()
    val root = Similarity.int8IndexDir(spark, dir)
    val root2 = tmpDir("int8-rebuild")
    Seq("centroids", "postings", "i8meta", "codes_i8").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    Similarity.appendToInt8Index(spark, root2,
      Seq((5000000L, v0)).toDF("vec_id", "embedding"))
    val nVecsBefore = GraftTable.open(spark, s"$root2/postings").rowCountFromMetadata()
    val (_, nVecs) = Similarity.rebuildIvfIndex(spark, root2)
    assert(nVecs === nVecsBefore, "every vector survives the rebuild")
    // the relabel kept postings and codes_i8 in the SAME lists — a
    // rebuild that skipped the int8 sibling would leave mislabeled
    // rows here (s17-invisible vectors)
    assert(Similarity.verifyInt8Index(spark, root2) === Seq.empty)
    val q = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 5000000L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val got = Similarity.probeIvfInt8(spark, root2, q).collect()
    assert(got.nonEmpty && got.head.getDouble(3) === 1.0,
      "a planted twin must probe at cos 1.0 through the rebuilt index")
    Seq("centroids", "postings", "codes", "codes_i8").foreach(n =>
      assert(!GraftTable.exists(s"$root2/${n}_rebuild")))
  }

  test("s19: filtered int8 probe returns only filter-universe ids, k dense per query") {
    import org.apache.spark.sql.functions.col
    val en = Tables.load(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    val got = Similarity.s19FilteredInt8(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(en.contains(r.getLong(2)),
        s"id ${r.getLong(2)} outside the filter universe")
    }
    // the filter never shrinks a query below k while enough candidates
    // exist in the probed list ∩ universe; ranks stay dense from 1
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ranks = rows.map(_.getLong(4)).sorted.toSeq
      assert(ranks === (1L to ranks.length), s"q=$q dense ranks")
    }
  }

  test("append through EITHER entry point maintains BOTH quantized siblings on a shared root") {
    import spark.implicits._
    Similarity.s9AnnIvfPq(spark, dir).count()    // forces codes + codebook
    Similarity.s17AnnInt8Persisted(spark, dir).count() // forces codes_i8 + i8meta
    val root = Similarity.int8IndexDir(spark, dir) // == ivfPqIndexDir's root
    val root2 = tmpDir("sibling-append")
    Seq("centroids", "postings", "codebook", "codes", "i8meta", "codes_i8")
      .foreach(t => GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // int8 entry point must also maintain the PQ codes…
    Similarity.appendToInt8Index(spark, root2,
      Seq((6000000L, v0)).toDF("vec_id", "embedding"))
    // …and the PQ entry point the int8 codes
    Similarity.appendToIvfPqIndex(spark, root2,
      Seq((6000001L, v0)).toDF("vec_id", "embedding"))
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty,
      "PQ index must stay consistent whichever append ran")
    assert(Similarity.verifyInt8Index(spark, root2) === Seq.empty,
      "int8 index must stay consistent whichever append ran")
    // both probes surface both appended twins at cos = 1
    val q = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val pq = Similarity.probeIvfPq(spark, root2, q).collect()
      .filter(r => r.getLong(2) >= 6000000L).map(_.getDouble(3))
    val i8 = Similarity.probeIvfInt8(spark, root2, q).collect()
      .filter(r => r.getLong(2) >= 6000000L).map(_.getDouble(3))
    assert(pq.length === 2 && pq.forall(_ === 1.0), s"pq probe sees both twins: ${pq.toSeq}")
    assert(i8.length === 2 && i8.forall(_ === 1.0), s"int8 probe sees both twins: ${i8.toSeq}")
  }

  test("int8 audit detects a postings/codes desync a half-failed append leaves") {
    import spark.implicits._
    Similarity.s17AnnInt8Persisted(spark, dir).count()
    val root = Similarity.int8IndexDir(spark, dir)
    val root2 = tmpDir("int8-audit")
    Seq("centroids", "postings", "i8meta", "codes_i8").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    assert(Similarity.verifyInt8Index(spark, root2).isEmpty, "fresh index must audit clean")
    // plant the codes-first crash residue: a code row with no posting
    val orphan = GraftTable.open(spark, s"$root2/codes_i8").read()
      .filter(col("vec_id") === 0L)
      .select(col("label"), lit(4000000L).as("vec_id"), col("code"))
    GraftTable.open(spark, s"$root2/codes_i8").append(orphan)
    val issues = Similarity.verifyInt8Index(spark, root2)
    assert(issues.exists(_.contains("orphaned")), s"got $issues")
    // the orphan is invisible to the probe (re-rank inner join drops it)
    val q = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val got = Similarity.probeIvfInt8(spark, root2, q).collect()
    assert(got.nonEmpty && !got.exists(_.getLong(2) === 4000000L),
      "a half-committed vector must stay invisible")
    // plant the OTHER desync direction too: a posting with no code row
    val bare = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 1L)
      .select(col("label"), lit(4100000L).as("vec_id"), col("v"), col("nrm"))
    GraftTable.open(spark, s"$root2/postings").append(bare)
    // repair: re-encodes the missing row, drops the orphan, audit clean
    val (addedRows, fixed) = Similarity.repairInt8Index(spark, root2)
    assert(addedRows === 1L, s"one missing code row re-encoded, got $addedRows")
    assert(fixed === 1L, s"one orphan dropped, got $fixed")
    assert(Similarity.verifyInt8Index(spark, root2) === Seq.empty)
    // the re-encoded code equals vec 1's (identical vector, committed scale)
    val codeOf = (id: Long) => GraftTable.open(spark, s"$root2/codes_i8").read()
      .filter(col("vec_id") === id).select("code").head.getSeq[Long](0).toSeq
    assert(codeOf(4100000L) === codeOf(1L))
    // and the repaired vector is now probe-visible at cos = 1
    val q1 = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 4100000L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val got1 = Similarity.probeIvfInt8(spark, root2, q1).collect()
    assert(got1.exists(r => r.getLong(2) === 4100000L && r.getDouble(3) === 1.0),
      s"repaired vector must probe at cos 1.0, got ${got1.toSeq}")
  }

  // -- s22: the persisted BINARY (1-bit sign) index ----------------------

  test("s22 sign codes are ~1/8 of int8's code bytes; probes prune to the probed lists' code files") {
    Similarity.s17AnnInt8Persisted(spark, dir).count() // force the int8 build
    Similarity.s22AnnBinPersisted(spark, dir).count()  // force the bin build
    val root = Similarity.binIndexDir(spark, dir)
    val bin = GraftTable.open(spark, s"$root/codes_bin")
    val i8 = GraftTable.open(spark, s"$root/codes_i8")
    val bb = bytesOf(bin.committedFiles)
    val ib = bytesOf(i8.committedFiles)
    assert(bb > 0 && ib > 0)
    // file level, shared per-row overhead included (vec_id/label
    // columns, footers): still a clear fraction
    assert(bb * 2 < ib,
      s"sign-code files must be a fraction of the int8 files: bin=$bb i8=$ib")
    // the serving story pinned at the COLUMN CHUNK: one 64-bit word
    // per 64 dims vs ~1 byte/dim — the committed `code` column's
    // compressed bytes are ~1/8 of the int8 sibling's (≥6× here,
    // page/chunk headers eating the remainder at this tiny SF)
    def codeColBytes(files: Seq[String]): Long = {
      val conf = spark.sessionState.newHadoopConf()
      import scala.jdk.CollectionConverters._
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString.startsWith("code"))
          .map(_.getTotalSize).sum
        finally r.close()
      }.sum
    }
    val (bc, ic) = (codeColBytes(bin.committedFiles),
      codeColBytes(i8.committedFiles))
    assert(bc > 0 && ic > 0)
    assert(bc * 6 < ic,
      s"sign-code column must be ~1/8 of the int8 code column: bin=$bc i8=$ic")
    // the probe story: a single-list probe prunes the code scan
    val probed = bin.prunedFiles(Seq(In("label", Array[Any](0))))
    assert(probed.size < bin.committedFiles.size,
      "a single-list probe must read a code-file subset")
    // one word per vector at 64 dims
    val words = bin.read().select(size(col("code"))).distinct().collect()
    assert(words.map(_.getInt(0)).toSeq === Seq(1),
      "64-dim vectors must pack to exactly one sign word")
  }

  test("s22 hamming shortlist equals the unpacked sign-disagreement count; re-rank cosines exact") {
    val emb = Tables.load(spark, dir, "embeddings").collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      val dot = x.zip(y).foldLeft(0.0)((s, p) => s + p._1 * p._2)
      val nx = math.sqrt(x.foldLeft(0.0)((s, v) => s + v * v))
      val ny = math.sqrt(y.foldLeft(0.0)((s, v) => s + v * v))
      dot / (nx * ny)
    }
    val got = Similarity.s22AnnBinPersisted(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (q, id, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      assert(math.abs(cos - math.rint(cosOf(q, id) * 1e4) / 1e4) < 5e-5,
        s"q=$q id=$id exact re-rank cosine")
      assert(id !== q)
    }
    // the packed words reproduce the s18 sign convention: popcount of
    // the XOR of two vectors' words == their per-dimension
    // sign-disagreement count, recomputed here from the raw doubles
    val root = Similarity.binIndexDir(spark, dir)
    val codes = GraftTable.open(spark, s"$root/codes_bin").read()
      .filter(col("vec_id") < 20)
      .collect().map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Long](r.fieldIndex("code")).toArray).toMap
    for (a <- codes.keys; b <- codes.keys if a < b) {
      val packed = codes(a).zip(codes(b))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      val direct = emb(a).zip(emb(b))
        .count { case (x, y) => (x >= 0) != (y >= 0) }
      assert(packed === direct, s"pair ($a,$b) packed hamming")
    }
  }

  test("incremental bin append: sign codes + vectors land in the assigned list; either entry point maintains the bin sibling") {
    import spark.implicits._
    Similarity.s17AnnInt8Persisted(spark, dir).count()
    Similarity.s22AnnBinPersisted(spark, dir).count()
    val root = Similarity.binIndexDir(spark, dir)
    val root2 = tmpDir("bin-append")
    Seq("centroids", "postings", "i8meta", "codes_i8", "codes_bin").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val codes = GraftTable.open(spark, s"$root2/codes_bin")
    val codeFiles = codes.committedFiles.toSet
    val nCodes = codes.rowCountFromMetadata()
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    assert(Similarity.appendToBinIndex(spark, root2,
      Seq((7000000L, v0)).toDF("vec_id", "embedding")) === 1L)
    val codes2 = GraftTable.open(spark, s"$root2/codes_bin")
    assert(codeFiles.subsetOf(codes2.committedFiles.toSet),
      "index appends must never rewrite committed files")
    assert(codes2.rowCountFromMetadata() === nCodes + 1)
    // identical vector ⇒ identical sign words (parameterless encode)
    val codeOf = (id: Long) => codes2.read().filter(col("vec_id") === id)
      .select("code").head.getSeq[Long](0).toSeq
    assert(codeOf(7000000L) === codeOf(0L))
    // the bin entry point also maintained the int8 sibling…
    assert(Similarity.verifyInt8Index(spark, root2) === Seq.empty,
      "appendToBinIndex must maintain the int8 sibling")
    // …and the int8 entry point maintains the bin sibling
    Similarity.appendToInt8Index(spark, root2,
      Seq((7000001L, v0)).toDF("vec_id", "embedding"))
    assert(Similarity.verifyBinIndex(spark, root2) === Seq.empty,
      "appendToInt8Index must maintain the bin sibling")
    // both twins probe at cos = 1 through the bin rung
    val q = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val twins = Similarity.probeIvfBin(spark, root2, q).collect()
      .filter(r => r.getLong(2) >= 7000000L).map(_.getDouble(3))
    assert(twins.length === 2 && twins.forall(_ === 1.0),
      s"bin probe sees both twins at cos 1: ${twins.toSeq}")
  }

  test("bin audit detects desync; repair re-encodes from postings alone; erasure erases the bin rung") {
    import spark.implicits._
    Similarity.s22AnnBinPersisted(spark, dir).count()
    val root = Similarity.binIndexDir(spark, dir)
    val root2 = tmpDir("bin-audit")
    Seq("centroids", "postings", "codes_bin").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    assert(Similarity.verifyBinIndex(spark, root2).isEmpty,
      "fresh index must audit clean")
    // codes-first crash residue: an orphaned sign-code row is
    // probe-invisible, flagged, reclaimed
    val orphan = GraftTable.open(spark, s"$root2/codes_bin").read()
      .filter(col("vec_id") === 0L)
      .select(col("label"), lit(8000000L).as("vec_id"), col("code"))
    GraftTable.open(spark, s"$root2/codes_bin").append(orphan)
    val issues = Similarity.verifyBinIndex(spark, root2)
    assert(issues.exists(_.contains("orphaned")), s"got $issues")
    // a posting with no code row (the other desync direction)
    val bare = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 1L)
      .select(col("label"), lit(8100000L).as("vec_id"), col("v"), col("nrm"))
    GraftTable.open(spark, s"$root2/postings").append(bare)
    val (addedRows, fixed) = Similarity.repairBinIndex(spark, root2)
    assert(addedRows === 1L, s"one missing code row re-encoded, got $addedRows")
    assert(fixed === 1L, s"one orphan dropped, got $fixed")
    assert(Similarity.verifyBinIndex(spark, root2) === Seq.empty)
    val codeOf = (id: Long) => GraftTable.open(spark, s"$root2/codes_bin").read()
      .filter(col("vec_id") === id).select("code").head.getSeq[Long](0).toSeq
    assert(codeOf(8100000L) === codeOf(1L),
      "repair must re-derive the sign words from the posting vector alone")
    // erasure: deleteFromIndex walks the bin sibling too
    val q = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val before = Similarity.probeIvfBin(spark, root2, q).collect()
    val victim = before.filter(_.getLong(2) >= 5L).head.getLong(2)
    assert(Similarity.deleteFromIndex(spark, root2, Seq(victim)) === 1L)
    val after = Similarity.probeIvfBin(spark, root2, q).collect()
    assert(after.nonEmpty && !after.exists(_.getLong(2) == victim),
      "an erased vector must stop being retrievable (bin rung)")
    assert(Similarity.verifyBinIndex(spark, root2).isEmpty,
      "postings and sign codes must erase together")
  }

  test("buildIvfIndexFrom: deterministic index from an arbitrary frame; every lifecycle verb works on it") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = tmpDir("ann-build")
    val (nl, nv) = Similarity.buildIvfIndexFrom(spark, vecs, root, nLists = 8)
    assert(nl === 8)
    assert(nv === vecs.count())
    // the quantizer is deterministic: a second build from the same
    // frame commits identical centroids
    val root2 = tmpDir("ann-build-2")
    Similarity.buildIvfIndexFrom(spark, vecs, root2, nLists = 8)
    val c1 = GraftTable.open(spark, s"$root/centroids").read()
      .orderBy("label").collect().map(_.toSeq).toSeq
    val c2 = GraftTable.open(spark, s"$root2/centroids").read()
      .orderBy("label").collect().map(_.toSeq).toSeq
    assert(c1 === c2, "same input must build the identical quantizer")
    // a probe with an indexed vector finds itself at cos 1, rank 1
    val q = GraftTable.open(spark, s"$root/postings").read()
      .filter(col("vec_id") === 7L)
      .select(lit(-1L).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val got = Similarity.probeIvf(spark, root, q).collect()
    assert(got.nonEmpty && got.head.getLong(2) === 7L &&
      got.head.getDouble(3) === 1.0,
      s"self-probe must hit at cos 1: ${got.toSeq}")
    // postings cluster per list: a one-list probe prunes files
    val post = GraftTable.open(spark, s"$root/postings")
    assert(post.prunedFiles(Seq(In("label",
      Array[Any](got.head.getInt(1))))).size < post.committedFiles.size)
    // drift reads clean on the fresh build; incremental append and
    // erasure work unchanged
    assert(Similarity.annDriftReport(spark, root).toMap
      .apply("recommend_recluster") === "0")
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    assert(Similarity.appendToIvfIndex(spark, root,
      Seq((5000000L, v0)).toDF("vec_id", "embedding")) === 1L)
    assert(Similarity.deleteFromIndex(spark, root, Seq(5000000L)) === 1L)
    // quantizeIndex grows each rung from the root's OWN postings; the
    // grown rungs serve their probes, audit clean, and erase together
    assert(Similarity.quantizeIndex(spark, root, "bin") === nv,
      "bin rung must encode every live posting (the erased twin stays out)")
    assert(Similarity.quantizeIndex(spark, root, "int8") === nv)
    assert(Similarity.quantizeIndex(spark, root, "pq") === nv)
    assert(Similarity.verifyBinIndex(spark, root).isEmpty)
    assert(Similarity.verifyInt8Index(spark, root).isEmpty)
    assert(Similarity.verifyIvfPqIndex(spark, root).isEmpty)
    val q31 = GraftTable.open(spark, s"$root/postings").read()
      .filter(col("vec_id") === 31L)
      .select(lit(-1L).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "int8" -> Similarity.probeIvfInt8(spark, root, q31),
      "pq" -> Similarity.probeIvfPq(spark, root, q31),
      "bin" -> Similarity.probeIvfBin(spark, root, q31)
    ).foreach { case (rung, probe) =>
      val hits = probe.collect()
      assert(hits.nonEmpty && hits.head.getLong(2) === 31L &&
        hits.head.getDouble(3) === 1.0,
        s"$rung self-probe through the grown rung must hit at cos 1")
    }
    // a second grow of the same rung refuses loudly
    val eTwice = intercept[IllegalArgumentException] {
      Similarity.quantizeIndex(spark, root, "bin")
    }
    assert(eTwice.getMessage.contains("already carries"))
    val eRung = intercept[IllegalArgumentException] {
      Similarity.quantizeIndex(spark, root, "fp4")
    }
    assert(eRung.getMessage.contains("unknown quantization rung"))

    // loud input hygiene: duplicates and nulls refuse
    val dup = vecs.limit(3).union(vecs.limit(1))
    val eDup = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndexFrom(spark, dup, tmpDir("ann-build-dup"))
    }
    assert(eDup.getMessage.contains("duplicate"))
    val withNull = vecs.limit(3)
      .union(Seq((99L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val eNull = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndexFrom(spark, withNull, tmpDir("ann-build-null"))
    }
    assert(eNull.getMessage.contains("null"))
  }

  test("ann_rebuild relabels the bin codes too: audit clean, probe exact after") {
    import spark.implicits._
    Similarity.s22AnnBinPersisted(spark, dir).count()
    val root = Similarity.binIndexDir(spark, dir)
    val root2 = tmpDir("bin-rebuild")
    Seq("centroids", "postings", "codes_bin").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    Similarity.appendToBinIndex(spark, root2,
      Seq((9000000L, v0)).toDF("vec_id", "embedding"))
    val nBefore = GraftTable.open(spark, s"$root2/postings").rowCountFromMetadata()
    val (_, nVecs) = Similarity.rebuildIvfIndex(spark, root2)
    assert(nVecs === nBefore, "every vector survives the rebuild")
    assert(Similarity.verifyBinIndex(spark, root2) === Seq.empty,
      "the relabel must keep postings and codes_bin in the same lists")
    val q = GraftTable.open(spark, s"$root2/postings").read()
      .filter(col("vec_id") === 9000000L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("q_id", lit(-1L))
    val got = Similarity.probeIvfBin(spark, root2, q).collect()
    assert(got.nonEmpty && got.head.getDouble(3) === 1.0,
      "a planted twin must probe at cos 1.0 through the rebuilt index")
    assert(!GraftTable.exists(s"$root2/codes_bin_rebuild"))
  }

  test("ann_stats reads rungs/counts from metadata; compaction folds append fragmentation, keeps probes bit-identical, reclaims erased mass; drop GCs the root") {
    import spark.implicits._
    Similarity.s9AnnIvfPq(spark, dir).count()
    val root = Similarity.ivfPqIndexDir(spark, dir)
    val root2 = tmpDir("ann-maint")
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      GraftTable.open(spark, s"$root/$t").cloneTo(s"$root2/$t"))

    // -- stats: rungs + counts, before and after an erasure --------------
    val stats0 = Similarity.annIndexStats(spark, root2).toMap
    val live0 = GraftTable.open(spark, s"$root2/postings").rowCountFromMetadata()
    assert(stats0("rungs") === "fp64,pq")
    assert(stats0("lists").toLong > 0L)
    assert(stats0("vectors_live") === live0.toString)
    assert(stats0("vectors_masked") === "0")
    assert(stats0("vectors_physical") === live0.toString)
    assert(stats0("postings.files").toLong > 1L)

    // fragment the root: two incremental appends, then erase one vector
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    Similarity.appendToIvfPqIndex(spark, root2,
      Seq((5000000L, v0)).toDF("vec_id", "embedding"))
    Similarity.appendToIvfPqIndex(spark, root2,
      Seq((5000001L, v0)).toDF("vec_id", "embedding"))
    // erase an ORIGINAL vector: its multi-row postings file takes a
    // merge-on-read sidecar (a 1-row appended file would upgrade to
    // copy-on-write and leave no DV mass for the stats to report)
    Similarity.deleteFromIndex(spark, root2, Seq(7L))
    val stats1 = Similarity.annIndexStats(spark, root2).toMap
    assert(stats1("vectors_live") === (live0 + 1).toString)
    assert(stats1("vectors_masked") === "1")
    assert(stats1("vectors_physical") === (live0 + 2).toString)
    assert(stats1("postings.files").toLong > stats0("postings.files").toLong,
      "each append must have added files — the fragmentation stats exposes")

    // -- compact: fewer files, identical probe, erased mass reclaimed ----
    val q = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0)
      .select(lit(-1L).as("vec_id"), col("embedding"))
    val pre = Similarity.probeIvfPqRaw(spark, root2, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(pre.exists(_(2) === 5000000L) && !pre.exists(_(2) === 7L),
      s"probe must see the live appends and not the erased vector: $pre")
    val per = Similarity.annCompactIndex(spark, root2).toMap
    assert(per("postings") > 0L, s"expected postings files folded: $per")
    val stats2 = Similarity.annIndexStats(spark, root2).toMap
    assert(stats2("postings.files").toLong < stats1("postings.files").toLong)
    assert(stats2("vectors_masked") === "0",
      "the rewrite must materialize the deletion vector")
    assert(stats2("vectors_physical") === (live0 + 1).toString,
      "erased rows must be GONE from the rewritten files, not resurrected")
    assert(stats2("vectors_live") === stats1("vectors_live"))
    val post = Similarity.probeIvfPqRaw(spark, root2, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(post === pre, "compaction must keep probe results bit-identical")
    assert(Similarity.verifyIvfPqIndex(spark, root2) === Seq.empty)

    // -- drop: every sibling gone, root dir gone, re-verbs refuse --------
    assert(Similarity.dropIndex(spark, root2) === 4)
    Seq("centroids", "postings", "codebook", "codes").foreach(t =>
      assert(!GraftTable.exists(s"$root2/$t"), s"$t must be dropped"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root2)),
      "the root directory (incl. the drift baseline) must be GCed")
    val ex = intercept[Exception] { Similarity.annIndexStats(spark, root2) }
    assert(ex.getMessage.contains("no persisted ANN index"))
    // the gate refuses a NON-index directory before touching anything
    val ex2 = intercept[Exception] { Similarity.dropIndex(spark, tmpDir("not-idx")) }
    assert(ex2.getMessage.contains("no persisted ANN index"))
  }

  test("maintenance marker: appends refuse while a verb is in flight; the next verb reclaims a crashed marker; ann_build reclaims empty-postings residue") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = tmpDir("ann-maint")
    Similarity.buildIvfIndexFrom(spark, vecs, root, nLists = 4)
    val (fs, _) = GraftTable.fsAndPath(root)
    val marker = new org.apache.hadoop.fs.Path(root,
      Similarity.MaintenanceMarker)
    // an in-flight (or crashed) compact holds the marker — the append
    // entry point must refuse loudly, not race the staging swap
    fs.create(marker, false).close()
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    val eApp = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, root,
        Seq((6000000L, v0)).toDF("vec_id", "embedding"))
    }
    assert(eApp.getMessage.contains("under maintenance"),
      s"append during maintenance must refuse loudly: ${eApp.getMessage}")
    // the CALL-surface append funnels through the same site
    val eApp2 = intercept[IllegalArgumentException] {
      Similarity.appendVectorsToIndex(spark, root,
        Seq((6000000L, v0)).toDF("vec_id", "embedding"))
    }
    assert(eApp2.getMessage.contains("under maintenance"))
    // erasure writes every sibling too — same refusal
    val eDel = intercept[IllegalArgumentException] {
      Similarity.deleteFromIndex(spark, root, Seq(1L))
    }
    assert(eDel.getMessage.contains("under maintenance"))
    // a FRESH foreign marker is presumed LIVE in another process
    // (heartbeat keeps a live verb's marker young — VERDICT r14 #3):
    // a new maintenance verb must REFUSE, not reclaim it out from
    // under a possibly-running owner
    val eVerb = intercept[IllegalArgumentException] {
      Similarity.annCompactIndex(spark, root)
    }
    assert(eVerb.getMessage.contains("LIVE"),
      s"a fresh foreign marker must refuse a new verb: ${eVerb.getMessage}")
    assert(fs.exists(marker), "the refusing verb must leave the marker")
    // …but an AGED marker is a crashed verb's residue: the next
    // maintenance verb reclaims it, completes, and releases — appends
    // flow again
    fs.setTimes(marker,
      System.currentTimeMillis() - Similarity.FoldReclaimAgeMs - 1000L, -1L)
    Similarity.annCompactIndex(spark, root)
    assert(!fs.exists(marker), "a completed verb must release the marker")
    assert(Similarity.appendToIvfIndex(spark, root,
      Seq((6000000L, v0)).toDF("vec_id", "embedding")) === 1L)
    // quantize holds the marker for its run too, and releases it
    Similarity.quantizeIndex(spark, root, "bin")
    assert(!fs.exists(marker))
    // ann_build residue reclaim (ADVICE r13): a crash between the
    // postings CREATE and its first append leaves an empty v0 postings
    // table — the build must reclaim it instead of refusing forever
    val root2 = tmpDir("ann-maint-residue")
    GraftTable.create(spark, s"$root2/postings",
      GraftTable.open(spark, s"$root/postings").read().schema)
    // a FRESH empty v0 could be a concurrent ann_build mid-create
    // (ADVICE r14) — the racing build must refuse, not drop it
    val eFresh = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndexFrom(spark, vecs, root2, nLists = 4)
    }
    assert(eFresh.getMessage.contains("mid-create"),
      s"a fresh empty v0 must refuse the racing build: ${eFresh.getMessage}")
    // …aged past the reclaim TTL it is crash residue and is reclaimed
    val v0Meta = new org.apache.hadoop.fs.Path(
      s"$root2/postings/_graft_history/" + f"v${0L}%020d.json")
    fs.setTimes(v0Meta,
      System.currentTimeMillis() - Similarity.FoldReclaimAgeMs - 1000L, -1L)
    val (nl2, _) = Similarity.buildIvfIndexFrom(spark, vecs, root2, nLists = 4)
    assert(nl2 === 4, "empty-v0 postings residue must be reclaimed")
    // …while a root with COMMITTED data versions still refuses
    val eBuild = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndexFrom(spark, vecs, root, nLists = 4)
    }
    assert(eBuild.getMessage.contains("append/rebuild instead"))
  }

  test("stale-marker reclaim is atomic: a misfired reclaim restores a fresh marker instead of deleting it (ADVICE r15)") {
    val root = tmpDir("ann-reclaim-toctou")
    val (fs, _) = GraftTable.fsAndPath(root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    val marker = new org.apache.hadoop.fs.Path(root,
      Similarity.MaintenanceMarker)
    def write(content: String): Unit = {
      val out = fs.create(marker, true)
      out.write(content.getBytes("UTF-8")); out.close()
    }
    def readBack(): String = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // 1. matching observation: the reclaim wins and frees the path
    write("autocompact:stale-token")
    assert(Similarity.reclaimStaleMarker(fs, marker, "autocompact:stale-token"))
    assert(!fs.exists(marker))
    // 2. the TOCTOU window: the marker was REPLACED between the age
    // check and the reclaim (another process reclaimed the stale one
    // and claimed fresh) — the blind delete this replaces would have
    // destroyed the fresh owner's claim; the atomic reclaim must
    // detect the mismatch, RESTORE the fresh marker, and report live
    write("maintenance:fresh-owner-token")
    assert(!Similarity.reclaimStaleMarker(fs, marker, "autocompact:stale-token"))
    assert(fs.exists(marker), "a misfired reclaim must restore the fresh marker")
    assert(readBack() === "maintenance:fresh-owner-token",
      "the restored marker must carry the fresh owner's content")
    // 3. vanished marker (owner released): the rename loses → not ours
    fs.delete(marker, false)
    assert(!Similarity.reclaimStaleMarker(fs, marker, "maintenance:fresh-owner-token"))
    // no tombstone residue left behind in any branch
    val residue = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.contains("_tomb_"))
    assert(residue.isEmpty, s"tombstone residue: ${residue.mkString(",")}")
  }

  test("a crashed auto-compact's marker never blocks appends and self-heals on the next opted-in append") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = tmpDir("ann-ac-crash")
    Similarity.buildIvfIndexFrom(spark, vecs, root, nLists = 4)
    val (fs, _) = GraftTable.fsAndPath(root)
    val marker = new org.apache.hadoop.fs.Path(root,
      Similarity.MaintenanceMarker)
    // a fold that died mid-run leaves an "autocompact"-kind marker;
    // backdate it past the reclaim age (a FRESH fold marker is assumed
    // live and is skipped, not reclaimed — the cross-process race gate)
    val out = fs.create(marker, false)
    out.write("autocompact:dead-process".getBytes("UTF-8")); out.close()
    fs.setTimes(marker,
      System.currentTimeMillis() - Similarity.FoldReclaimAgeMs - 60000L, -1L)
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // ingestion is NOT blocked: the fold is append-safe at the table
    // lock, so its crash residue must not turn the index refusing
    assert(Similarity.appendVectorsToIndex(spark, root,
      Seq((7100000L, v0)).toDF("vec_id", "embedding")) === 1L)
    // …and the next OPTED-IN append reclaims the residue, folds, and
    // releases — self-healing without an operator verb
    assert(Similarity.appendVectorsToIndex(spark, root,
      Seq((7100001L, v0)).toDF("vec_id", "embedding"),
      autoCompactMinFiles = 1) === 1L)
    assert(!fs.exists(marker),
      "the opted-in append must reclaim a crashed fold's marker and release it")
    // a MAINTENANCE-kind marker still blocks (the verbs' swap windows)
    val out2 = fs.create(marker, false)
    out2.write("maintenance:dead-process".getBytes("UTF-8")); out2.close()
    val e = intercept[IllegalArgumentException] {
      Similarity.appendVectorsToIndex(spark, root,
        Seq((7100002L, v0)).toDF("vec_id", "embedding"))
    }
    assert(e.getMessage.contains("under maintenance"))
    fs.delete(marker, false)
  }

  test("opt-in append-time auto-compact: fragmentation signal drops without a manual CALL; probes bit-identical") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // two identical roots (the build is deterministic): control appends
    // plain, the other opts into append-time folding
    val ctrl = tmpDir("ann-ac-ctrl")
    val auto = tmpDir("ann-ac-auto")
    Similarity.buildIvfIndexFrom(spark, vecs, ctrl, nLists = 4)
    Similarity.buildIvfIndexFrom(spark, vecs, auto, nLists = 4)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 6).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    emb.zipWithIndex.foreach { case ((_, v), i) =>
      val batch = Seq((7000000L + i, v)).toDF("vec_id", "embedding")
      assert(Similarity.appendVectorsToIndex(spark, ctrl, batch) === 1L)
      assert(Similarity.appendVectorsToIndex(spark, auto, batch,
        autoCompactMinFiles = 4) === 1L)
    }
    def frag(root: String): Long = Similarity.annIndexStats(spark, root)
      .toMap.apply("postings.files_per_list_x100").toLong
    assert(frag(auto) < frag(ctrl),
      s"opt-in folding must drop the fragmentation signal without a " +
        s"manual CALL: auto=${frag(auto)} vs ctrl=${frag(ctrl)}")
    // probe results bit-identical: folding is row/cluster/DV-preserving
    val q = GraftTable.open(spark, s"$ctrl/postings").read()
      .filter(col("vec_id") === 7000003L)
      .select(lit(-1L).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val a = Similarity.probeIvf(spark, ctrl, q).collect().map(_.toSeq).toSeq
    val b = Similarity.probeIvf(spark, auto, q).collect().map(_.toSeq).toSeq
    assert(a === b && a.nonEmpty,
      "probes over the folded root must be bit-identical to the control")
  }
}
