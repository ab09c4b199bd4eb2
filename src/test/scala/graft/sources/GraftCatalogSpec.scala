package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.SparkSpec
import graft.storage.GraftTable

/** SQL lifecycle parity through the DSv2 TableCatalog — the reference's
  * utility-command interception (`cstore_fdw.c:334-412`): DROP TABLE GCs
  * the files (sql/drop.sql:30-32), TRUNCATE works from SQL
  * (sql/truncate.sql:60-97), ALTER routes through the coercibility rules
  * (sql/alter.sql:75-83) — plus exact-row-count statistics reaching
  * Catalyst (the reference ANALYZE's planner role, cstore_fdw.c:1628-1720). */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse: String = tmpDir("graft-warehouse")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", warehouse)
  }

  test("DROP TABLE removes data + metadata files (sql/drop.sql:30-32)") {
    spark.sql(s"CREATE TABLE gcat.db1.contestants (a INT, b STRING) USING graft")
    spark.sql("INSERT INTO gcat.db1.contestants VALUES (1, 'x'), (2, 'y')")
    val dir = Paths.get(warehouse, "db1", "contestants")
    assert(Files.exists(dir), "table directory exists after create+insert")
    assert(spark.table("gcat.db1.contestants").count() === 2)
    spark.sql("DROP TABLE gcat.db1.contestants")
    assert(!Files.exists(dir), "SQL DROP TABLE must garbage-collect the files")
    intercept[Exception](spark.table("gcat.db1.contestants").count())
  }

  test("CREATE TABLE AS SELECT materializes through the graft write path") {
    spark.sql("CREATE TABLE gcat.db1.ctas_src (a INT, b STRING) USING graft")
    spark.sql("INSERT INTO gcat.db1.ctas_src SELECT id, concat('v', id) FROM range(50)")
    spark.sql("CREATE TABLE gcat.db1.ctas_out USING graft AS " +
      "SELECT a, b FROM gcat.db1.ctas_src WHERE a < 10")
    assert(spark.table("gcat.db1.ctas_out").count() === 10)
    // the CTAS result is a full graft table: metadata, exact counts, DROP GC
    val t = GraftTable.open(spark, s"$warehouse/db1/ctas_out")
    assert(t.rowCountFromMetadata() === 10L)
    spark.sql("DROP TABLE gcat.db1.ctas_out")
    spark.sql("DROP TABLE gcat.db1.ctas_src")
    assert(!Files.exists(Paths.get(warehouse, "db1", "ctas_out")))
  }

  test("CALL procedures: compact, vacuum, analyze, table_size") {
    import spark.implicits._
    spark.sql("CREATE TABLE gcat.db1.proc_t (a INT, b STRING) USING graft")
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO gcat.db1.proc_t VALUES ($i, 'v$i')")
    val tdir = s"$warehouse/db1/proc_t"
    assert(GraftTable.open(spark, tdir).committedFiles.size > 1)
    // plant an orphan batch dir (a crashed writer's residue)
    val orphan = Paths.get(tdir, "data", "batch-99-deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-stray.parquet"), Array[Byte](1, 2, 3))

    // a YOUNG unreferenced dir is indistinguishable from a concurrent
    // writer's in-flight append (files land before the CAS claim), so
    // vacuum must spare it until the commit claim grace elapses
    val vac0 = spark.sql("CALL gcat.system.vacuum('db1.proc_t')").collect()
    assert(vac0.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("orphan_dirs_reclaimed", 0L)))
    assert(Files.exists(orphan), "young orphan is in-flight-protected")
    withConf("spark.graft.commit.claimGraceMs", "-1") {
      val vac = spark.sql("CALL gcat.system.vacuum('db1.proc_t')").collect()
      assert(vac.map(r => (r.getString(1), r.getLong(2))).toSeq ===
        Seq(("orphan_dirs_reclaimed", 1L)))
    }
    assert(!Files.exists(orphan))

    // incremental form first: the 3 one-row inserts ARE the small tail
    val cs = spark.sql("CALL gcat.system.compact_small('db1.proc_t')").collect()
    assert(cs.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("small_files_merged", 3L)))
    assert(GraftTable.open(spark, tdir).committedFiles.size === 1)
    assert(spark.table("gcat.db1.proc_t").count() === 3)

    val comp = spark.sql("CALL gcat.system.compact('db1.proc_t')").collect()
    assert(comp.head.getLong(2) === 1L)
    assert(GraftTable.open(spark, tdir).committedFiles.size === 1)
    assert(spark.table("gcat.db1.proc_t").count() === 3)

    // clustering repair: two overlapping sorted appends fold; the CALL
    // reports the folded count and the repaired table stays intact
    spark.sql("CREATE TABLE gcat.db1.proc_ov (id INT, v STRING) USING graft " +
      "TBLPROPERTIES ('sort_by'='id')")
    val ov = GraftTable.open(spark, s"$warehouse/db1/proc_ov")
    import spark.implicits._
    ov.append((0 until 50).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    ov.append((25 until 75).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val co = spark.sql("CALL gcat.system.compact_overlapping('db1.proc_ov')")
      .collect()
    assert(co.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("overlapping_files_folded", 2L)))
    assert(spark.table("gcat.db1.proc_ov").count() === 100)

    val an = spark.sql("CALL gcat.system.analyze('db1.proc_t')").collect()
    assert(an.head.getLong(2) === 3L)
    assert(GraftTable.open(spark, tdir).stats().exists(_.rowCount == 3L))

    val sz = spark.sql("CALL gcat.system.table_size('db1.proc_t')").collect()
    assert(sz.head.getLong(2) > 0L)

    // snapshot history through SQL: 3 inserts + compact = versions 0..4,
    // expire to the newest then history shows exactly one row
    val hist = spark.sql("CALL gcat.system.history('db1.proc_t')").collect()
    assert(hist.length === 5 && hist.map(_.getLong(0)).toSeq === (0L to 4L))
    assert(hist.last.getLong(1) === 3L, "newest snapshot has the 3 rows")
    // metadata-only snapshot diff across the 3 inserts + compact
    val diff = spark.sql("CALL gcat.system.diff('db1.proc_t', 1, 4)").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(diff("rows_delta") === 2L) // v1 had 1 row, v4 (compacted) has 3
    assert(diff("files_added") >= 1L && diff("files_removed") >= 1L)
    assert(diff("schema_changed") === 0L)

    val exp = spark.sql("CALL gcat.system.expire_history('db1.proc_t', 1)").collect()
    assert(exp.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("snapshots_expired", 4L)))

    assert(spark.sql("CALL gcat.system.history('db1.proc_t')").count() === 1L)

    // DESCRIBE DETAIL shape: the one-call operational summary, including
    // the evolution state (tombstones + pending columns)
    val t2 = GraftTable.open(spark, tdir)
    t2.appendMergeSchema(Seq((99, "x", 7)).toDF("a", "b", "extra"))
    t2.dropColumn("b")
    val detail = spark.sql("CALL gcat.system.detail('db1.proc_t')").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(detail("row_count") === "4" && detail("num_files").toInt >= 2)
    assert(detail("size_bytes").toLong > 0L)
    assert(detail("delete_mode") === "copy-on-write")
    assert(detail("dropped_column_tombstones") === "b",
      s"detail must surface the tombstone: $detail")
    assert(detail("pending_evolution_columns") === "extra",
      "detail must surface the evolved column holding pushdown refused")
    assert(detail("retained_snapshots").toInt >= 1)
    // a full rewrite clears both markers and the detail reflects it
    spark.sql("CALL gcat.system.compact('db1.proc_t')")
    val after = spark.sql("CALL gcat.system.detail('db1.proc_t')").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after("dropped_column_tombstones") === "-")
    assert(after("pending_evolution_columns") === "-")

    // the table argument is spliced into a warehouse path: a traversal
    // segment must be rejected, not resolved outside the warehouse
    val outside = tmpDir("proc-escape") + "/victim"
    GraftTable.create(spark, outside, spark.table("gcat.db1.proc_t").schema)
    val rel = Paths.get(warehouse).relativize(
      Paths.get(new org.apache.hadoop.fs.Path(outside).toUri.getPath)).toString
    assert(rel.startsWith(".."), s"escape path sanity: $rel")
    val ex = intercept[Exception](
      spark.sql(s"CALL gcat.system.table_size('$rel')").collect())
    assert(ex.getMessage.contains("invalid table name"), ex.getMessage)
    assert(GraftTable.exists(outside), "victim table untouched")
    spark.sql("DROP TABLE gcat.db1.proc_t")
  }

  test("TRUNCATE TABLE from SQL keeps definition, drops data (sql/truncate.sql:60-97)") {
    spark.sql(s"CREATE TABLE gcat.db1.trunc_t (a INT) USING graft")
    spark.sql("INSERT INTO gcat.db1.trunc_t VALUES (1), (2), (3)")
    assert(spark.table("gcat.db1.trunc_t").count() === 3)
    spark.sql("TRUNCATE TABLE gcat.db1.trunc_t")
    assert(spark.table("gcat.db1.trunc_t").count() === 0)
    // still writable after SQL truncate
    spark.sql("INSERT INTO gcat.db1.trunc_t VALUES (9)")
    assert(spark.table("gcat.db1.trunc_t").collect().map(_.getInt(0)).toSeq === Seq(9))
    spark.sql("DROP TABLE gcat.db1.trunc_t")
  }

  test("ALTER TABLE lifecycle from SQL: ADD DEFAULT, explicit NULL, type coercibility") {
    spark.sql(s"CREATE TABLE gcat.db1.alt (id INT, name STRING) USING graft")
    spark.sql("INSERT INTO gcat.db1.alt VALUES (1, 'pre')")
    // ADD COLUMN ... DEFAULT applies only to pre-ALTER rows
    spark.sql("ALTER TABLE gcat.db1.alt ADD COLUMN score INT DEFAULT 42")
    spark.sql("INSERT INTO gcat.db1.alt VALUES (2, 'post', NULL), (3, 'post', 7)")
    val byId = spark.table("gcat.db1.alt").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(2)) null else r.getInt(2))).toMap
    assert(byId(1) === 42 && byId(2) === null && byId(3) === 7)
    // widening type change OK; narrowing rejected (sql/alter.sql:75-83)
    spark.sql("ALTER TABLE gcat.db1.alt ALTER COLUMN id TYPE BIGINT")
    assert(spark.table("gcat.db1.alt").schema("id").dataType.typeName === "long")
    // narrowing: Spark's own analyzer rejects it before the catalog —
    // same reference outcome (sql/alter.sql:80 float->int fails)
    intercept[Exception](
      spark.sql("ALTER TABLE gcat.db1.alt ALTER COLUMN score TYPE SMALLINT"))
    // int->string: Spark's upcast rule would allow it, but the reference's
    // implicit-coercibility matrix does not (sql/alter.sql:75-83) — this
    // exercises the catalog-level check
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gcat.db1.alt ALTER COLUMN score TYPE STRING"))
    assert(e.getMessage.contains("coercible"), e.getMessage)
    // DROP COLUMN hides data
    spark.sql("ALTER TABLE gcat.db1.alt DROP COLUMN name")
    assert(spark.table("gcat.db1.alt").columns.toSeq === Seq("id", "score"))
    spark.sql("DROP TABLE gcat.db1.alt")
  }

  test("RENAME + SHOW TABLES through the catalog") {
    spark.sql(s"CREATE TABLE gcat.db2.a (x INT) USING graft")
    spark.sql("INSERT INTO gcat.db2.a VALUES (5)")
    // RENAME TO takes a catalog-relative multi-part name
    spark.sql("ALTER TABLE gcat.db2.a RENAME TO db2.b")
    assert(spark.table("gcat.db2.b").collect().head.getInt(0) === 5)
    val shown = spark.sql("SHOW TABLES IN gcat.db2").collect().map(_.getString(1)).toSet
    assert(shown === Set("b"))
    spark.sql("DROP TABLE gcat.db2.b")
  }

  test("exact row count reaches Catalyst; small graft table broadcasts (cstore_fdw.c:1628-1720)") {
    import spark.implicits._
    spark.sql(s"CREATE TABLE gcat.db1.dim (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO gcat.db1.dim SELECT id, concat('v', id) FROM range(100)")
    // numRows must be the exact committed count, not a file-size guess
    val scan = spark.table("gcat.db1.dim")
    val stats = scan.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.stats
    }
    assert(stats.nonEmpty, "expected a DSv2 scan relation")
    assert(stats.head.rowCount.map(_.toLong) === Some(100L),
      s"exact metadata row count should reach Catalyst, got ${stats.head}")
    // and the join planner uses it: dim is tiny -> broadcast side
    val joined = spark.range(100000).toDF("k2")
      .join(spark.table("gcat.db1.dim"), $"k2" === $"k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    spark.sql("DROP TABLE gcat.db1.dim")
  }

  test("CALL manifest reports metadata-layer segment health") {
    import spark.implicits._
    val tdir = s"$warehouse/db1/mani_t"
    val t = GraftTable.create(spark, tdir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.IntegerType))))
    // inline table: empty report
    t.append(Seq(1, 2, 3).toDF("a").coalesce(1))
    assert(spark.sql("CALL gcat.system.manifest('db1.mani_t')").collect()
      .isEmpty, "inline tables have no segments")
    // grow past the inline threshold (16 files), then strand dead
    // stats via a delete
    for (i <- 0 until 18)
      t.append(Seq(100 + i).toDF("a").coalesce(1))
    t.delete(Seq(org.apache.spark.sql.sources.EqualTo("a", 100)))
    val rows = spark.sql("CALL gcat.system.manifest('db1.mani_t')").collect()
    assert(rows.nonEmpty, "post-threshold tables report segments")
    // conservation: added - removed across segments == live file count,
    // and the delete's stranded entry shows up as dead stats mass; both
    // stats columns are file-granular, so dead <= stats per segment
    assert(rows.map(r => r.getLong(1) - r.getLong(2)).sum ===
      t.relFiles.size.toLong)
    assert(rows.map(_.getLong(4)).sum >= 1L, "the deleted file's stats are dead mass")
    assert(rows.forall(r => r.getLong(4) <= r.getLong(3)),
      "dead stats files are a subset of the segment's stats files")
    assert(rows.forall(_.getLong(5) > 0L), "every segment has on-disk bytes")
    GraftTable.drop(tdir)
  }

  test("CALL pipeline operators equal their Scala twins (dedup_exact=d1, decontaminate=c9, ann_probe=s7)") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    try {
      // -- dedup_exact ≡ d1 --------------------------------------------
      GraftTable.create(spark, s"$warehouse/db1/call_docs", docs.schema)
        .append(docs)
      val ded = spark.sql(
        "CALL gcat.system.dedup_exact('db1.call_docs', 'db1.call_winners')")
        .collect()
      val gotW = spark.table("gcat.db1.call_winners")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantW = graft.operators.Dedup.d1ExactDedup(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotW === wantW, "CALL dedup_exact must reproduce d1 exactly")
      assert(ded.head.getLong(2) === wantW.size.toLong)
      // -- quality_votes ≡ t17 ------------------------------------------
      spark.sql(
        "CALL gcat.system.quality_votes('db1.call_docs', 'db1.call_scored')")
      val gotQ = spark.table("gcat.db1.call_scored")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantQ = graft.operators.TextAnalysis.t17TokenVotes(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotQ === wantQ, "CALL quality_votes must reproduce t17 exactly")
      // -- ngram_novelty ≡ t18 -------------------------------------------
      spark.sql(
        "CALL gcat.system.ngram_novelty('db1.call_docs', 'db1.call_novelty')")
      val gotN = spark.table("gcat.db1.call_novelty")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantN = graft.operators.TextAnalysis.t18NgramNovelty(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotN === wantN, "CALL ngram_novelty must reproduce t18 exactly")
      // -- dataset_card ≡ c16 (needs the source column) ------------------
      val docsSrc = graft.Tables.load(spark, dir, "documents")
        .select(col("source"), col("doc_id").cast("long").as("doc_id"),
          col("text"))
      GraftTable.create(spark, s"$warehouse/db1/call_docs_src", docsSrc.schema)
        .append(docsSrc)
      spark.sql(
        "CALL gcat.system.dataset_card('db1.call_docs_src', 'db1.call_card')")
      val gotCard = spark.table("gcat.db1.call_card")
        .orderBy("source").collect().map(_.toSeq).toSeq
      val wantCard = graft.operators.Sampling.c16DatasetCard(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotCard === wantCard, "CALL dataset_card must reproduce c16 exactly")
      // -- quality_gate ≡ c19 (same source-keyed table) ------------------
      spark.sql(
        "CALL gcat.system.quality_gate('db1.call_docs_src', 'db1.call_gated')")
      val gotGate = spark.table("gcat.db1.call_gated")
        .orderBy("source", "rk").collect().map(_.toSeq).toSeq
      val wantGate = graft.operators.Sampling.c19QualityGate(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotGate === wantGate, "CALL quality_gate must reproduce c19 exactly")
      // -- quality_gate mode => 'approx': the 100 TB threshold path
      // (VERDICT r16 #3) must land the SAME rows through the CALL
      // surface (the default-valued third parameter exercises the
      // exact path above)
      spark.sql("CALL gcat.system.quality_gate(" +
        "'db1.call_docs_src', 'db1.call_gated_approx', mode => 'approx')")
      val gotApprox = spark.table("gcat.db1.call_gated_approx")
        .orderBy("source", "rk").collect().map(_.toSeq).toSeq
      assert(gotApprox === wantGate,
        "CALL quality_gate(mode => 'approx') must reproduce the exact gate")
      val badMode = intercept[Exception](spark.sql(
        "CALL gcat.system.quality_gate(" +
          "'db1.call_docs_src', 'db1.call_gated_bad', mode => 'fuzzy')"))
      assert(badMode.getMessage.contains("exact") ||
        badMode.getMessage.contains("fuzzy"))
      // -- threshold_gate ≡ c20 (corpus-threshold serving gate) ----------
      GraftTable.create(spark, s"$warehouse/db1/call_gate_corpus",
          docsSrc.schema)
        .append(docsSrc.filter(col("doc_id") % 10 =!= 7))
      GraftTable.create(spark, s"$warehouse/db1/call_gate_batch",
          docsSrc.schema)
        .append(docsSrc.filter(col("doc_id") % 10 === 7))
      spark.sql("CALL gcat.system.threshold_gate(" +
        "'db1.call_gate_batch', 'db1.call_gate_corpus', 'db1.call_gate_kept')")
      val gotTg = spark.table("gcat.db1.call_gate_kept")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantTg = graft.operators.Sampling.c20ThresholdGate(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotTg === wantTg, "CALL threshold_gate must reproduce c20 exactly")
      // -- decontaminate ≡ c9 (same eval split: doc_id < 5) -------------
      GraftTable.create(spark, s"$warehouse/db1/call_corpus", docs.schema)
        .append(docs.filter(col("doc_id") >= 5))
      GraftTable.create(spark, s"$warehouse/db1/call_eval", docs.schema)
        .append(docs.filter(col("doc_id") < 5))
      spark.sql("CALL gcat.system.decontaminate(" +
        "'db1.call_corpus', 'db1.call_eval', 'db1.call_flagged')")
      val gotC = spark.table("gcat.db1.call_flagged")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantC = graft.operators.Sampling.c9BloomDecontaminate(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotC === wantC, "CALL decontaminate must reproduce c9 exactly")
      // -- novelty_match ≡ NoveltyStream.score (batch vs committed corpus)
      spark.sql("CALL gcat.system.novelty_match(" +
        "'db1.call_eval', 'db1.call_corpus', 'db1.call_nm')")
      val gotNm = spark.table("gcat.db1.call_nm")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val nmIdx = graft.streaming.DecontaminateStream.buildIndex(
        GraftTable.open(spark, s"$warehouse/db1/call_corpus").read())
      val wantNm = graft.streaming.NoveltyStream.score(nmIdx,
        GraftTable.open(spark, s"$warehouse/db1/call_eval").read())
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      nmIdx.release()
      assert(gotNm === wantNm,
        "CALL novelty_match must reproduce the stream's batch scorer")
      assert(gotNm.nonEmpty, "the eval batch must score")
      // -- novelty_match within_batch => true ≡ t19's composed body -----
      spark.sql("CALL gcat.system.novelty_match('db1.call_eval', " +
        "'db1.call_corpus', 'db1.call_nm_wb', within_batch => true)")
      val gotWb = spark.table("gcat.db1.call_nm_wb")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantWb = graft.operators.TextAnalysis.batchNoveltyCore(
        GraftTable.open(spark, s"$warehouse/db1/call_corpus").read(),
        GraftTable.open(spark, s"$warehouse/db1/call_eval").read())
        .collect().map(_.toSeq).toSeq
      assert(gotWb === wantWb,
        "CALL novelty_match(within_batch => true) must reproduce t19's body")
      // -- ann_probe ≡ s7's probe --------------------------------------
      val root = graft.operators.Similarity.ivfIndexDir(spark, dir)
      Seq("centroids", "postings").foreach(t =>
        GraftTable.open(spark, s"$root/$t")
          .cloneTo(s"$warehouse/db1/call_idx/$t"))
      val rawQ = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
      GraftTable.create(spark, s"$warehouse/db1/call_q", rawQ.schema)
        .append(rawQ)
      spark.sql("CALL gcat.system.ann_probe(" +
        "'db1.call_idx', 'db1.call_q', 'db1.call_topk')")
      val gotA = spark.table("gcat.db1.call_topk")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val wantA = graft.operators.Similarity
        .probeIvfRaw(spark, s"$warehouse/db1/call_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(gotA.nonEmpty && gotA === wantA,
        "CALL ann_probe must reproduce the persisted-index probe exactly")
      // the arity-overloaded 4th arg widens the probe (s20's dial)
      spark.sql("CALL gcat.system.ann_probe(" +
        "'db1.call_idx', 'db1.call_q', 'db1.call_topk3', 3)")
      val got3 = spark.table("gcat.db1.call_topk3")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val want3 = graft.operators.Similarity
        .probeIvfRaw(spark, s"$warehouse/db1/call_idx", rawQ, nprobe = 3)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(got3.nonEmpty && got3 === want3,
        "CALL ann_probe with nprobe must reproduce the widened probe exactly")
      // -- ann_probe_int8 ≡ s17's probe; ann_verify audits the root ----
      val i8root = graft.operators.Similarity.int8IndexDir(spark, dir)
      Seq("i8meta", "codes_i8").foreach(t =>
        GraftTable.open(spark, s"$i8root/$t")
          .cloneTo(s"$warehouse/db1/call_idx/$t"))
      spark.sql("CALL gcat.system.ann_probe_int8(" +
        "'db1.call_idx', 'db1.call_q', 'db1.call_topk8')")
      val gotI = spark.table("gcat.db1.call_topk8")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val wantI = graft.operators.Similarity
        .probeIvfInt8Raw(spark, s"$warehouse/db1/call_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(gotI.nonEmpty && gotI === wantI,
        "CALL ann_probe_int8 must reproduce the persisted int8 probe exactly")
      val ver = spark.sql("CALL gcat.system.ann_verify('db1.call_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1))
      assert(ver.toSeq === Seq("status" -> "clean"),
        s"fresh index must verify clean, got ${ver.toSeq}")
      // -- ann_probe_pq ≡ s9's probe (the PQ rung's CALL) ---------------
      val pqroot = graft.operators.Similarity.ivfPqIndexDir(spark, dir)
      Seq("codebook", "codes").foreach(t =>
        GraftTable.open(spark, s"$pqroot/$t")
          .cloneTo(s"$warehouse/db1/call_idx/$t"))
      spark.sql("CALL gcat.system.ann_probe_pq(" +
        "'db1.call_idx', 'db1.call_q', 'db1.call_topkpq')")
      val gotP = spark.table("gcat.db1.call_topkpq")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val wantP = graft.operators.Similarity
        .probeIvfPqRaw(spark, s"$warehouse/db1/call_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(gotP.nonEmpty && gotP === wantP,
        "CALL ann_probe_pq must reproduce the persisted PQ probe exactly")
      // -- ann_probe_bin ≡ s22's probe (the 1-bit rung's CALL) ----------
      val binroot = graft.operators.Similarity.binIndexDir(spark, dir)
      GraftTable.open(spark, s"$binroot/codes_bin")
        .cloneTo(s"$warehouse/db1/call_idx/codes_bin")
      spark.sql("CALL gcat.system.ann_probe_bin(" +
        "'db1.call_idx', 'db1.call_q', 'db1.call_topkbin')")
      val gotB = spark.table("gcat.db1.call_topkbin")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val wantB = graft.operators.Similarity
        .probeIvfBinRaw(spark, s"$warehouse/db1/call_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(gotB.nonEmpty && gotB === wantB,
        "CALL ann_probe_bin must reproduce the persisted binary probe exactly")
      // -- ann_build: index CREATION from SQL — the built root serves
      // every other ann_* verb unchanged --------------------------------
      val vecsAll = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      GraftTable.create(spark, s"$warehouse/db1/call_vecs", vecsAll.schema)
        .append(vecsAll)
      val built = spark.sql("CALL gcat.system.ann_build(" +
        "'db1.call_vecs', 'db1.built_idx', 6)")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(built("lists") === 6L)
      assert(built("vectors_indexed") === vecsAll.count())
      spark.sql("CALL gcat.system.ann_probe(" +
        "'db1.built_idx', 'db1.call_q', 'db1.call_topkbuilt')")
      val gotBl = spark.table("gcat.db1.call_topkbuilt")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val wantBl = graft.operators.Similarity
        .probeIvfRaw(spark, s"$warehouse/db1/built_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(gotBl.nonEmpty && gotBl === wantBl,
        "a CALL-built index must serve CALL ann_probe exactly")
      val driftB = spark.sql("CALL gcat.system.ann_drift('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(driftB("recommend_recluster") === "0",
        "a fresh CALL-built index must read drift-clean")
      // re-building over an existing root refuses loudly
      val eBuilt = intercept[Exception] {
        spark.sql("CALL gcat.system.ann_build('db1.call_vecs', 'db1.built_idx')")
      }
      assert(eBuilt.getMessage.contains("already has postings"),
        s"got ${eBuilt.getMessage}")
      // -- ann_quantize: grow a rung on the CALL-built root; the grown
      // rung serves its probe CALL and the audit stays clean ------------
      val quant = spark.sql(
        "CALL gcat.system.ann_quantize('db1.built_idx', 'int8')")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(quant("int8_code_rows") === vecsAll.count())
      spark.sql("CALL gcat.system.ann_probe_int8(" +
        "'db1.built_idx', 'db1.call_q', 'db1.call_topkq8')")
      val gotQ8 = spark.table("gcat.db1.call_topkq8")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val wantQ8 = graft.operators.Similarity
        .probeIvfInt8Raw(spark, s"$warehouse/db1/built_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(gotQ8.nonEmpty && gotQ8 === wantQ8,
        "a CALL-grown int8 rung must serve CALL ann_probe_int8 exactly")
      val verQ = spark.sql("CALL gcat.system.ann_verify('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1))
      assert(verQ.toSeq === Seq("status" -> "clean"),
        s"the grown rung must audit clean: ${verQ.toSeq}")
      // -- ann_append: incremental add from SQL maintains EVERY rung the
      // root carries; re-appending the same ids refuses loudly ----------
      val newVecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 2)
        .select((col("vec_id") + 8000000L).as("vec_id"), col("embedding"))
      GraftTable.create(spark, s"$warehouse/db1/call_new", newVecs.schema)
        .append(newVecs)
      val app = spark.sql(
        "CALL gcat.system.ann_append('db1.built_idx', 'db1.call_new')")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(app("vectors_appended") === 2L)
      val verA = spark.sql("CALL gcat.system.ann_verify('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1))
      assert(verA.toSeq === Seq("status" -> "clean"),
        s"ann_append must maintain the grown int8 sibling: ${verA.toSeq}")
      val gotApp = graft.operators.Similarity
        .probeIvfInt8Raw(spark, s"$warehouse/db1/built_idx", rawQ).collect()
      assert(gotApp.exists(_.getLong(2) === 8000000L),
        "an appended twin of query 0 must surface through the int8 probe")
      val eApp = intercept[Exception] {
        spark.sql("CALL gcat.system.ann_append('db1.built_idx', 'db1.call_new')")
      }
      assert(eApp.getMessage.contains("already indexed"),
        s"got ${eApp.getMessage}")
      // -- ann_stats: metadata-only observability over the grown root ----
      val statsB = spark.sql("CALL gcat.system.ann_stats('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(statsB("lists") === "6")
      assert(statsB("rungs") === "fp64,int8")
      assert(statsB("vectors_live") === (vecsAll.count() + 2).toString)
      assert(statsB("vectors_masked") === "0")
      assert(statsB("codes_i8.rows") === (vecsAll.count() + 2).toString)
      // -- ann_compact: folds the appends' fragmentation; probes identical
      val preC = graft.operators.Similarity
        .probeIvfInt8Raw(spark, s"$warehouse/db1/built_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      // arity-overloaded thresholds: non-positive values refuse loudly
      // (small_mb = 0 would classify nothing small — a silent no-op)
      val eCmp = intercept[Exception] {
        spark.sql("CALL gcat.system.ann_compact('db1.built_idx', 0, 128)")
      }
      assert(eCmp.getMessage.contains("must be positive"), eCmp.getMessage)
      val compB = spark.sql(
        "CALL gcat.system.ann_compact('db1.built_idx', 16, 256)")
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(compB("db1.built_idx/postings") > 0L, compB.toString)
      // a re-run (default thresholds) finds nothing left to fold
      val compB2 = spark.sql("CALL gcat.system.ann_compact('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(compB2.values.forall(_ === 0L),
        s"compaction must be idempotent: $compB2")
      val statsC = spark.sql("CALL gcat.system.ann_stats('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(statsC("postings.files").toLong <
        statsB("postings.files").toLong)
      val postC = graft.operators.Similarity
        .probeIvfInt8Raw(spark, s"$warehouse/db1/built_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(postC === preC,
        "CALL ann_compact must keep probe results bit-identical")
      val verCmp = spark.sql("CALL gcat.system.ann_verify('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1))
      assert(verCmp.toSeq === Seq("status" -> "clean"))
      // -- ann_vacuum: retention GC closes the compact's keep-everything
      // contract — retain-0 expires the pre-fold snapshots and reclaims
      // their batch dirs; probes and audit identical after -------------
      val eVac = intercept[Exception] {
        spark.sql("CALL gcat.system.ann_vacuum('db1.built_idx', -1)")
      }
      assert(eVac.getMessage.contains(">= 0"), eVac.getMessage)
      // a sub-floor retention REFUSES without force (probe safety is
      // by retention — a straggler probe could lose its pinned files,
      // VERDICT r15 #6) …
      val eFloor = intercept[Exception] {
        spark.sql("CALL gcat.system.ann_vacuum('db1.built_idx', 0)")
      }
      assert(eFloor.getMessage.contains("probe-safety"), eFloor.getMessage)
      // … and force=true is the explicit readers-quiesced opt-in
      val vacB = spark.sql("CALL gcat.system.ann_vacuum('db1.built_idx', 0, true)")
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(vacB.values.sum > 0L,
        s"retain-0 vacuum after a compact must expire/reclaim: $vacB")
      val postVac = graft.operators.Similarity
        .probeIvfInt8Raw(spark, s"$warehouse/db1/built_idx", rawQ)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(postVac === preC,
        "CALL ann_vacuum must keep probe results bit-identical")
      val verVac = spark.sql("CALL gcat.system.ann_verify('db1.built_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1))
      assert(verVac.toSeq === Seq("status" -> "clean"))
      // -- ann_drop: the root GCs; further index verbs refuse -------------
      val dropB = spark.sql("CALL gcat.system.ann_drop('db1.built_idx')")
        .collect()
      assert(dropB.map(r => (r.getString(1), r.getLong(2))).toSeq ===
        Seq(("tables_dropped", 4L)), dropB.mkString(","))
      assert(!GraftTable.exists(s"$warehouse/db1/built_idx/postings"))
      assert(!Files.exists(Paths.get(warehouse, "db1", "built_idx")),
        "the index root directory must be GCed")
      val eDrop = intercept[Exception] {
        spark.sql("CALL gcat.system.ann_stats('db1.built_idx')")
      }
      assert(eDrop.getMessage.contains("no persisted ANN index"),
        s"got ${eDrop.getMessage}")
      // -- ann_delete: erasure through SQL; probes stop returning the id,
      // siblings stay agreed (audit still clean) ------------------------
      val eraseId = gotA.collect {
        case s if s(0) == 0L && s(2).asInstanceOf[Long] >= 5L =>
          s(2).asInstanceOf[Long]
      }.head
      val eraseDf = spark.range(eraseId, eraseId + 1).toDF("vec_id")
      GraftTable.create(spark, s"$warehouse/db1/call_erase", eraseDf.schema)
        .append(eraseDf)
      val del = spark.sql("CALL gcat.system.ann_delete(" +
        "'db1.call_idx', 'db1.call_erase')").collect()
      assert(del.map(r => (r.getString(1), r.getLong(2))).toSeq ===
        Seq(("vectors_deleted", 1L)))
      val reprobe = graft.operators.Similarity
        .probeIvfRaw(spark, s"$warehouse/db1/call_idx", rawQ).collect()
      assert(reprobe.nonEmpty && !reprobe.exists(_.getLong(2) == eraseId),
        "CALL ann_delete must make the vector unretrievable")
      val ver2 = spark.sql("CALL gcat.system.ann_verify('db1.call_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1))
      assert(ver2.toSeq === Seq("status" -> "clean"),
        s"erasure must keep the quantized siblings agreed: ${ver2.toSeq}")
      // drop the quantized siblings so the rebuild below exercises the
      // bare IVF root exactly as before
      Seq("i8meta", "codes_i8", "codebook", "codes", "codes_bin").foreach(t =>
        GraftTable.drop(s"$warehouse/db1/call_idx/$t"))
      // ann_drift on the fresh clone reads clean
      val drift = spark.sql("CALL gcat.system.ann_drift('db1.call_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(drift("appended_vectors") === "0")
      assert(drift("recommend_recluster") === "0")
      // ann_rebuild through SQL: every vector survives, audit stays clean
      val reb = spark.sql("CALL gcat.system.ann_rebuild('db1.call_idx')")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(reb("lists") > 0L)
      assert(reb("vectors_reassigned") ===
        GraftTable.open(spark, s"$warehouse/db1/call_idx/postings")
          .rowCountFromMetadata())
      val drift2 = spark.sql("CALL gcat.system.ann_drift('db1.call_idx')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(drift2("recommend_recluster") === "0")
      // a fresh output table is required: re-CALL with the same target fails
      val ex = intercept[Exception] {
        spark.sql(
          "CALL gcat.system.dedup_exact('db1.call_docs', 'db1.call_winners')")
      }
      assert(ex.getMessage.contains("already exists"), ex.getMessage)
      // -- dedup_spans ≡ d14 ---------------------------------------------
      spark.sql(
        "CALL gcat.system.dedup_spans('db1.call_docs', 'db1.call_spans')")
      val gotS = spark.table("gcat.db1.call_spans")
        .orderBy("doc_a", "doc_b", "pos_a", "pos_b")
        .collect().map(_.toSeq).toSeq
      val wantS = graft.operators.Dedup.d14SpanDedup(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotS === wantS, "CALL dedup_spans must reproduce d14 exactly")
      // -- contamination_report ≡ c15 (same corpus/eval split) -----------
      spark.sql("CALL gcat.system.contamination_report(" +
        "'db1.call_corpus', 'db1.call_eval', 'db1.call_report')")
      val gotR = spark.table("gcat.db1.call_report")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantR = graft.operators.Sampling.c15ContaminationReport(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotR === wantR,
        "CALL contamination_report must reproduce c15 exactly")
      // -- source_mix ≡ c3 / split_assign ≡ c7 ----------------------------
      val fullDocs = graft.Tables.load(spark, dir, "documents")
      GraftTable.create(spark, s"$warehouse/db1/call_srcdocs", fullDocs.schema)
        .append(fullDocs)
      spark.sql(
        "CALL gcat.system.source_mix('db1.call_srcdocs', 'db1.call_mix')")
      val gotM = spark.table("gcat.db1.call_mix")
        .orderBy("source").collect().map(_.toSeq).toSeq
      val wantM = graft.operators.Sampling.c3SourceMix(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotM === wantM, "CALL source_mix must reproduce c3 exactly")
      spark.sql(
        "CALL gcat.system.split_assign('db1.call_srcdocs', 'db1.call_split')")
      val gotSp = spark.table("gcat.db1.call_split")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantSp = graft.operators.Sampling.c7Split(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotSp === wantSp, "CALL split_assign must reproduce c7 exactly")
      // -- pii_scrub ≡ piiScrubCore over the same committed table -------
      spark.sql(
        "CALL gcat.system.pii_scrub('db1.call_docs', 'db1.call_clean')")
      val gotPii = spark.table("gcat.db1.call_clean")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantPii = graft.operators.TextAnalysis.piiScrubCore(
          GraftTable.open(spark, s"$warehouse/db1/call_docs").read())
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(gotPii.nonEmpty && gotPii === wantPii,
        "CALL pii_scrub must commit the core's counts + scrubbed text")
      // -- lang_id: per-doc labels; grouping them reproduces t3 ----------
      spark.sql(
        "CALL gcat.system.lang_id('db1.call_docs', 'db1.call_langs')")
      val gotLang = spark.table("gcat.db1.call_langs")
        .groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang_pred").collect().map(_.toSeq).toSeq
      val wantLang = graft.operators.TextAnalysis.t3LangId(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(gotLang.nonEmpty && gotLang === wantLang,
        "grouping CALL lang_id's per-doc labels must reproduce t3")
      // -- phash_dedup over REAL image bytes: CALL ≡ core; a planted
      // byte-identical twin collapses into one cluster ----------------
      val imgs = graft.operators.Multimodal.pngEncoded(spark, dir)
        .toDF("doc_id", "img")
      val twin = imgs.filter(col("doc_id") === 3L)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("img"))
      val media = imgs.unionAll(twin)
      GraftTable.create(spark, s"$warehouse/db1/call_imgs", media.schema)
        .append(media)
      spark.sql(
        "CALL gcat.system.phash_dedup('db1.call_imgs', 'db1.call_clusters')")
      val gotPh = spark.table("gcat.db1.call_clusters")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantPh = graft.operators.Multimodal.phashDedupCore(
          GraftTable.open(spark, s"$warehouse/db1/call_imgs").read())
        .collect().map(_.toSeq).toSeq
      assert(gotPh === wantPh, "CALL phash_dedup must reproduce the core")
      assert(gotPh.exists(r => r(0) == 3L && r(1) == 3L && r(2) == 1),
        s"the original must win its cluster: $gotPh")
      assert(gotPh.exists(r => r(0) == 7000003L && r(1) == 3L && r(2) == 0),
        s"the byte-identical twin must collapse under the original: $gotPh")
      // -- audio_dedup over real WAV bytes: exact copy + ≤3-bit
      // re-master cluster under the original; unrelated clip stays out;
      // the parser WALKS chunks (a LIST between fmt and data) ---------
      import spark.implicits._
      def wavBytes(samples: Array[Short], extraChunk: Boolean): Array[Byte] = {
        val extra = if (extraChunk) 12 else 0
        val n = samples.length
        val bb = java.nio.ByteBuffer.allocate(44 + extra + n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + n * 2)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1).putInt(8000).putInt(16000)
          .putShort(2).putShort(16)
        if (extraChunk)
          bb.put("LIST".getBytes("US-ASCII")).putInt(4)
            .put("INFO".getBytes("US-ASCII"))
        bb.put("data".getBytes("US-ASCII")).putInt(n * 2)
        samples.foreach(bb.putShort)
        bb.array()
      }
      // 640 samples, all positive → every fingerprint bit set; the
      // fingerprint samples positions j*10 (j = 0..63)
      val baseSm = Array.fill[Short](640)(1000)
      val remaster = baseSm.clone() // flip signs at positions j=0,1 → 2 bits
      remaster(0) = -1000; remaster(10) = -1000
      val clips = Seq(
        (1L, wavBytes(baseSm, extraChunk = true)), // chunk-walk layout
        (2L, wavBytes(baseSm, extraChunk = false)), // same samples, new container
        (3L, wavBytes(remaster, extraChunk = false)),
        (4L, wavBytes(Array.fill[Short](640)(-1000), extraChunk = false)))
        .toDF("doc_id", "wav")
      GraftTable.create(spark, s"$warehouse/db1/call_clips", clips.schema)
        .append(clips)
      spark.sql(
        "CALL gcat.system.audio_dedup('db1.call_clips', 'db1.call_aclusters')")
      val gotAu = spark.table("gcat.db1.call_aclusters")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(gotAu === Seq((1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0)),
        s"exact copy (container-independent) + 2-bit re-master must " +
          s"cluster under doc 1; the unrelated clip stays out: $gotAu")
      // loud refusal: a truncated container names the offending doc
      val bad = Seq((9L, wavBytes(baseSm, extraChunk = false).take(50)))
        .toDF("doc_id", "wav")
      val exAu = intercept[Exception] {
        graft.operators.Multimodal.audioDedupCore(bad).collect()
      }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
      assert(rootMsg(exAu).contains("doc 9"),
        s"undecodable audio must refuse loudly with the id: ${rootMsg(exAu)}")
      // -- phash_index commits fingerprints once; phash_match checks an
      // intake batch against the COMMITTED table (no corpus re-decode:
      // the matcher reads (doc_id, hi, lo), not image bytes) ----------
      spark.sql(
        "CALL gcat.system.phash_index('db1.call_imgs', 'db1.call_fps')")
      val fpsT = spark.table("gcat.db1.call_fps")
      assert(fpsT.columns.toSeq === Seq("doc_id", "hi", "lo"))
      assert(fpsT.count() === media.count(),
        "one committed fingerprint per corpus image")
      // intake: a byte-identical copy of image 5 under a new id, plus
      // an image the corpus has never seen (id 8000001 renders from a
      // doc_id-dependent geometry, so only the exact copy matches)
      val intake = imgs.filter(col("doc_id") === 5L)
        .select((col("doc_id") + 8000000L).as("doc_id"), col("img"))
      GraftTable.create(spark, s"$warehouse/db1/call_intake", intake.schema)
        .append(intake)
      spark.sql("CALL gcat.system.phash_match(" +
        "'db1.call_intake', 'db1.call_fps', 'db1.call_hits')")
      val gotHit = spark.table("gcat.db1.call_hits").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val wantHit = graft.operators.Multimodal.phashMatchCore(
          GraftTable.open(spark, s"$warehouse/db1/call_intake").read(),
          GraftTable.open(spark, s"$warehouse/db1/call_fps").read())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(gotHit === wantHit, "CALL phash_match must reproduce the core")
      assert(gotHit.exists(h => h._1 == 8000005L && h._3 == 0L),
        s"the intake copy must match its committed original at distance 0: $gotHit")
      // -- audio_index/audio_match: the same committed-fingerprint
      // intake shape on the sound modality ----------------------------
      spark.sql(
        "CALL gcat.system.audio_index('db1.call_clips', 'db1.call_afps')")
      assert(spark.table("gcat.db1.call_afps").count() === 4L,
        "one committed fingerprint per corpus clip")
      val aIntake = Seq(
          (9000001L, wavBytes(baseSm, extraChunk = false)), // exact copy
          (9000002L, wavBytes(Array.fill[Short](640)(-1000), // negative ≠
            extraChunk = true)))
        .toDF("doc_id", "wav")
      GraftTable.create(spark, s"$warehouse/db1/call_aintake", aIntake.schema)
        .append(aIntake)
      spark.sql("CALL gcat.system.audio_match(" +
        "'db1.call_aintake', 'db1.call_afps', 'db1.call_ahits')")
      val gotAHit = spark.table("gcat.db1.call_ahits").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(gotAHit === Seq((9000001L, 1L, 0L), (9000002L, 4L, 0L)),
        s"each intake clip must match its committed fingerprint class: $gotAHit")
      // -- phash_index_append: the intake loop's ACCEPT step grows the
      // committed fingerprint table in place ---------------------------
      val acceptImgs = imgs.filter(col("doc_id") === 7L)
        .select((col("doc_id") + 8100000L).as("doc_id"), col("img"))
      GraftTable.create(spark, s"$warehouse/db1/call_accept",
        acceptImgs.schema).append(acceptImgs)
      val fpsBefore = spark.table("gcat.db1.call_fps").count()
      val appended = spark.sql("CALL gcat.system.phash_index_append(" +
        "'db1.call_accept', 'db1.call_fps')").collect()
      assert(appended.head.getLong(2) === 1L)
      assert(spark.table("gcat.db1.call_fps").count() === fpsBefore + 1,
        "the accepted fingerprint must land in the committed table")
      // the accepted doc now dedups future intakes: match it
      spark.sql("CALL gcat.system.phash_match(" +
        "'db1.call_accept', 'db1.call_fps', 'db1.call_hits2')")
      val hit2 = spark.table("gcat.db1.call_hits2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(hit2.exists(h => h._1 == 8100007L && h._3 == 0L),
        s"the accepted fingerprint must serve later matches: $hit2")
      // -- video_dedup over real AVI bytes: CALL ≡ core; a
      // byte-identical twin collapses into its original's cluster ----
      val vids = graft.operators.Multimodal.aviEncoded(spark, dir)
        .filter(_._2.length > 2000) // clips with enough frames to sign
        .toDF("doc_id", "avi")
      val vSome = vids.select(col("doc_id")).orderBy("doc_id")
        .head.getLong(0)
      val vTwin = vids.filter(col("doc_id") === vSome)
        .select((col("doc_id") + 7500000L).as("doc_id"), col("avi"))
      val vAll = vids.unionAll(vTwin)
      GraftTable.create(spark, s"$warehouse/db1/call_vids", vAll.schema)
        .append(vAll)
      spark.sql(
        "CALL gcat.system.video_dedup('db1.call_vids', 'db1.call_vclusters')")
      val gotV = spark.table("gcat.db1.call_vclusters")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val wantV = graft.operators.Multimodal.videoDedupCore(
          GraftTable.open(spark, s"$warehouse/db1/call_vids").read())
        .collect().map(_.toSeq).toSeq
      assert(gotV === wantV, "CALL video_dedup must reproduce the core")
      val origRow = gotV.find(_(0) == vSome)
      val twinRow = gotV.find(_(0) == vSome + 7500000L)
      assert(origRow.isDefined && twinRow.isDefined &&
        origRow.get(1) === twinRow.get(1) && twinRow.get(2) === 0,
        s"the byte-identical clip must share its original's cluster: " +
          s"$origRow / $twinRow")
      // -- video_index / video_match / video_index_append: the intake
      // loop on the video modality -----------------------------------
      spark.sql(
        "CALL gcat.system.video_index('db1.call_vids', 'db1.call_vfps')")
      val vfpsN = spark.table("gcat.db1.call_vfps").count()
      assert(vfpsN === vAll.count(), "one signature per committed clip")
      val vIntake = vTwin.select((col("doc_id") + 1000L).as("doc_id"),
        col("avi"))
      GraftTable.create(spark, s"$warehouse/db1/call_vintake", vIntake.schema)
        .append(vIntake)
      spark.sql("CALL gcat.system.video_match(" +
        "'db1.call_vintake', 'db1.call_vfps', 'db1.call_vhits')")
      val vHit = spark.table("gcat.db1.call_vhits").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(vHit.exists(h => h._1 == vSome + 7501000L && h._2 == 0L),
        s"the intake clip must match its committed signature: $vHit")
      spark.sql("CALL gcat.system.video_index_append(" +
        "'db1.call_vintake', 'db1.call_vfps')")
      assert(spark.table("gcat.db1.call_vfps").count() === vfpsN + 1,
        "the accepted video signature must land in the committed table")
      // -- retryable CALL: crash residue between create-commit and
      // append is a committed EMPTY v0 target CARRYING the path's
      // _call_pending marker; the retry reclaims exactly that --
      GraftTable.create(spark, s"$warehouse/db1/call_residue", docs.schema)
      val (rfs, rpath) = GraftTable.fsAndPath(s"$warehouse/db1/call_residue")
      rfs.create(new org.apache.hadoop.fs.Path(rpath, "_call_pending"), false)
        .close()
      val retried = spark.sql(
        "CALL gcat.system.dedup_exact('db1.call_docs', 'db1.call_residue')")
        .collect()
      assert(retried.head.getLong(2) === wantW.size.toLong,
        "retry over a crash-left empty v0 target must reclaim it")
      assert(!rfs.exists(new org.apache.hadoop.fs.Path(rpath, "_call_pending")),
        "a completed CALL must clear its pending marker")
      // a USER-created empty table has no marker: still refuses loudly
      // (its options/intent must never be silently recreated away)
      GraftTable.create(spark, s"$warehouse/db1/call_user", docs.schema)
      val exU = intercept[Exception] {
        spark.sql(
          "CALL gcat.system.dedup_exact('db1.call_docs', 'db1.call_user')")
      }
      assert(exU.getMessage.contains("already exists"), exU.getMessage)
      // …but an empty target that ever HELD data (version > 0, e.g.
      // truncated) is a user table, not residue: still refuses
      val trunc = GraftTable.create(spark,
        s"$warehouse/db1/call_trunc", docs.schema)
      trunc.append(docs.limit(3))
      trunc.truncate()
      val exT = intercept[Exception] {
        spark.sql(
          "CALL gcat.system.dedup_exact('db1.call_docs', 'db1.call_trunc')")
      }
      assert(exT.getMessage.contains("already exists"), exT.getMessage)
    } finally {
      Seq("call_docs", "call_winners", "call_corpus", "call_eval",
        "call_flagged", "call_q", "call_topk", "call_residue",
        "call_trunc", "call_user", "call_spans", "call_report").foreach(n =>
        spark.sql(s"DROP TABLE IF EXISTS gcat.db1.$n"))
      Seq("centroids", "postings").foreach(t =>
        if (GraftTable.exists(s"$warehouse/db1/call_idx/$t"))
          GraftTable.drop(s"$warehouse/db1/call_idx/$t"))
    }
  }

  /** Two tables of the same rows in the same commits, in `gcat.db1`: one
    * for the CALL, one for its Scala twin. */
  private def twins(name: String, props: String)(commits: String => Unit): (String, String) = {
    val names = (s"${name}_call", s"${name}_twin")
    for (n <- Seq(names._1, names._2)) {
      spark.sql(s"CREATE TABLE gcat.db1.$n (id INT, b STRING) USING graft $props")
      commits(s"gcat.db1.$n")
    }
    names
  }

  private def rowsOf(n: String) =
    spark.table(s"gcat.db1.$n").orderBy("id").collect().map(_.toSeq).toSeq

  test("CALL verify_deep equals verify(deep = true)") {
    spark.sql("CREATE TABLE gcat.db1.vd_t (id INT, b STRING) USING graft")
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO gcat.db1.vd_t SELECT id, concat('v', id) FROM range(${i * 50}, ${i * 50 + 50})")
    val got = spark.sql("CALL gcat.system.verify_deep('db1.vd_t')").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val t = GraftTable.open(spark, s"$warehouse/db1/vd_t")
    val issues = t.verify(deep = true)
    assert(got === Seq(("files_checked", t.committedFiles.size.toString),
      ("deletion_vectors_checked", t.dvEntries.size.toString),
      ("issues_found", issues.size.toString)) ++ issues.map(("issue", _)))
    assert(issues.isEmpty && t.committedFiles.size >= 3, "three healthy commits")
  }

  test("CALL materialize_vectors equals materializeVectors()") {
    val (a, b) = twins("mv", "OPTIONS (delete_mode 'merge-on-read')") { t =>
      spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(100)")
      spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(100, 200)")
      // 30 % of the first file dead, 1 % of the second
      spark.sql(s"DELETE FROM $t WHERE id < 30 OR id = 150")
    }
    val got = spark.sql(s"CALL gcat.system.materialize_vectors('db1.$a')").collect()
    val twin = GraftTable.open(spark, s"$warehouse/db1/$b").materializeVectors()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((s"db1.$a", "files_materialized", twin.toLong)))
    assert(twin === 1, "only the file past the 10 % dead threshold is rewritten")
    assert(rowsOf(a) === rowsOf(b))
    val (ta, tb) = (GraftTable.open(spark, s"$warehouse/db1/$a"),
      GraftTable.open(spark, s"$warehouse/db1/$b"))
    assert(ta.dvEntries.size === tb.dvEntries.size)
    assert(ta.committedFiles.size === tb.committedFiles.size)
  }

  test("CALL expire_history_older_than equals expireHistoryOlderThan") {
    val (a, b) = twins("eho", "") { t =>
      for (i <- 0 until 4) spark.sql(s"INSERT INTO $t VALUES ($i, 'v$i')")
    }
    def call(hours: Int) = spark.sql(
      s"CALL gcat.system.expire_history_older_than('db1.$a', $hours)").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    def history(n: String) = GraftTable.open(spark, s"$warehouse/db1/$n").history()
    for (hours <- Seq(1, 0)) {
      val got = call(hours)
      val twin = GraftTable.open(spark, s"$warehouse/db1/$b")
        .expireHistoryOlderThan(hours * 3600000L)
      assert(got === Seq((s"db1.$a", "snapshots_expired", twin.toLong)), s"$hours h")
      assert(history(a).map(_._1) === history(b).map(_._1), s"$hours h")
    }
    assert(history(a).size === 1, "a zero-hour window keeps only the newest snapshot")
  }

  test("CALL audio_index_append equals fingerprintAppendCore with audioFingerprints") {
    import org.apache.spark.sql.functions.col
    // the WAV clips the pipeline-operator test commits
    assert(GraftTable.exists(s"$warehouse/db1/call_clips"), "db1.call_clips is committed")
    for (n <- Seq("aia_fps_call", "aia_fps_twin"))
      spark.sql(s"CALL gcat.system.audio_index('db1.call_clips', 'db1.$n')")
    val intake = spark.table("gcat.db1.call_clips")
      .select((col("doc_id") + 100L).as("doc_id"), col("wav"))
    GraftTable.create(spark, s"$warehouse/db1/aia_new", intake.schema).append(intake)
    val got = spark.sql(
      "CALL gcat.system.audio_index_append('db1.aia_new', 'db1.aia_fps_call')").collect()
    val twin = graft.operators.Multimodal.fingerprintAppendCore(
      GraftTable.open(spark, s"$warehouse/db1/aia_new").read(),
      GraftTable.open(spark, s"$warehouse/db1/aia_fps_twin"),
      graft.operators.Multimodal.audioFingerprints)
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("db1.aia_new", "fingerprints_appended", twin)))
    assert(twin === 4L)
    def fps(n: String) =
      spark.table(s"gcat.db1.$n").orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fps("aia_fps_call") === fps("aia_fps_twin"))
  }
}
