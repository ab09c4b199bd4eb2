package graft.sources

import java.util.{Iterator => JIterator}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.storage.GraftTable
import graft.streaming.{DecontaminateStream, NoveltyStream}

/** Maintenance procedures for the graft catalog, exposed through Spark
  * 4's DSv2 `CALL` statement — the role of the reference's utility UDFs
  * (`cstore_table_size`, `cstore_clean_table_resources`,
  * `cstore_fdw--1.7.sql:17-37`) plus the VACUUM its TODO leaves open.
  * Each procedure is one row of [[Procs]], in this order:
  *
  * {{{
  *   CALL graft.system.compact('db.t')   -- merge small files
  *   CALL graft.system.compact_small('db.t') -- merge only the small tail
  *   CALL graft.system.compact_overlapping('db.t') -- clustering repair
  *   CALL graft.system.vacuum('db.t')    -- reclaim orphaned batch dirs
  *   CALL graft.system.analyze('db.t')   -- collect planner stats
  *   CALL graft.system.analyze_sample('db.t', 0.1) -- sampled stats
  *   CALL graft.system.table_size('db.t')
  *   CALL graft.system.history('db.t')          -- snapshot versions
  *   CALL graft.system.expire_history('db.t', 3) -- keep newest 3
  *   CALL graft.system.diff('db.t', 1, 4)         -- snapshot delta
  *   CALL graft.system.clone('db.t', 'db.t2')     -- deep clone (branching)
  *   CALL graft.system.recluster('db.t', 'k', '') -- rewrite clustered on k ('', 'x,y': Z-order)
  *   CALL graft.system.verify('db.t')             -- footer/vector integrity audit
  *   CALL graft.system.verify_deep('db.t')        -- plus a decode of every page
  *   CALL graft.system.materialize_vectors('db.t') -- rewrite >= 10 % dead files
  *   CALL graft.system.restore('db.t', 3)         -- roll back to snapshot v3
  *   CALL graft.system.files('db.t')              -- per-file layout health
  *   CALL graft.system.expire_history_older_than('db.t', 168) -- keep a week
  *   CALL graft.system.detail('db.t')             -- DESCRIBE DETAIL
  *   CALL graft.system.manifest('db.t')           -- metadata-layer health
  *   CALL graft.system.dedup_exact('db.t', 'db.winners')   -- d1 as SQL
  *   CALL graft.system.decontaminate('db.t', 'db.eval', 'db.flagged') -- c9
  *   CALL graft.system.ann_drift('db.idx')  -- index staleness audit
  *   CALL graft.system.ann_rebuild('db.idx') -- the audit's recommended action
  *   CALL graft.system.dedup_spans('db.t', 'db.spans')            -- d14
  *   CALL graft.system.contamination_report('db.t', 'db.eval', 'db.rep') -- c15
  *   CALL graft.system.source_mix('db.t', 'db.mix')     -- c3 as SQL
  *   CALL graft.system.split_assign('db.t', 'db.splits') -- c7 as SQL
  *   CALL graft.system.quality_votes('db.t', 'db.scored')         -- t17
  *   CALL graft.system.dataset_card('db.t', 'db.card')            -- c16
  *   CALL graft.system.ngram_novelty('db.t', 'db.novelty')        -- t18
  *   CALL graft.system.quality_gate('db.t', 'db.gated')           -- c19
  *   CALL graft.system.novelty_match('db.batch', 'db.corpus', 'db.out')
  *   CALL graft.system.threshold_gate('db.batch', 'db.corpus', 'db.kept') -- c20
  *   CALL graft.system.ann_verify('db.idx') -- postings/codes desync audit
  *   CALL graft.system.ann_delete('db.idx', 'db.erase_ids') -- vector erasure
  *   CALL graft.system.ann_build('db.vectors', 'db.idx', 16) -- index creation
  *   CALL graft.system.ann_quantize('db.idx', 'int8') -- grow a quantized rung
  *   CALL graft.system.ann_append('db.idx', 'db.new_vectors') -- incremental add
  *   CALL graft.system.ann_stats('db.idx')   -- metadata-only observability
  *   CALL graft.system.ann_compact('db.idx', 16, 256) -- fold append fragmentation
  *   CALL graft.system.ann_drop('db.idx')    -- drop the root + file GC
  *   CALL graft.system.pii_scrub('db.t', 'db.clean')    -- t10 as SQL
  *   CALL graft.system.lang_id('db.t', 'db.langs')      -- t3, per-doc
  *   CALL graft.system.phash_dedup('db.imgs', 'db.clusters') -- image dedup
  *   CALL graft.system.audio_dedup('db.clips', 'db.clusters') -- audio dedup
  *   CALL graft.system.phash_index('db.imgs', 'db.fps') -- commit fingerprints
  *   CALL graft.system.phash_match('db.batch', 'db.fps', 'db.hits') -- intake
  *   CALL graft.system.audio_index('db.clips', 'db.fps') -- audio twin
  *   CALL graft.system.audio_match('db.batch', 'db.fps', 'db.hits')
  *   CALL graft.system.phash_index_append('db.new', 'db.fps') -- accept step
  *   CALL graft.system.audio_index_append('db.new', 'db.fps')
  *   CALL graft.system.video_dedup('db.vids', 'db.clusters') -- video dedup
  *   CALL graft.system.video_index('db.vids', 'db.fps')
  *   CALL graft.system.video_match('db.batch', 'db.fps', 'db.hits')
  *   CALL graft.system.video_index_append('db.new', 'db.fps')
  *   CALL graft.system.ann_vacuum('db.idx', 48) -- retention GC (24h default)
  *   CALL graft.system.ann_probe('db.idx', 'db.queries', 'db.topk', 3) -- s7/s20
  *   CALL graft.system.ann_probe_pq('db.idx', 'db.queries', 'db.topk')   -- s9
  *   CALL graft.system.ann_probe_int8('db.idx', 'db.queries', 'db.topk') -- s17
  *   CALL graft.system.ann_probe_bin('db.idx', 'db.queries', 'db.topk')  -- s22
  * }}}
  *
  * Each returns a small result describing what it did; the pipeline
  * operators commit their (potentially large) result to the `target`
  * table and return only the written row count. */
private[sources] object GraftProcedures {

  /** A declared parameter; `default` is the SQL Spark fills in for an
    * omitted argument (null: required). */
  private final case class Param(name: String, dataType: DataType = StringType,
      default: String = null) {
    def spec: ProcedureParameter = {
      val b = ProcedureParameter.in(name, dataType)
      (if (default == null) b else b.defaultValue(default)).build()
    }
  }

  /** What argument 0 names: a graft table, or an ANN index root (a
    * directory of graft tables) that a probe reads through `probeRung`. */
  private sealed trait Subject
  private case object OnTable extends Subject
  private final case class OnIndex(probeRung: Option[String] = None) extends Subject

  /** A result: its schema and one tuple per row. */
  private final case class Out(schema: StructType, rows: Seq[Product])

  /** One procedure. `params` are always declared; each `overloads` group
    * is declared once the call passes enough arguments to reach it. */
  private final case class Proc(name: String, subject: Subject, params: Seq[Param],
      overloads: Seq[Seq[Param]] = Nil)(val body: Call => Out) {
    def parameters(arity: Int): Seq[Param] =
      overloads.scanLeft(params)(_ ++ _).takeWhile(_.size <= arity)
        .lastOption.getOrElse(params)
  }

  // Every table-name argument is spliced into a filesystem path under
  // the warehouse; a separator or dot-dot segment would let
  // CALL ...('../other/t') compact/vacuum/clone-over (i.e. rewrite or
  // delete files of) a table OUTSIDE this catalog.
  private def checkName(tableName: String): String = {
    val parts = tableName.split('.')
    require(parts.nonEmpty && parts.forall(p =>
      p.nonEmpty && !p.contains('/') && !p.contains('\\')),
      s"invalid table name '$tableName': expected dot-separated " +
        "identifiers without path separators")
    tableName
  }

  /** One invocation: the subject, checked on construction, and the
    * argument plumbing the bodies share. */
  private final class Call(val proc: Proc, val input: InternalRow,
      val tableDir: String => String) {
    val spark: SparkSession = SparkSession.active
    val name: String = checkName(str(0))
    val dir: String = tableDir(name)
    proc.subject match {
      case OnIndex(rung) =>
        require(GraftTable.exists(s"$dir/postings"), s"no persisted ANN index at $name")
        rung.foreach(Similarity.requireProbeRung(dir, _, name))
      case OnTable => require(GraftTable.exists(dir), s"no graft table $name")
    }
    lazy val t: GraftTable = GraftTable.open(spark, dir)
    def read: DataFrame = t.read()

    def str(i: Int): String = input.getUTF8String(i).toString
    def int(i: Int): Int = input.getInt(i)
    def int(i: Int, default: Int): Int = if (input.numFields > i) int(i) else default
    def given(i: Int): Boolean = input.numFields > i && !input.isNullAt(i)

    /** Argument `i` names another graft table, which must exist. */
    def open(i: Int): GraftTable = {
      val n = checkName(str(i))
      require(GraftTable.exists(tableDir(n)), s"no graft table $n")
      GraftTable.open(spark, tableDir(n))
    }
    def table(i: Int): DataFrame = open(i).read()

    /** Commit `result` to a FRESH graft table named by the `target`
      * parameter and return the committed row count — the scale-correct
      * CALL shape: the result never lands on the driver, and the summary
      * row reports what was written. */
    def write(result: DataFrame): Long = {
      val target = checkName(str(proc.params.indexWhere(_.name == "target")))
      val tgtDir = tableDir(target)
      // Fresh-target rule with one carve-out: the in-JVM failure path
      // below drops the target, but a DRIVER crash between the
      // create-commit and the append leaves a committed EMPTY target that
      // would permanently block the retry. Reclaim is PRECISE: only a
      // table carrying THIS path's `_call_pending` marker with zero rows
      // at version 0 can be residue — a user-created table (empty or not,
      // any options) has no marker and still refuses loudly, and a crash
      // AFTER the append commit leaves version > 0, which also refuses
      // (the work is done; the result is readable at the target). Two
      // concurrent CALLs racing the SAME target name remain the caller's
      // error (the exclusive-target contract every maintenance swap here
      // has); the marker only reclaims tables this code path abandoned.
      val (tfs, tpath) = GraftTable.fsAndPath(tgtDir)
      val marker = new HPath(tpath, "_call_pending")
      if (GraftTable.exists(tgtDir)) {
        val existing = GraftTable.open(spark, tgtDir)
        require(tfs.exists(marker) && existing.rowCountFromMetadata() == 0L &&
            existing.version == 0L,
          s"target table $target already exists")
        GraftTable.drop(tgtDir)
      }
      val created = GraftTable.create(spark, tgtDir, result.schema)
      tfs.create(marker, false).close()
      // retryable CALL: a failed operator must not leave a committed
      // empty/partial target that blocks the re-run behind the
      // fresh-target check
      val n =
        try created.append(result)
        catch { case e: Throwable =>
          try GraftTable.drop(tgtDir) catch { case _: Exception => () }
          throw e
        }
      tfs.delete(marker, false)
      n
    }

    def one(metric: String, value: Long): Out = summary(Seq((name, metric, value)))
  }

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** `(table, metric, value)`: what a maintenance step did, per subject. */
  private def summary(rows: Seq[(String, String, Long)]): Out =
    Out(schema("table" -> StringType, "metric" -> StringType, "value" -> LongType), rows)

  /** `(metric, value)`: a report of labelled strings. */
  private def report(rows: Seq[(String, String)]): Out =
    Out(schema("metric" -> StringType, "value" -> StringType), rows)

  /** The one `LocalScan` every procedure's result is served by. */
  private def localScan(out: Out): Scan = {
    // NOT named `rows`: inside the anonymous LocalScan a bare `rows`
    // resolves to the METHOD, and scalac compiles the self-call into an
    // infinite loop
    val data: Array[InternalRow] = out.rows.map { r =>
      new GenericInternalRow(r.productIterator.map {
        case s: String => UTF8String.fromString(s)
        case v => v
      }.toArray[Any]): InternalRow
    }.toArray
    new LocalScan {
      override def readSchema(): StructType = out.schema
      override def rows(): Array[InternalRow] = data
    }
  }

  private val table = Param("table")
  private val target = Param("target")
  private val index = Param("index")
  private def intParam(name: String) = Param(name, IntegerType)

  /** A table-maintenance step: `(table, more…)`, one summary row. */
  private def maintenance(name: String, metric: String, more: Param*)(
      value: Call => Long): Proc =
    Proc(name, OnTable, table +: more)(c => c.one(metric, value(c)))

  /** A pipeline operator: the table's rows through `core`, committed to
    * a fresh `target`. */
  private def pipeline(name: String, metric: String)(core: DataFrame => DataFrame): Proc =
    Proc(name, OnTable, Seq(table, target))(c => c.one(metric, c.write(core(c.read))))

  /** A batch checked against a second committed table:
    * `(table, <other>, target)`, `core(batch, other)`. */
  private def against(name: String, other: String, metric: String)(
      core: (DataFrame, DataFrame) => DataFrame): Proc =
    Proc(name, OnTable, Seq(table, Param(other), target)) { c =>
      val o = c.table(1)
      c.one(metric, c.write(core(c.read, o)))
    }

  /** The intake loop's ACCEPT step: the batch's fingerprints join the
    * COMMITTED table (no fresh target — this verb grows an existing
    * artifact). */
  private def indexAppend(name: String)(hash: DataFrame => DataFrame): Proc =
    Proc(name, OnTable, Seq(table, Param("fingerprints"))) { c =>
      val fps = c.open(1)
      c.one("fingerprints_appended", Multimodal.fingerprintAppendCore(c.read, fps, hash))
    }

  /** An index-root step whose rows are `(sibling, n)` under one metric. */
  private def perSibling(c: Call, metric: String, per: Seq[(String, Long)]): Out =
    summary(per.map { case (sib, n) => (s"${c.name}/$sib", metric, n) })

  // integrity audit (the reference's open checksums item, TODO.md:9):
  // summary rows + one row per issue found
  private def verifyReport(deep: Boolean)(c: Call): Out = {
    val issues = c.t.verify(deep)
    report(Seq(
      ("files_checked", c.t.committedFiles.size.toString),
      ("deletion_vectors_checked", c.t.dvEntries.size.toString),
      ("issues_found", issues.size.toString)) ++ issues.map(("issue", _)))
  }

  /** `ann_probe` serves the fp64 rung; `ann_probe_<rung>` each quantized
    * rung of the index's rung table. An optional 4th arg widens the probe
    * to each query's n nearest lists (the IVF recall/cost dial). */
  private val probes: Seq[Proc] =
    (("ann_probe", "fp64") +: Similarity.RungNames.map(r => (s"ann_probe_$r", r))).map {
      case (name, rung) =>
        Proc(name, OnIndex(Some(rung)), Seq(index, Param("queries"), target),
            Seq(Seq(intParam("nprobe")))) { c =>
          val q = c.table(1)
          val nprobe = c.int(3, 1)
          require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
          c.one("results_written",
            c.write(Similarity.probeRungRaw(c.spark, c.dir, rung, q, nprobe)))
        }
    }

  private val Procs: Seq[Proc] = Seq(
    maintenance("compact", "files_after_compaction")(_.t.compact().toLong),
    maintenance("compact_small", "small_files_merged")(_.t.compactSmall().toLong),
    // clustering repair: fold only the files whose leading sort-key
    // ranges overlap (restores range-disjoint zone maps + the
    // proven-order claim at cost ∝ overlap)
    maintenance("compact_overlapping", "overlapping_files_folded")(
      _.t.compactOverlapping().toLong),
    maintenance("vacuum", "orphan_dirs_reclaimed")(_.t.vacuum().toLong),
    maintenance("analyze", "rows_analyzed")(_.t.analyze().rowCount),
    // the reference's ANALYZE design point: stats from a sample, row
    // count exact (cstore_fdw.c:2098-2260)
    maintenance("analyze_sample", "rows_analyzed", Param("fraction", DoubleType))(
      c => c.t.analyze(c.input.getDouble(1)).rowCount),
    maintenance("table_size", "size_bytes")(_.t.tableSize()),
    Proc("history", OnTable, Seq(table)) { c =>
      Out(schema("version" -> LongType, "row_count" -> LongType, "file_count" -> LongType),
        c.t.history().map { case (v, rc, fc) => (v, rc, fc.toLong) })
    },
    maintenance("expire_history", "snapshots_expired", intParam("keep_last"))(
      c => c.t.expireHistory(c.int(1)).toLong),
    // metadata-only snapshot diff: what a commit range changed — the
    // audit view the snapshot archive makes one read away
    Proc("diff", OnTable, Seq(table, intParam("from_version"), intParam("to_version"))) { c =>
      val ma = GraftTable.readHistoryMeta(c.dir, c.int(1).toLong)
      val mb = GraftTable.readHistoryMeta(c.dir, c.int(2).toLong)
      Out(schema("metric" -> StringType, "value" -> LongType), Seq(
        ("rows_delta", mb.rowCount - ma.rowCount),
        ("files_added", (mb.files.toSet -- ma.files.toSet).size.toLong),
        ("files_removed", (ma.files.toSet -- mb.files.toSet).size.toLong),
        ("schema_changed", if (ma.currentSchema == mb.currentSchema) 0L else 1L)))
    },
    maintenance("clone", "rows_cloned", target) { c =>
      val dest = c.tableDir(checkName(c.str(1)))
      c.t.cloneTo(dest).rowCountFromMetadata()
    },
    // comma-separated column lists; '' = none — e.g.
    // CALL g.system.recluster('db.t', 'k', '') sort-clusters on k,
    // CALL g.system.recluster('db.t', '', 'x,y') Z-orders on (x,y)
    maintenance("recluster", "files_after_recluster", Param("sort_by"), Param("zorder_by")) { c =>
      def cols(i: Int): Seq[String] = c.str(i).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      c.t.recluster(cols(1), cols(2)).toLong
    },
    Proc("verify", OnTable, Seq(table))(verifyReport(deep = false)),
    Proc("verify_deep", OnTable, Seq(table))(verifyReport(deep = true)),
    // rewrite only the files whose dead fraction ≥ 10% — the
    // merge-on-read steady-state cleanup (full compact would rewrite the
    // whole table)
    maintenance("materialize_vectors", "files_materialized")(_.t.materializeVectors().toLong),
    // rollback to a retained snapshot as a NEW commit; the returned value
    // is the version the restore created
    maintenance("restore", "version_after_restore", intParam("version"))(
      c => c.t.restore(c.int(1).toLong)),
    // per-file introspection: the maintenance operator's view of layout
    // health (small-file tail, dead-row load per file)
    Proc("files", OnTable, Seq(table)) { c =>
      val (hfs, _) = GraftTable.fsAndPath(c.dir)
      val dvs = c.t.dvEntries
      Out(schema("file" -> StringType, "bytes" -> LongType, "rows" -> LongType,
          "dead_rows" -> LongType),
        c.t.relFiles.map { rel =>
          (rel, hfs.getFileStatus(new HPath(s"${c.dir}/$rel")).getLen,
            c.t.fileRowCount(rel), dvs.get(rel).map(_.card).getOrElse(0L))
        })
    },
    maintenance("expire_history_older_than", "snapshots_expired", intParam("hours"))(
      c => c.t.expireHistoryOlderThan(c.int(1) * 3600000L).toLong),
    // DESCRIBE DETAIL (Delta's shape): the one-call operational summary —
    // size, layout declaration, mutation mode, data-quality gates, and
    // the evolution state (tombstones + pending columns) that explains
    // why pushdown or a re-ADD is currently refused
    Proc("detail", OnTable, Seq(table)) { c =>
      val (hfs, _) = GraftTable.fsAndPath(c.dir)
      val (t, opts) = (c.t, c.t.options)
      def csv(xs: Seq[String]) = if (xs.isEmpty) "-" else xs.mkString(",")
      val sizeBytes = t.relFiles.map(rel =>
        hfs.getFileStatus(new HPath(s"${c.dir}/$rel")).getLen).sum
      report(Seq(
        ("location", c.dir),
        ("version", t.version.toString),
        ("row_count", t.rowCountFromMetadata().toString),
        ("num_files", t.relFiles.size.toString),
        ("size_bytes", sizeBytes.toString),
        ("num_deletion_vectors", t.dvEntries.size.toString),
        ("retained_snapshots", t.history().size.toString),
        ("delete_mode", opts.deleteMode),
        ("compression", opts.compression),
        ("sort_by", csv(opts.sortBy)),
        ("zorder_by", csv(opts.zorderBy)),
        ("bucket_by", csv(opts.bucketBy) +
          (if (opts.bucketBy.nonEmpty) s" (${opts.bucketCount})" else "")),
        ("checks", csv(opts.checks.keys.toSeq.sorted)),
        ("auto_compact_min_files", opts.autoCompactMinFiles.toString),
        ("dropped_column_tombstones", csv(t.droppedColumns)),
        ("pending_evolution_columns", csv(t.pendingEvolutionColumns))))
    },
    // metadata-layer introspection: one row per live manifest segment
    // (the `files` report's sibling) — segment churn, dead-stats mass
    // (the compaction trigger's input), bytes; stats_files /
    // dead_stats_files are both FILE-granular, so dead/stats is exactly
    // the compaction trigger's fraction
    Proc("manifest", OnTable, Seq(table)) { c =>
      Out(schema("segment" -> StringType, "files_added" -> LongType,
        "files_removed" -> LongType, "stats_files" -> LongType,
        "dead_stats_files" -> LongType, "bytes" -> LongType), c.t.manifestReport())
    },
    // pipeline operators as engine features: the flagship
    // dedup/decontaminate/ANN ops callable from SQL against committed
    // tables/indexes, like the reference's utility UDF surface
    // (cstore_fdw--1.7.sql:17-37)
    pipeline("dedup_exact", "winners_written")(Dedup.exactDedupCore),
    against("decontaminate", "eval_table", "contaminated_flagged")(
      Sampling.bloomDecontaminateCore(_, _)),
    Proc("ann_drift", OnIndex(), Seq(table))(
      c => report(Similarity.annDriftReport(c.spark, c.dir))),
    // the action ann_drift recommends: Lloyd-recenter the quantizer from
    // the index's own postings and swap the rebuilt tables in (exclusive
    // writer — see rebuildIvfIndex)
    Proc("ann_rebuild", OnIndex(), Seq(table)) { c =>
      val (nLists, nVecs) = Similarity.rebuildIvfIndex(c.spark, c.dir)
      summary(Seq((c.name, "lists", nLists.toLong), (c.name, "vectors_reassigned", nVecs)))
    },
    pipeline("dedup_spans", "spans_written")(Dedup.spanDedupCore(_)),
    against("contamination_report", "eval_table", "eval_items_reported")(
      Sampling.contaminationReportCore),
    pipeline("source_mix", "sources_written")(Sampling.sourceMixCore),
    pipeline("split_assign", "docs_assigned")(Sampling.splitCore),
    pipeline("quality_votes", "docs_scored")(TextAnalysis.tokenVotesCore),
    // per-source datasheet over an arbitrary committed (source, doc_id,
    // text) table — c16's body
    pipeline("dataset_card", "sources_written")(Sampling.datasetCardCore),
    // t18's intake-order novelty over the user's corpus as-is: what
    // fraction of each doc's 3-shingles it introduced (no pair join —
    // gram-keyed min + rollup)
    pipeline("ngram_novelty", "docs_scored")(TextAnalysis.noveltyCore(_)),
    // c19's mix-preserving per-source top-quartile keep, t15's shared
    // quality logit — the committed rows ARE the gated corpus selection.
    // mode 'approx' swaps the full-corpus rank window for the
    // broadcast-threshold path (the 100 TB path) — same output contract.
    Proc("quality_gate", OnTable, Seq(table, target, Param("mode", default = "'exact'"))) { c =>
      val gated = (if (c.given(2)) c.str(2) else "exact") match {
        case "exact" => Sampling.qualityGateCore(c.read)
        case "approx" => Sampling.qualityGateApprox(c.read)
        case other => throw new IllegalArgumentException(
          s"${c.proc.name} mode must be 'exact' or 'approx', got '$other'")
      }
      c.one("docs_kept", c.write(gated))
    },
    // intake batch scored against a COMMITTED corpus vocabulary
    // (NoveltyStream's batch body): shingle ∝ batch, Bloom-prefiltered
    // exact confirm. within_batch => true composes t18's min-doc rule
    // inside the batch after the corpus check (t19's semantics): one
    // intake batch admits ONE copy of a novel document, not N
    Proc("novelty_match", OnTable, Seq(table, Param("corpus"), target,
        Param("within_batch", BooleanType, "false"))) { c =>
      val corpus = c.open(1)
      val withinBatch = c.given(3) && c.input.getBoolean(3)
      val idx = DecontaminateStream.buildIndex(corpus.read())
      try c.one("batch_docs_scored", c.write(NoveltyStream.score(idx, c.read, withinBatch)))
      finally idx.release()
    },
    // c20's serving shape from SQL: the intake table gated by per-source
    // quality thresholds computed from a COMMITTED corpus (GateStream's
    // batch body) — the bar comes from the distribution you trust, not
    // from the batch ranking itself
    against("threshold_gate", "corpus", "batch_docs_kept")(
      (batch, corpus) => Sampling.thresholdGateCore(corpus, batch)),
    // cross-table desync audit over every quantized rung the index root
    // carries, prefixed by rung name (Similarity.verifyIndex)
    Proc("ann_verify", OnIndex(), Seq(table)) { c =>
      val issues = Similarity.verifyIndex(c.spark, c.dir)
      report(if (issues.isEmpty) Seq(("status", "clean")) else issues.map(("issue", _)))
    },
    // the erasure path: ids from the named table (first column, cast to
    // long; NULL ids dropped — no vector carries a null id), deleted from
    // postings + every quantized sibling via merge-on-read sidecars (no
    // list file rewritten). The LIMIT enforces the erasure-batch bound
    // BEFORE anything lands on the driver: an oversized table
    // materializes at most cap+1 rows and fails fast, never the full table.
    Proc("ann_delete", OnIndex(), Seq(index, Param("ids_table"))) { c =>
      val idsDf = c.table(1)
      val ids = idsDf.select(col(idsDf.columns.head).cast("long").as("id"))
        .filter(col("id").isNotNull).limit(65537)
        .collect().map(_.getLong(0)).toSeq
      // over-limit detected HERE with the ids table named — the limited
      // collect would otherwise surface deleteFromIndex's "got 65537"
      // message, misreporting the table's true size
      require(ids.size <= 65536,
        s"ids table ${c.str(1)} holds more than 65536 ids — erasure " +
          "batches are bounded; chunk the table or use the DSv2 " +
          "DELETE ... IN (SELECT ...) path")
      c.one("vectors_deleted", Similarity.deleteFromIndex(c.spark, c.dir, ids))
    },
    // the index lifecycle's CREATION verb: a deterministic k-means
    // quantizer + clustered postings committed from an arbitrary
    // (id, embedding) table (optional 3rd arg: the list count). The
    // target is an index ROOT, so it must not collide with a live graft
    // TABLE (the build would commit inside the table's directory, and a
    // later DROP of the table would silently delete the index) nor with
    // the source itself
    Proc("ann_build", OnTable, Seq(Param("vectors"), index), Seq(Seq(intParam("nlists")))) { c =>
      val targetName = checkName(c.str(1))
      val tgtDir = c.tableDir(targetName)
      require(tgtDir != c.dir, s"index target $targetName is the source table itself")
      require(!GraftTable.exists(tgtDir), s"index target $targetName is an existing graft table")
      val (nl, nv) = Similarity.buildIvfIndexFrom(c.spark, c.read, tgtDir, c.int(2, 10))
      summary(Seq((targetName, "lists", nl.toLong), (targetName, "vectors_indexed", nv)))
    },
    // grow a quantized sibling (pq/int8/bin) on the index root from its
    // own postings; every other ann_* verb serves the grown rung unchanged
    Proc("ann_quantize", OnIndex(), Seq(index, Param("rung"))) { c =>
      val rung = c.str(1)
      c.one(s"${rung}_code_rows", Similarity.quantizeIndex(c.spark, c.dir, rung))
    },
    // incremental vector add: assignment against the COMMITTED centroids,
    // appended to postings AND every quantized sibling the root carries
    // (no entry point can desync a rung). An optional 3rd arg opts into
    // append-time small-file folding once a sibling reaches that many files
    Proc("ann_append", OnIndex(), Seq(index, Param("vectors_table")),
        Seq(Seq(intParam("auto_compact_min_files")))) { c =>
      val vecs = c.table(1)
      c.one("vectors_appended",
        Similarity.appendVectorsToIndex(c.spark, c.dir, vecs, c.int(2, 0)))
    },
    // metadata-only observability: rungs present, gross/deleted/live
    // vector counts, per-sibling rows/files/bytes, and the
    // files-per-list fragmentation signal ann_compact answers
    Proc("ann_stats", OnIndex(), Seq(table))(
      c => report(Similarity.annIndexStats(c.spark, c.dir))),
    // fold incremental-append fragmentation back, per sibling (DV-aware,
    // row- and cluster-preserving; exclusive writer). Optional MB
    // thresholds: small_mb (files under this fold) and target_mb (output
    // file size); both must be positive — small_mb = 0 would classify
    // nothing small and the CALL would silently no-op
    Proc("ann_compact", OnIndex(), Seq(index),
        Seq(Seq(intParam("small_mb"), intParam("target_mb")))) { c =>
      val (smallB, targetB) =
        if (c.input.numFields >= 3) {
          val (sm, tm) = (c.int(1), c.int(2))
          require(sm > 0 && tm > 0,
            s"${c.proc.name} thresholds must be positive MB (got $sm, $tm)")
          (sm.toLong << 20, tm.toLong << 20)
        } else (32L << 20, 128L << 20)
      perSibling(c, "files_compacted",
        Similarity.annCompactIndex(c.spark, c.dir, smallB, targetB))
    },
    // lifecycle GC: drop every sibling table, then the root dir with its
    // control files. The postings-exists subject check means a data table
    // can never be dropped through this verb.
    Proc("ann_drop", OnIndex(), Seq(table))(
      c => c.one("tables_dropped", Similarity.dropIndex(c.spark, c.dir).toLong)),
    // t10's detection/redaction over the user's text as-is
    pipeline("pii_scrub", "docs_scrubbed")(TextAnalysis.piiScrubCore),
    // per-doc language labels (t3's heuristic, row-per-doc)
    pipeline("lang_id", "docs_labeled")(TextAnalysis.langIdCore),
    // grayscale dHash over the user's REAL image bytes, collapse-first
    // clustering (pair emission is quadratic in duplicate multiplicity)
    pipeline("phash_dedup", "docs_clustered")(Multimodal.phashDedupCore),
    // sign fingerprint over the user's REAL WAV bytes (chunk-walking PCM
    // parser), the same collapse-first clustering
    pipeline("audio_dedup", "docs_clustered")(Multimodal.audioDedupCore),
    // a corpus's fingerprints as a first-class table — the artifact the
    // *_match verbs check intake batches against without re-decoding
    pipeline("phash_index", "fingerprints_written")(Multimodal.phashFingerprints),
    // intake batch vs COMMITTED fingerprints: hash ∝ batch,
    // Bloom-prefiltered corpus side, min-match rows
    against("phash_match", "fingerprints", "batch_docs_matched")(Multimodal.phashMatchCore),
    pipeline("audio_index", "fingerprints_written")(Multimodal.audioFingerprints),
    against("audio_match", "fingerprints", "batch_docs_matched")(Multimodal.audioMatchCore),
    indexAppend("phash_index_append")(Multimodal.phashFingerprints),
    indexAppend("audio_index_append")(Multimodal.audioFingerprints),
    // temporal luminance signature over <= 64 decoded frames per clip,
    // the shared collapse-first clustering
    pipeline("video_dedup", "docs_clustered")(Multimodal.videoDedupCore),
    pipeline("video_index", "fingerprints_written")(Multimodal.videoFingerprints),
    against("video_match", "fingerprints", "batch_docs_matched")(Multimodal.videoMatchCore),
    indexAppend("video_index_append")(Multimodal.videoFingerprints),
    // retention GC: expire each sibling's snapshots older than the window
    // (default 24 h), then reclaim unreferenced batch dirs. Probe-safe by
    // retention, append-safe (autocompact-kind marker). Optional FORCE
    // flag for sub-floor retentions (a tiny window needs an explicit
    // readers-are-quiesced opt-in)
    Proc("ann_vacuum", OnIndex(), Seq(index),
        Seq(Seq(intParam("retain_hours")), Seq(Param("force", BooleanType)))) { c =>
      val retainMs =
        if (c.input.numFields >= 2) {
          val h = c.int(1)
          require(h >= 0, s"${c.proc.name} retention must be >= 0 hours (got $h)")
          h.toLong * 3600 * 1000
        } else 24L * 3600 * 1000
      val force = c.input.numFields >= 3 && c.input.getBoolean(2)
      perSibling(c, "snapshots_expired_plus_dirs_reclaimed",
        Similarity.annVacuumIndex(c.spark, c.dir, retainMs, force))
    }) ++ probes

  private val byName: Map[String, Proc] = Procs.map(p => p.name -> p).toMap

  /** Every procedure, in table order (`GraftCatalog.listProcedures`). */
  val Names: Seq[String] = Procs.map(_.name)

  def load(ident: Identifier, tableDir: String => String): UnboundProcedure = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")),
      s"no such procedure namespace ${ident.namespace().mkString(".")}")
    require(byName.contains(ident.name()), s"no such procedure ${ident.name()}")
    val proc = byName(ident.name())
    val desc = s"graft ${proc.name} maintenance procedure"
    new UnboundProcedure {
      override def name(): String = proc.name
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = proc.name
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] =
          proc.parameters(inputType.size).map(_.spec).toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): JIterator[Scan] =
          java.util.Collections.singletonList(
            localScan(proc.body(new Call(proc, input, tableDir)))).iterator()
      }
    }
  }
}
