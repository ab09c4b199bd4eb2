package graft.sources

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.storage.GraftTable

/** Maintenance procedures for the graft catalog, exposed through Spark
  * 4's DSv2 `CALL` statement — the role of the reference's utility UDFs
  * (`cstore_table_size`, `cstore_clean_table_resources`,
  * `cstore_fdw--1.7.sql:17-37`) plus the VACUUM its TODO leaves open:
  *
  * {{{
  *   CALL graft.system.compact('db.t')   -- merge small files
  *   CALL graft.system.vacuum('db.t')    -- reclaim orphaned batch dirs
  *   CALL graft.system.analyze('db.t')   -- collect planner stats
  *   CALL graft.system.analyze_sample('db.t', 0.1) -- sampled stats
  *   CALL graft.system.table_size('db.t')
  *   CALL graft.system.history('db.t')          -- snapshot versions
  *   CALL graft.system.expire_history('db.t', 3) -- keep newest 3
  *   CALL graft.system.expire_history_older_than('db.t', 168) -- keep a week
  *   CALL graft.system.diff('db.t', 1, 4)         -- snapshot delta
  *   CALL graft.system.clone('db.t', 'db.t2')     -- deep clone (branching)
  *   CALL graft.system.restore('db.t', 3)         -- roll back to snapshot v3
  *   CALL graft.system.files('db.t')              -- per-file layout health
  *   CALL graft.system.manifest('db.t')           -- metadata-layer health
  *   CALL graft.system.recluster('db.t', 'k', '') -- rewrite clustered on k
  *   CALL graft.system.recluster('db.t', '', 'x,y') -- rewrite Z-ordered
  *   CALL graft.system.dedup_exact('db.t', 'db.winners')   -- d1 as SQL
  *   CALL graft.system.decontaminate('db.t', 'db.eval', 'db.flagged') -- c9
  *   CALL graft.system.ann_probe('db.idx', 'db.queries', 'db.topk')   -- s7
  *   CALL graft.system.ann_probe('db.idx', 'db.q', 'db.topk', 3) -- s20 nprobe
  *   CALL graft.system.ann_probe_int8('db.idx', 'db.queries', 'db.topk') -- s17
  *   CALL graft.system.ann_probe_pq('db.idx', 'db.queries', 'db.topk')   -- s9
  *   CALL graft.system.ann_probe_bin('db.idx', 'db.queries', 'db.topk')  -- s22
  *   CALL graft.system.ann_build('db.vectors', 'db.idx', 16) -- index creation
  *   CALL graft.system.ann_quantize('db.idx', 'int8') -- grow a quantized rung
  *   CALL graft.system.ann_append('db.idx', 'db.new_vectors') -- incremental add
  *   CALL graft.system.compact_overlapping('db.t') -- clustering repair
  *   CALL graft.system.ann_drift('db.idx')  -- index staleness audit
  *   CALL graft.system.ann_verify('db.idx') -- postings/codes desync audit
  *   CALL graft.system.ann_rebuild('db.idx') -- the audit's recommended action
  *   CALL graft.system.ann_delete('db.idx', 'db.erase_ids') -- vector erasure
  *   CALL graft.system.ann_stats('db.idx')   -- metadata-only observability
  *   CALL graft.system.ann_compact('db.idx') -- fold append fragmentation
  *   CALL graft.system.ann_compact('db.idx', 16, 256) -- MB threshold dials
  *   CALL graft.system.ann_vacuum('db.idx')  -- retention GC (24h default)
  *   CALL graft.system.ann_vacuum('db.idx', 48) -- retain 48h of snapshots
  *   CALL graft.system.ann_drop('db.idx')    -- drop the root + file GC
  *   CALL graft.system.dedup_spans('db.t', 'db.spans')            -- d14
  *   CALL graft.system.quality_votes('db.t', 'db.scored')         -- t17
  *   CALL graft.system.ngram_novelty('db.t', 'db.novelty')        -- t18
  *   CALL graft.system.quality_gate('db.t', 'db.gated')           -- c19
  *   CALL graft.system.novelty_match('db.batch', 'db.corpus', 'db.out')
  *   CALL graft.system.threshold_gate('db.batch', 'db.corpus', 'db.kept') -- c20
  *   CALL graft.system.dataset_card('db.t', 'db.card')            -- c16
  *   CALL graft.system.contamination_report('db.t', 'db.eval', 'db.rep') -- c15
  *   CALL graft.system.source_mix('db.t', 'db.mix')     -- c3 as SQL
  *   CALL graft.system.split_assign('db.t', 'db.splits') -- c7 as SQL
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
  * }}}
  *
  * Each returns a one-row result describing what it did; the pipeline
  * operators commit their (potentially large) result to the `target`
  * table and return only the written row count. */
private[sources] object GraftProcedures {

  /** `ann_probe` serves the fp64 rung; `ann_probe_<rung>` each quantized
    * rung of the index's rung table (`Similarity.RungNames`). */
  private val AnnProbeRungs: Map[String, String] =
    Map("ann_probe" -> "fp64") ++
      graft.operators.Similarity.RungNames.map(r => s"ann_probe_$r" -> r)

  val Names: Seq[String] =
    Seq("compact", "compact_small", "compact_overlapping",
      "vacuum", "analyze", "analyze_sample",
      "table_size", "history", "expire_history", "diff", "clone", "recluster",
      "verify", "verify_deep", "materialize_vectors", "restore", "files",
      "expire_history_older_than", "detail", "manifest",
      // pipeline operators as engine features (VERDICT r10 #5): the
      // flagship dedup/decontaminate/ANN ops callable from SQL against
      // committed tables/indexes, like the reference's utility UDF
      // surface (cstore_fdw--1.7.sql:17-37)
      "dedup_exact", "decontaminate", "ann_drift",
      "ann_rebuild", "dedup_spans", "contamination_report",
      "source_mix", "split_assign", "quality_votes", "dataset_card",
      "ngram_novelty", "quality_gate", "novelty_match", "threshold_gate",
      "ann_verify",
      "ann_delete", "ann_build", "ann_quantize", "ann_append",
      "ann_stats", "ann_compact", "ann_drop", "pii_scrub", "lang_id",
      "phash_dedup", "audio_dedup", "phash_index", "phash_match",
      "audio_index", "audio_match", "phash_index_append",
      "audio_index_append", "video_dedup", "video_index", "video_match",
      "video_index_append", "ann_vacuum") ++ AnnProbeRungs.keys

  def load(ident: Identifier, tableDir: String => String): UnboundProcedure = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")),
      s"no such procedure namespace ${ident.namespace().mkString(".")}")
    val procName = ident.name()
    require(Names.contains(procName), s"no such procedure $procName")
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft $procName maintenance procedure"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft $procName maintenance procedure"
        override def parameters(): Array[ProcedureParameter] =
          if (procName == "expire_history")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("keep_last", IntegerType).build())
          else if (procName == "restore")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("version", IntegerType).build())
          else if (procName == "expire_history_older_than")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("hours", IntegerType).build())
          else if (procName == "diff")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("from_version", IntegerType).build(),
              ProcedureParameter.in("to_version", IntegerType).build())
          else if (procName == "analyze_sample")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("fraction", DoubleType).build())
          else if (procName == "clone")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("target", StringType).build())
          else if (procName == "dedup_exact" || procName == "dedup_spans" ||
              procName == "source_mix" || procName == "split_assign" ||
              procName == "quality_votes" || procName == "dataset_card" ||
              procName == "pii_scrub" || procName == "lang_id" ||
              procName == "phash_dedup" || procName == "audio_dedup" ||
              procName == "phash_index" || procName == "audio_index" ||
              procName == "video_dedup" || procName == "video_index" ||
              procName == "ngram_novelty")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("target", StringType).build())
          else if (procName == "quality_gate")
            // mode 'exact' = c19's per-source row_number rank gate;
            // 'approx' = the 100 TB path (per-source approx-quantile
            // threshold broadcast back, same output contract)
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("target", StringType).build(),
              ProcedureParameter.in("mode", StringType)
                .defaultValue("'exact'").build())
          else if (procName == "decontaminate" ||
              procName == "contamination_report")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("eval_table", StringType).build(),
              ProcedureParameter.in("target", StringType).build())
          else if (procName == "phash_match" || procName == "audio_match" ||
              procName == "video_match")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("fingerprints", StringType).build(),
              ProcedureParameter.in("target", StringType).build())
          else if (procName == "threshold_gate")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("corpus", StringType).build(),
              ProcedureParameter.in("target", StringType).build())
          else if (procName == "novelty_match")
            // within_batch => true composes t18's min-doc rule inside
            // the batch after the corpus check (t19's semantics): one
            // intake batch admits ONE copy of a novel document, not N
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("corpus", StringType).build(),
              ProcedureParameter.in("target", StringType).build(),
              ProcedureParameter.in("within_batch", BooleanType)
                .defaultValue("false").build())
          else if (procName == "phash_index_append" ||
              procName == "audio_index_append" ||
              procName == "video_index_append")
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("fingerprints", StringType).build())
          else if (AnnProbeRungs.contains(procName)) {
            // arity-overloaded: an optional 4th arg widens the probe to
            // each query's n nearest lists (the IVF recall/cost dial) —
            // CALL g.system.ann_probe('db.idx','db.q','db.out', 3)
            val base = Array(ProcedureParameter.in("index", StringType).build(),
              ProcedureParameter.in("queries", StringType).build(),
              ProcedureParameter.in("target", StringType).build())
            if (inputType.size >= 4)
              base :+ ProcedureParameter.in("nprobe", IntegerType).build()
            else base
          }
          else if (procName == "ann_compact") {
            // arity-overloaded: optional MB thresholds — small_mb (files
            // under this fold) and target_mb (output file size) —
            // CALL g.system.ann_compact('db.idx', 16, 256)
            val base = Array(ProcedureParameter.in("index", StringType).build())
            if (inputType.size >= 3)
              base ++ Array(ProcedureParameter.in("small_mb", IntegerType).build(),
                ProcedureParameter.in("target_mb", IntegerType).build())
            else base
          }
          else if (procName == "ann_vacuum") {
            // arity-overloaded: optional retention window in HOURS, and
            // an optional FORCE flag for sub-floor retentions (probe
            // safety is by retention — a tiny window needs an explicit
            // readers-are-quiesced opt-in, VERDICT r15 #6) —
            // CALL g.system.ann_vacuum('db.idx', 48)
            // CALL g.system.ann_vacuum('db.idx', 0, true)
            val base = Array(ProcedureParameter.in("index", StringType).build())
            val withHours =
              if (inputType.size >= 2)
                base :+ ProcedureParameter.in("retain_hours", IntegerType).build()
              else base
            if (inputType.size >= 3)
              withHours :+ ProcedureParameter.in("force", BooleanType).build()
            else withHours
          }
          else if (procName == "ann_delete")
            Array(ProcedureParameter.in("index", StringType).build(),
              ProcedureParameter.in("ids_table", StringType).build())
          else if (procName == "ann_quantize")
            Array(ProcedureParameter.in("index", StringType).build(),
              ProcedureParameter.in("rung", StringType).build())
          else if (procName == "ann_append") {
            // arity-overloaded: an optional 3rd arg opts into append-time
            // small-file folding once a sibling reaches that many files —
            // CALL g.system.ann_append('db.idx', 'db.v', 8)
            val base = Array(ProcedureParameter.in("index", StringType).build(),
              ProcedureParameter.in("vectors_table", StringType).build())
            if (inputType.size >= 3)
              base :+ ProcedureParameter.in("auto_compact_min_files",
                IntegerType).build()
            else base
          }
          else if (procName == "ann_build") {
            // arity-overloaded: an optional 3rd arg sets the list count
            val base = Array(ProcedureParameter.in("vectors", StringType).build(),
              ProcedureParameter.in("index", StringType).build())
            if (inputType.size >= 3)
              base :+ ProcedureParameter.in("nlists", IntegerType).build()
            else base
          }
          else if (procName == "recluster")
            // comma-separated column lists; '' = none — e.g.
            // CALL g.system.recluster('db.t', 'k', '') sort-clusters on k,
            // CALL g.system.recluster('db.t', '', 'x,y') Z-orders on (x,y)
            Array(ProcedureParameter.in("table", StringType).build(),
              ProcedureParameter.in("sort_by", StringType).build(),
              ProcedureParameter.in("zorder_by", StringType).build())
          else Array(ProcedureParameter.in("table", StringType).build())
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): JIterator[Scan] = {
          // Every table-name argument is spliced into a filesystem path
          // under the warehouse; a separator or dot-dot segment would let
          // CALL ...('../other/t') compact/vacuum/clone-over (i.e.
          // rewrite or delete files of) a table OUTSIDE this catalog.
          def checkName(tableName: String): String = {
            val parts = tableName.split('.')
            require(parts.nonEmpty && parts.forall(p =>
              p.nonEmpty && !p.contains('/') && !p.contains('\\')),
              s"invalid table name '$tableName': expected dot-separated " +
                "identifiers without path separators")
            tableName
          }
          val tableName = checkName(input.getUTF8String(0).toString)
          val dir = tableDir(tableName)
          // index procedures address an INDEX ROOT (a directory of
          // graft tables: postings/centroids/...), not a table itself
          val indexProc = procName == "ann_drift" ||
            AnnProbeRungs.contains(procName) || procName == "ann_rebuild" ||
            procName == "ann_verify" || procName == "ann_delete" ||
            procName == "ann_quantize" || procName == "ann_append" ||
            procName == "ann_stats" || procName == "ann_compact" ||
            procName == "ann_drop" || procName == "ann_vacuum"
          if (indexProc) {
            require(GraftTable.exists(s"$dir/postings"),
              s"no persisted ANN index at $tableName")
            AnnProbeRungs.get(procName).foreach(
              graft.operators.Similarity.requireProbeRung(dir, _, tableName))
          } else require(GraftTable.exists(dir), s"no graft table $tableName")
          lazy val t = GraftTable.open(SparkSession.active, dir)
          /** Run a distributed operator, commit its result to a FRESH
            * graft table named by the `target` parameter, return the
            * committed row count — the scale-correct CALL shape: the
            * result never lands on the driver, and the summary row
            * reports what was written. */
          def writeResult(result: org.apache.spark.sql.DataFrame,
              targetArg: Int): Long = {
            val target = checkName(input.getUTF8String(targetArg).toString)
            val tgtDir = tableDir(target)
            // Fresh-target rule with one carve-out: the in-JVM failure
            // path below drops the target, but a DRIVER crash between
            // the create-commit and the append leaves a committed EMPTY
            // target that would permanently block the retry. Reclaim is
            // PRECISE: only a table carrying THIS path's `_call_pending`
            // marker with zero rows at version 0 can be residue — a
            // user-created table (empty or not, any options) has no
            // marker and still refuses loudly, and a crash AFTER the
            // append commit leaves version > 0, which also refuses
            // (the work is done; the result is readable at the target).
            // Two concurrent CALLs racing the SAME target name remain
            // the caller's error (the exclusive-target contract every
            // maintenance swap here has); the marker only reclaims
            // tables this code path itself abandoned.
            val (tfs, tpath) = GraftTable.fsAndPath(tgtDir)
            val marker = new org.apache.hadoop.fs.Path(tpath, "_call_pending")
            if (GraftTable.exists(tgtDir)) {
              val existing = GraftTable.open(SparkSession.active, tgtDir)
              require(tfs.exists(marker) &&
                  existing.rowCountFromMetadata() == 0L &&
                  existing.version == 0L,
                s"target table $target already exists")
              GraftTable.drop(tgtDir)
            }
            val created = GraftTable.create(SparkSession.active, tgtDir,
              result.schema)
            tfs.create(marker, false).close()
            // retryable CALL: a failed operator must not leave a
            // committed empty/partial target that blocks the re-run
            // behind the fresh-target check
            val n =
              try created.append(result)
              catch { case e: Throwable =>
                try GraftTable.drop(tgtDir) catch { case _: Exception => () }
                throw e
              }
            tfs.delete(marker, false)
            n
          }
          val scan: Scan = if (procName == "ann_rebuild") {
            // the action ann_drift recommends: Lloyd-recenter the
            // quantizer from the index's own postings and swap the
            // rebuilt tables in (exclusive writer — see rebuildIvfIndex)
            val (nLists, nVecs) = graft.operators.Similarity
              .rebuildIvfIndex(SparkSession.active, dir)
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val rs: Array[InternalRow] = Array(
              ("lists", nLists.toLong), ("vectors_reassigned", nVecs))
              .map { case (m, v) =>
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(tableName),
                  UTF8String.fromString(m), v)): InternalRow
              }
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = rs
            }
          } else if (procName == "ann_drift") {
            val driftRows = graft.operators.Similarity
              .annDriftReport(SparkSession.active, dir)
            val schema = StructType(Seq(
              StructField("metric", StringType, nullable = false),
              StructField("value", StringType, nullable = false)))
            val rs: Array[InternalRow] = driftRows.map { case (m, v) =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(m), UTF8String.fromString(v))): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = rs
            }
          } else if (procName == "ann_verify") {
            // cross-table desync audit over every quantized rung the
            // index root carries, prefixed by rung name (Similarity.verifyIndex)
            val issues = graft.operators.Similarity
              .verifyIndex(SparkSession.active, dir)
            val schema = StructType(Seq(
              StructField("metric", StringType, nullable = false),
              StructField("value", StringType, nullable = false)))
            val reportRows =
              if (issues.isEmpty) Seq("status" -> "clean")
              else issues.map("issue" -> _)
            val rs: Array[InternalRow] = reportRows.map { case (m, v) =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(m), UTF8String.fromString(v))): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = rs
            }
          } else if (procName == "ann_stats") {
            // metadata-only observability: rungs present, gross/deleted/
            // live vector counts, per-sibling rows/files/bytes, and the
            // files-per-list fragmentation signal ann_compact answers —
            // no data scan, safe at any index size (scan-grade signals
            // live in ann_drift/ann_verify)
            val statRows = graft.operators.Similarity
              .annIndexStats(SparkSession.active, dir)
            val schema = StructType(Seq(
              StructField("metric", StringType, nullable = false),
              StructField("value", StringType, nullable = false)))
            val rs: Array[InternalRow] = statRows.map { case (m, v) =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(m), UTF8String.fromString(v))): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = rs
            }
          } else if (procName == "ann_compact") {
            // fold incremental-append fragmentation back, per sibling:
            // small-file tail coalesced + label-range disjointness
            // restored (both DV-aware, row- and cluster-preserving, so
            // probe results are bit-identical). Exclusive writer —
            // quiesce appends, like ann_rebuild. Optional MB thresholds
            // (arity-overloaded): small_mb tunes what counts as tail,
            // target_mb the output file size; both must be positive
            // (small_mb = 0 would classify nothing small and the CALL
            // would silently no-op — refuse instead of reading as done).
            val (smallB, targetB) =
              if (input.numFields >= 3) {
                val sm = input.getInt(1)
                val tm = input.getInt(2)
                require(sm > 0 && tm > 0,
                  s"ann_compact thresholds must be positive MB (got $sm, $tm)")
                (sm.toLong << 20, tm.toLong << 20)
              } else (32L << 20, 128L << 20)
            val per = graft.operators.Similarity
              .annCompactIndex(SparkSession.active, dir, smallB, targetB)
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val rs: Array[InternalRow] = per.map { case (sib, n) =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(s"$tableName/$sib"),
                UTF8String.fromString("files_compacted"), n)): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = rs
            }
          } else if (procName == "ann_vacuum") {
            // retention GC: expire each sibling's snapshots older than
            // the window (default 24 h), then reclaim unreferenced
            // batch dirs. Probe-safe by retention (a probe pins its
            // snapshot; files outlive every snapshot referencing them),
            // append-safe (autocompact-kind marker — only other
            // maintenance is excluded).
            val retainMs =
              if (input.numFields >= 2) {
                val h = input.getInt(1)
                require(h >= 0,
                  s"ann_vacuum retention must be >= 0 hours (got $h)")
                h.toLong * 3600 * 1000
              } else 24L * 3600 * 1000
            val force = input.numFields >= 3 && input.getBoolean(2)
            val per = graft.operators.Similarity
              .annVacuumIndex(SparkSession.active, dir, retainMs, force)
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val rs: Array[InternalRow] = per.map { case (sib, n) =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(s"$tableName/$sib"),
                UTF8String.fromString("snapshots_expired_plus_dirs_reclaimed"),
                n)): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = rs
            }
          } else if (procName == "ann_drop") {
            // lifecycle GC: drop every sibling table, then the root dir
            // with its control files. The postings-exists gate (above)
            // means a data table can never be dropped through this verb.
            val n = graft.operators.Similarity
              .dropIndex(SparkSession.active, dir).toLong
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val row: InternalRow = new GenericInternalRow(Array[Any](
              UTF8String.fromString(tableName),
              UTF8String.fromString("tables_dropped"), n))
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = Array(row)
            }
          } else if (procName == "ann_build") {
            // the index lifecycle's CREATION verb: a deterministic
            // k-means quantizer + clustered postings committed from an
            // arbitrary (id, embedding) table; the result serves every
            // other ann_* CALL unchanged. The target is an index ROOT
            // under the warehouse (a directory of graft tables), so
            // the fresh-target rule is the postings-exists check
            // inside buildIvfIndexFrom.
            val spark = SparkSession.active
            val targetName = checkName(input.getUTF8String(1).toString)
            val tgtDir = tableDir(targetName)
            // fresh-target rule (review r13): the target is an index
            // ROOT — it must not collide with a live graft TABLE (the
            // build would commit centroids/postings inside the
            // table's directory, and a later DROP of the table would
            // silently delete the index) nor with the source itself
            require(tgtDir != dir,
              s"index target $targetName is the source table itself")
            require(!GraftTable.exists(tgtDir),
              s"index target $targetName is an existing graft table")
            val nlists = if (input.numFields >= 3) input.getInt(2) else 10
            val (nl, nv) = graft.operators.Similarity
              .buildIvfIndexFrom(spark, t.read(), tgtDir, nlists)
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val rs: Array[InternalRow] = Array(
              ("lists", nl.toLong), ("vectors_indexed", nv))
              .map { case (m, v) =>
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(targetName),
                  UTF8String.fromString(m), v)): InternalRow
              }
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = rs
            }
          } else if (procName == "ann_quantize") {
            // grow a quantized sibling (pq/int8/bin) on the index root
            // from its own postings; every other ann_* verb serves the
            // grown rung unchanged
            val spark = SparkSession.active
            val rung = input.getUTF8String(1).toString
            val n = graft.operators.Similarity.quantizeIndex(spark, dir, rung)
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val row: InternalRow = new GenericInternalRow(Array[Any](
              UTF8String.fromString(tableName),
              UTF8String.fromString(s"${rung}_code_rows"), n))
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = Array(row)
            }
          } else if (procName == "ann_append") {
            // incremental vector add from SQL: assignment against the
            // COMMITTED centroids, appended to postings AND every
            // quantized sibling the root carries (the
            // appendAssignedToIndex contract — no entry point can
            // desync a rung); committed files are never rewritten
            val spark = SparkSession.active
            val vecName = checkName(input.getUTF8String(1).toString)
            val vecDir = tableDir(vecName)
            require(GraftTable.exists(vecDir), s"no graft table $vecName")
            val vecs = GraftTable.open(spark, vecDir).read()
            val minFiles = if (input.numFields >= 3) input.getInt(2) else 0
            val n = graft.operators.Similarity
              .appendVectorsToIndex(spark, dir, vecs, minFiles)
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val row: InternalRow = new GenericInternalRow(Array[Any](
              UTF8String.fromString(tableName),
              UTF8String.fromString("vectors_appended"), n))
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = Array(row)
            }
          } else if (procName == "ann_delete") {
            // the erasure path: ids from the named table (first column,
            // cast to long; NULL ids dropped — no vector carries a null
            // id), deleted from postings + every quantized sibling via
            // merge-on-read sidecars (no list file rewritten). The
            // LIMIT enforces the erasure-batch bound BEFORE anything
            // lands on the driver: an oversized table materializes at
            // most cap+1 rows and fails deleteFromIndex's require fast,
            // never the full table.
            val spark = SparkSession.active
            val idsName = checkName(input.getUTF8String(1).toString)
            val idsDir = tableDir(idsName)
            require(GraftTable.exists(idsDir), s"no graft table $idsName")
            val idsDf = GraftTable.open(spark, idsDir).read()
            val idCol = org.apache.spark.sql.functions
              .col(idsDf.columns.head).cast("long")
            val ids = idsDf.select(idCol.as("id"))
              .filter(org.apache.spark.sql.functions.col("id").isNotNull)
              .limit(65537)
              .collect().map(_.getLong(0)).toSeq
            // over-limit detected HERE with the ids table named — the
            // limited collect would otherwise surface deleteFromIndex's
            // "got 65537" message, misreporting the table's true size
            // to the operator chunking the list (ADVICE r12)
            require(ids.size <= 65536,
              s"ids table $idsName holds more than 65536 ids — erasure " +
                "batches are bounded; chunk the table or use the DSv2 " +
                "DELETE ... IN (SELECT ...) path")
            val n = graft.operators.Similarity.deleteFromIndex(spark, dir, ids)
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val row: InternalRow = new GenericInternalRow(Array[Any](
              UTF8String.fromString(tableName),
              UTF8String.fromString("vectors_deleted"), n))
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = Array(row)
            }
          } else if (procName == "dedup_exact" || procName == "decontaminate" ||
              AnnProbeRungs.contains(procName) || procName == "dedup_spans" ||
              procName == "contamination_report" ||
              procName == "source_mix" || procName == "split_assign" ||
              procName == "quality_votes" ||
              procName == "dataset_card" || procName == "pii_scrub" ||
              procName == "lang_id" || procName == "phash_dedup" ||
              procName == "audio_dedup" || procName == "phash_index" ||
              procName == "phash_match" || procName == "audio_index" ||
              procName == "audio_match" || procName == "phash_index_append" ||
              procName == "audio_index_append" || procName == "video_dedup" ||
              procName == "video_index" || procName == "video_match" ||
              procName == "video_index_append" ||
              procName == "ngram_novelty" || procName == "quality_gate" ||
              procName == "novelty_match" || procName == "threshold_gate") {
            val spark = SparkSession.active
            val (metric, n) = procName match {
              case "dedup_exact" =>
                ("winners_written",
                  writeResult(graft.operators.Dedup.exactDedupCore(t.read()), 1))
              case "ngram_novelty" =>
                // t18's intake-order novelty over the user's corpus
                // as-is: what fraction of each doc's 3-shingles it
                // introduced (no pair join — gram-keyed min + rollup)
                ("docs_scored",
                  writeResult(
                    graft.operators.TextAnalysis.noveltyCore(t.read()), 1))
              case "quality_gate" =>
                // c19's mix-preserving per-source top-quartile keep,
                // t15's shared quality logit — the committed rows ARE
                // the gated corpus selection. mode 'approx' swaps the
                // full-corpus rank window for the broadcast-threshold
                // path (VERDICT r16 #3) — same output contract.
                val mode =
                  if (input.numFields >= 3 && !input.isNullAt(2))
                    input.getUTF8String(2).toString else "exact"
                val gated = mode match {
                  case "exact" =>
                    graft.operators.Sampling.qualityGateCore(t.read())
                  case "approx" =>
                    graft.operators.Sampling.qualityGateApprox(t.read())
                  case other => throw new IllegalArgumentException(
                    s"quality_gate mode must be 'exact' or 'approx', got '$other'")
                }
                ("docs_kept", writeResult(gated, 1))
              case "source_mix" =>
                ("sources_written",
                  writeResult(graft.operators.Sampling.sourceMixCore(t.read()), 1))
              case "split_assign" =>
                ("docs_assigned",
                  writeResult(graft.operators.Sampling.splitCore(t.read()), 1))
              case "dedup_spans" =>
                ("spans_written",
                  writeResult(graft.operators.Dedup.spanDedupCore(t.read()), 1))
              case "quality_votes" =>
                ("docs_scored",
                  writeResult(
                    graft.operators.TextAnalysis.tokenVotesCore(t.read()), 1))
              case "dataset_card" =>
                // per-source datasheet over an arbitrary committed
                // (source, doc_id, text) table — c16's body
                ("sources_written",
                  writeResult(
                    graft.operators.Sampling.datasetCardCore(t.read()), 1))
              case "pii_scrub" =>
                // t10's detection/redaction over the user's text as-is,
                // the scrubbed column committed (the production verb)
                ("docs_scrubbed",
                  writeResult(
                    graft.operators.TextAnalysis.piiScrubCore(t.read()), 1))
              case "lang_id" =>
                // per-doc language labels (t3's heuristic, row-per-doc)
                ("docs_labeled",
                  writeResult(
                    graft.operators.TextAnalysis.langIdCore(t.read()), 1))
              case "phash_dedup" =>
                // the production image-dedup verb: grayscale dHash over
                // the user's REAL image bytes, collapse-first clustering
                // (pair emission is quadratic in duplicate multiplicity)
                ("docs_clustered",
                  writeResult(
                    graft.operators.Multimodal.phashDedupCore(t.read()), 1))
              case "audio_dedup" =>
                // the production audio-dedup verb: sign fingerprint over
                // the user's REAL WAV bytes (chunk-walking PCM parser),
                // the same collapse-first clustering as phash_dedup
                ("docs_clustered",
                  writeResult(
                    graft.operators.Multimodal.audioDedupCore(t.read()), 1))
              case "phash_index" =>
                // commit a corpus's image fingerprints as a first-class
                // table — the artifact phash_match checks intake batches
                // against without re-decoding the corpus
                ("fingerprints_written",
                  writeResult(
                    graft.operators.Multimodal.phashFingerprints(t.read()), 1))
              case "threshold_gate" =>
                // c20's serving shape from SQL: the intake table gated
                // by per-source quality thresholds computed from a
                // COMMITTED corpus (GateStream's batch body) — the bar
                // comes from the distribution you trust, not from the
                // batch ranking itself
                val corpName = checkName(input.getUTF8String(1).toString)
                val corpDir = tableDir(corpName)
                require(GraftTable.exists(corpDir), s"no graft table $corpName")
                ("batch_docs_kept",
                  writeResult(
                    graft.operators.Sampling.thresholdGateCore(
                      GraftTable.open(spark, corpDir).read(), t.read()), 2))
              case "novelty_match" =>
                // intake batch scored against a COMMITTED corpus
                // vocabulary (NoveltyStream's batch body): shingle ∝
                // batch, Bloom-prefiltered exact confirm — the
                // batch-vs-corpus member of the novelty triple
                val corpName = checkName(input.getUTF8String(1).toString)
                val corpDir = tableDir(corpName)
                require(GraftTable.exists(corpDir), s"no graft table $corpName")
                val withinBatch = input.numFields >= 4 &&
                  !input.isNullAt(3) && input.getBoolean(3)
                val idx = graft.streaming.DecontaminateStream
                  .buildIndex(GraftTable.open(spark, corpDir).read())
                try ("batch_docs_scored",
                  writeResult(graft.streaming.NoveltyStream
                    .score(idx, t.read(), withinBatch), 2))
                finally idx.release()
              case "phash_match" =>
                // intake batch vs COMMITTED fingerprints: hash ∝ batch,
                // Bloom-prefiltered corpus side, min-match rows
                val fpsName = checkName(input.getUTF8String(1).toString)
                val fpsDir = tableDir(fpsName)
                require(GraftTable.exists(fpsDir), s"no graft table $fpsName")
                val fps = GraftTable.open(spark, fpsDir).read()
                ("batch_docs_matched",
                  writeResult(
                    graft.operators.Multimodal.phashMatchCore(t.read(), fps), 2))
              case "video_dedup" =>
                // the production video-dedup verb: temporal luminance
                // signature over <= 64 decoded frames per clip, the
                // shared collapse-first clustering
                ("docs_clustered",
                  writeResult(
                    graft.operators.Multimodal.videoDedupCore(t.read()), 1))
              case "video_index" =>
                ("fingerprints_written",
                  writeResult(
                    graft.operators.Multimodal.videoFingerprints(t.read()), 1))
              case "video_match" =>
                val fpsName = checkName(input.getUTF8String(1).toString)
                val fpsDir = tableDir(fpsName)
                require(GraftTable.exists(fpsDir), s"no graft table $fpsName")
                val fps = GraftTable.open(spark, fpsDir).read()
                ("batch_docs_matched",
                  writeResult(
                    graft.operators.Multimodal.videoMatchCore(t.read(), fps), 2))
              case "audio_index" =>
                // commit a corpus's audio sign fingerprints — the
                // artifact audio_match checks intake batches against
                ("fingerprints_written",
                  writeResult(
                    graft.operators.Multimodal.audioFingerprints(t.read()), 1))
              case "audio_match" =>
                // the image intake verb's exact machinery on sound:
                // parse ∝ batch, committed corpus side prefiltered
                val fpsName = checkName(input.getUTF8String(1).toString)
                val fpsDir = tableDir(fpsName)
                require(GraftTable.exists(fpsDir), s"no graft table $fpsName")
                val fps = GraftTable.open(spark, fpsDir).read()
                ("batch_docs_matched",
                  writeResult(
                    graft.operators.Multimodal.audioMatchCore(t.read(), fps), 2))
              case "phash_index_append" | "audio_index_append" |
                  "video_index_append" =>
                // the intake loop's ACCEPT step: the batch's
                // fingerprints join the COMMITTED table (no fresh
                // target — this verb grows an existing artifact)
                val fpsName = checkName(input.getUTF8String(1).toString)
                val fpsDir = tableDir(fpsName)
                require(GraftTable.exists(fpsDir), s"no graft table $fpsName")
                val hash: org.apache.spark.sql.DataFrame =>
                    org.apache.spark.sql.DataFrame = procName match {
                  case "phash_index_append" =>
                    graft.operators.Multimodal.phashFingerprints
                  case "audio_index_append" =>
                    graft.operators.Multimodal.audioFingerprints
                  case _ => graft.operators.Multimodal.videoFingerprints
                }
                ("fingerprints_appended",
                  graft.operators.Multimodal.fingerprintAppendCore(
                    t.read(), GraftTable.open(spark, fpsDir), hash))
              case "contamination_report" =>
                val evalName = checkName(input.getUTF8String(1).toString)
                val evalDir = tableDir(evalName)
                require(GraftTable.exists(evalDir), s"no graft table $evalName")
                val ev = GraftTable.open(spark, evalDir).read()
                ("eval_items_reported",
                  writeResult(graft.operators.Sampling
                    .contaminationReportCore(t.read(), ev), 2))
              case "decontaminate" =>
                val evalName = checkName(input.getUTF8String(1).toString)
                val evalDir = tableDir(evalName)
                require(GraftTable.exists(evalDir), s"no graft table $evalName")
                val ev = GraftTable.open(spark, evalDir).read()
                ("contaminated_flagged",
                  writeResult(graft.operators.Sampling
                    .bloomDecontaminateCore(t.read(), ev), 2))
              case p if AnnProbeRungs.contains(p) =>
                val qName = checkName(input.getUTF8String(1).toString)
                val qDir = tableDir(qName)
                require(GraftTable.exists(qDir), s"no graft table $qName")
                val q = GraftTable.open(spark, qDir).read()
                val nprobe = if (input.numFields >= 4) input.getInt(3) else 1
                require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
                ("results_written",
                  writeResult(graft.operators.Similarity.probeRungRaw(
                    spark, dir, AnnProbeRungs(p), q, nprobe), 2))
            }
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val row: InternalRow = new GenericInternalRow(Array[Any](
              UTF8String.fromString(tableName), UTF8String.fromString(metric), n))
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = Array(row)
            }
          } else if (procName == "diff") {
            // metadata-only snapshot diff: what a commit range changed —
            // the audit view the snapshot archive makes one read away
            val (va, vb) = (input.getInt(1).toLong, input.getInt(2).toLong)
            val ma = GraftTable.readHistoryMeta(dir, va)
            val mb = GraftTable.readHistoryMeta(dir, vb)
            val added = mb.files.toSet -- ma.files.toSet
            val removed = ma.files.toSet -- mb.files.toSet
            val schema = StructType(Seq(
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            // NOT named `rows`: inside the anonymous LocalScan a bare
            // `rows` resolves to the METHOD, and scalac compiles the
            // self-call into an infinite loop (hit twice now)
            val diffRows: Array[InternalRow] = Array(
              ("rows_delta", mb.rowCount - ma.rowCount),
              ("files_added", added.size.toLong),
              ("files_removed", removed.size.toLong),
              ("schema_changed",
                if (ma.currentSchema == mb.currentSchema) 0L else 1L))
              .map { case (m, v) =>
                new GenericInternalRow(Array[Any](UTF8String.fromString(m), v))
              }
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = diffRows
            }
          } else if (procName == "verify" || procName == "verify_deep") {
            // integrity audit (the reference's open checksums item,
            // TODO.md:9): summary rows + one row per issue found
            val issues = t.verify(deep = procName == "verify_deep")
            val schema = StructType(Seq(
              StructField("metric", StringType, nullable = false),
              StructField("value", StringType, nullable = false)))
            val verifyRows: Array[InternalRow] =
              (Seq(
                ("files_checked", t.committedFiles.size.toString),
                ("deletion_vectors_checked", t.dvEntries.size.toString),
                ("issues_found", issues.size.toString)) ++
                issues.map(i => ("issue", i)))
              .map { case (m, v) =>
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(m), UTF8String.fromString(v))): InternalRow
              }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = verifyRows
            }
          } else if (procName == "files") {
            // per-file introspection: the maintenance operator's view of
            // layout health (small-file tail, dead-row load per file)
            val (hfs, _) = graft.storage.GraftTable.fsAndPath(dir)
            val dvs = t.dvEntries
            val schema = StructType(Seq(
              StructField("file", StringType, nullable = false),
              StructField("bytes", LongType, nullable = false),
              StructField("rows", LongType, nullable = false),
              StructField("dead_rows", LongType, nullable = false)))
            val fileRows = t.relFiles.map { rel =>
              val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$rel"))
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(rel), st.getLen,
                t.fileRowCount(rel),
                dvs.get(rel).map(_.card).getOrElse(0L))): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = fileRows
            }
          } else if (procName == "manifest") {
            // metadata-layer introspection: one row per live manifest
            // segment (the `files` report's sibling) — segment churn,
            // dead-stats mass (the compaction trigger's input), bytes
            // stats_files / dead_stats_files are both FILE-granular —
            // dead/stats is exactly the compaction trigger's fraction
            val schema = StructType(Seq(
              StructField("segment", StringType, nullable = false),
              StructField("files_added", LongType, nullable = false),
              StructField("files_removed", LongType, nullable = false),
              StructField("stats_files", LongType, nullable = false),
              StructField("dead_stats_files", LongType, nullable = false),
              StructField("bytes", LongType, nullable = false)))
            val segRows = t.manifestReport().map {
              case (rel, a, r, se, de, b) =>
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(rel), a, r, se, de, b)): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = segRows
            }
          } else if (procName == "detail") {
            // DESCRIBE DETAIL (Delta's shape): the one-call operational
            // summary — size, layout declaration, mutation mode, data-
            // quality gates, and the evolution state (tombstones +
            // pending columns) that explains why pushdown or a re-ADD
            // is currently refused
            val (hfs, _) = graft.storage.GraftTable.fsAndPath(dir)
            val opts = t.options
            def csv(xs: Seq[String]) = if (xs.isEmpty) "-" else xs.mkString(",")
            val sizeBytes = t.relFiles.map { rel =>
              hfs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$rel")).getLen
            }.sum
            val schema = StructType(Seq(
              StructField("metric", StringType, nullable = false),
              StructField("value", StringType, nullable = false)))
            val detailRows: Array[InternalRow] = Array(
              ("location", dir),
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
              ("pending_evolution_columns", csv(t.pendingEvolutionColumns)))
              .map { case (m, v) =>
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(m), UTF8String.fromString(v))): InternalRow
              }
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = detailRows
            }
          } else if (procName == "history") {
            // multi-row result: one row per retained snapshot
            val schema = StructType(Seq(
              StructField("version", LongType, nullable = false),
              StructField("row_count", LongType, nullable = false),
              StructField("file_count", LongType, nullable = false)))
            val histRows = t.history().map { case (v, rc, fc) =>
              new GenericInternalRow(Array[Any](v, rc, fc.toLong)): InternalRow
            }.toArray
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = histRows
            }
          } else {
            val (metric, value) = procName match {
              case "compact" => ("files_after_compaction", t.compact().toLong)
              case "compact_small" => ("small_files_merged", t.compactSmall().toLong)
              case "compact_overlapping" =>
                // clustering repair: fold only the files whose leading
                // sort-key ranges overlap (restores range-disjoint zone
                // maps + the proven-order claim at cost ∝ overlap)
                ("overlapping_files_folded", t.compactOverlapping().toLong)
              case "materialize_vectors" =>
                // rewrite only the files whose dead fraction ≥ 10% —
                // the merge-on-read steady-state cleanup (full compact
                // would rewrite the whole table)
                ("files_materialized", t.materializeVectors().toLong)
              case "vacuum" => ("orphan_dirs_reclaimed", t.vacuum().toLong)
              case "analyze" => ("rows_analyzed", t.analyze().rowCount)
              case "analyze_sample" =>
                // the reference's ANALYZE design point: stats from a
                // sample, row count exact (cstore_fdw.c:2098-2260)
                ("rows_analyzed", t.analyze(input.getDouble(1)).rowCount)
              case "table_size" => ("size_bytes", t.tableSize())
              case "expire_history" =>
                ("snapshots_expired", t.expireHistory(input.getInt(1)).toLong)
              case "restore" =>
                // rollback to a retained snapshot as a NEW commit; the
                // returned value is the version the restore created
                ("version_after_restore", t.restore(input.getInt(1).toLong))
              case "expire_history_older_than" =>
                ("snapshots_expired",
                  t.expireHistoryOlderThan(input.getInt(1) * 3600000L).toLong)
              case "clone" =>
                val target = checkName(input.getUTF8String(1).toString)
                ("rows_cloned",
                  t.cloneTo(tableDir(target)).rowCountFromMetadata())
              case "recluster" =>
                def cols(i: Int): Seq[String] = {
                  val s = input.getUTF8String(i).toString.trim
                  if (s.isEmpty) Seq.empty
                  else s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
                }
                ("files_after_recluster",
                  t.recluster(cols(1), cols(2)).toLong)
            }
            val schema = StructType(Seq(
              StructField("table", StringType, nullable = false),
              StructField("metric", StringType, nullable = false),
              StructField("value", LongType, nullable = false)))
            val row: InternalRow = new GenericInternalRow(Array[Any](
              UTF8String.fromString(tableName), UTF8String.fromString(metric), value))
            new LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = Array(row)
            }
          }
          java.util.Collections.singletonList(scan).iterator()
        }
      }
    }
  }
}
