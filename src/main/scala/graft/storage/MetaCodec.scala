package graft.storage

import com.fasterxml.jackson.annotation.{JsonFormat, JsonInclude}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.{DataType, StructType}

import GraftTable.{ColFileStats, ColumnStats, DvEntry, ManifestSegment, Meta, RawSnapshot, TableStats}

/** What the engine's JSON files look like — the role of the reference's
  * `cstore.proto` and `cstore_metadata_serialization.c`: one typed
  * document per file kind, read and written by one Jackson mapper. A
  * document's field names are the file's keys, and a key missing from
  * an older file takes the field's default, stated here once. Output is
  * compact (no pretty printer). Trailing content after the document is
  * an error, so a torn or truncated file never decodes — the commit
  * protocol reads an undecodable history file as an in-flight claim. */
private[graft] object MetaCodec {

  // unknown keys are skipped, as the hand-built parser before this
  // codec skipped them: a reader never mistakes a newer writer's
  // snapshot for an undecodable (in-flight) claim
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)

  private val Magic = "graft_cstore_v1" // role of `citus_cstore` magic, cstore_fdw.h:50

  /** Compact JSON of any value the mapper can write (documents, and the
    * plain maps of `Verify`'s sidecar files). */
  def render(v: Any): String = mapper.writeValueAsString(v)

  type FileStats = Map[String, Map[String, ColFileStats]]

  /** One file's zone map for one column ([[ColFileStats]]) under the
    * short keys that keep per-file stats small. */
  final case class ZoneMap(mn: String, mx: String, nu: Long, rw: Long)

  private def toZoneMaps(s: FileStats): Map[String, Map[String, ZoneMap]] =
    s.map { case (f, cols) =>
      f -> cols.map { case (c, z) => c -> ZoneMap(z.min, z.max, z.nulls, z.rows) } }

  private def fromZoneMaps(s: Map[String, Map[String, ZoneMap]]): FileStats =
    s.map { case (f, cols) =>
      f -> cols.map { case (c, z) => c -> ColFileStats(z.mn, z.mx, z.nu, z.rw) } }

  /** A deletion-vector entry ([[DvEntry]]): sidecar path, position count. */
  final case class Dv(p: String, n: Long)

  /** An ADD COLUMN default with its type tag (`long`, `double`,
    * `boolean`, `string`): the tag restores the boxed type a bare JSON
    * number would lose. Values of any other type are stored as their
    * string form. */
  final case class Tagged(t: String, v: JsonNode) {
    def value: Any = t match {
      case "long" => Long.box(v.asLong)
      case "double" => Double.box(v.asDouble)
      case "boolean" => Boolean.box(v.asBoolean)
      case _ if v == null || v.isNull => null
      case _ if v.isIntegralNumber => Long.box(v.longValue)
      case _ if v.isNumber => Double.box(v.doubleValue)
      case _ => v.asText
    }
  }

  private def tagged(v: Any): Tagged = {
    def node(x: Any) = mapper.valueToTree[JsonNode](x)
    v match {
      case _: java.lang.Long | _: java.lang.Integer => Tagged("long", node(v))
      case _: java.lang.Double | _: java.lang.Float => Tagged("double", node(v))
      case _: java.lang.Boolean => Tagged("boolean", node(v))
      case null => Tagged("string", mapper.nullNode())
      case _: String | _: java.lang.Number => Tagged("string", node(v))
      case other => Tagged("string", node(other.toString))
    }
  }

  /** `_graft_meta.json` (the pointer) and `_graft_history/v<N>.json`:
    * one committed state. With manifest segments in play `files` and
    * `file_stats` are empty — the segments carry them. */
  final case class Snapshot(
      graft_magic: String,
      schema: String,
      compression: String,
      stripe_row_count: Long,
      block_row_count: Long,
      sort_by: Seq[String] = Nil,
      zorder_by: Seq[String] = Nil,
      bloom_filter: Seq[String] = Nil,
      bucket_by: Seq[String] = Nil,
      bucket_count: Int = 0,
      delete_mode: String = "copy-on-write",
      auto_compact_min_files: Int = 0,
      checks: Map[String, String] = Map.empty,
      dvs: Map[String, Dv] = Map.empty,
      row_count: Long,
      version: Long = 0L,
      next_batch_id: Long,
      defaults: Map[String, Tagged] = Map.empty,
      manifest: Vector[String] = Vector.empty,
      file_stats: Map[String, Map[String, ZoneMap]] = Map.empty,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      stream_txn: Map[String, Long] = Map.empty,
      emit_files: Vector[String] = Vector.empty,
      dropped_cols: Vector[String] = Vector.empty,
      change_commit: Boolean = false,
      files: Vector[String] = Vector.empty) {

    def checked(path: AnyRef): Snapshot = {
      require(graft_magic == Magic, s"bad magic in $path")
      this
    }

    def inlineStats: FileStats = fromZoneMaps(file_stats)

    private def dvEntries = dvs.map { case (f, d) => f -> DvEntry(d.p, d.n) }
    private def defaultValues = defaults.map { case (k, d) => k -> d.value }

    /** The committed state, its file list and zone maps hydrated by the
      * caller (inline, or replayed from the manifest segments). */
    def meta(files: Vector[String], fileStats: FileStats): Meta = Meta(
      currentSchema = DataType.fromJson(schema).asInstanceOf[StructType],
      options = GraftTableOptions(compression, stripe_row_count, block_row_count,
        sort_by, zorder_by, bloom_filter, bucket_by, bucket_count, delete_mode,
        checks, auto_compact_min_files),
      files = files, rowCount = row_count, defaults = defaultValues,
      nextBatchId = next_batch_id, fileStats = fileStats, streamTxn = stream_txn,
      version = version, emitFiles = emit_files, changeCommit = change_commit,
      dvs = dvEntries, droppedCols = dropped_cols, manifest = manifest)

    def raw: RawSnapshot = RawSnapshot(version, schema, manifest, files,
      dvEntries, defaultValues, row_count, change_commit, emit_files)
  }

  def renderSnapshot(m: Meta): String = {
    val o = m.options
    val inline = m.manifest.isEmpty
    render(Snapshot(Magic, m.currentSchema.json, o.compression, o.stripeRowCount,
      o.blockRowCount, o.sortBy, o.zorderBy, o.bloomFilterColumns, o.bucketBy,
      o.bucketCount, o.deleteMode, o.autoCompactMinFiles, o.checks,
      m.dvs.map { case (f, e) => f -> Dv(e.path, e.card) },
      m.rowCount, m.version, m.nextBatchId,
      m.defaults.map { case (k, v) => k -> tagged(v) }, m.manifest,
      if (inline) toZoneMaps(m.fileStats) else Map.empty,
      m.streamTxn, m.emitFiles, m.droppedCols, m.changeCommit,
      if (inline) m.files else Vector.empty))
  }

  /** Decode a snapshot without the magic check ([[Snapshot.checked]]). */
  def snapshot(text: String): Snapshot = mapper.readValue(text, classOf[Snapshot])

  /** `_graft_manifest/m<version>-<uuid>.json`: one commit's file-list
    * delta and the added files' zone maps. */
  final case class Segment(
      graft_magic: String,
      files_added: Vector[String] = Vector.empty,
      files_removed: Vector[String] = Vector.empty,
      file_stats: Map[String, Map[String, ZoneMap]] = Map.empty)

  def renderSegment(added: Vector[String], removed: Set[String],
      stats: FileStats): String =
    render(Segment(Magic, added, removed.toVector.sorted, toZoneMaps(stats)))

  def segment(text: String, path: AnyRef): ManifestSegment = {
    val s = mapper.readValue(text, classOf[Segment])
    require(s.graft_magic == Magic, s"bad magic in manifest segment $path")
    ManifestSegment(s.files_added, s.files_removed.toSet, fromZoneMaps(s.file_stats))
  }

  /** One most-common value and its count, written as a `[value, n]` pair. */
  @JsonFormat(shape = JsonFormat.Shape.ARRAY)
  final case class Mcv(value: String, n: Long)

  /** One column of `_graft_stats.json` ([[ColumnStats]]); `mcvs` and
    * `hist` are left out when empty. */
  final case class ColumnDoc(min: String, max: String, ndv: Long, nulls: Long,
      @JsonInclude(JsonInclude.Include.NON_EMPTY) mcvs: Seq[Mcv] = Nil,
      @JsonInclude(JsonInclude.Include.NON_EMPTY) hist: Seq[String] = Nil)

  /** `_graft_stats.json`: the table's ANALYZE output. */
  final case class StatsDoc(row_count: Long, size_bytes: Long,
      columns: Map[String, ColumnDoc])

  def renderStats(st: TableStats): String =
    render(StatsDoc(st.rowCount, st.sizeBytes, st.columns.map { case (k, c) =>
      k -> ColumnDoc(c.min, c.max, c.ndv, c.nullCount,
        c.mcvs.map { case (v, n) => Mcv(v, n) }, c.hist) }))

  def stats(text: String): TableStats = {
    val d = mapper.readValue(text, classOf[StatsDoc])
    TableStats(d.row_count, d.size_bytes, d.columns.map { case (k, c) =>
      k -> ColumnStats(c.min, c.max, c.ndv, c.nulls, c.mcvs.map(m => m.value -> m.n), c.hist) })
  }

  /** `_drift_baseline.json` of an ANN index root: vector count, median
    * assignment cosine, per-list counts (`label:count,...`) and the
    * 20-bin cosine histogram (`c0,...,c19`; absent on baselines written
    * before it). */
  final case class DriftBaseline(n: Long, p50: Double, lists: String = "",
      hist: Option[String] = None)

  def driftBaseline(text: String): DriftBaseline =
    mapper.readValue(text, classOf[DriftBaseline])
}
