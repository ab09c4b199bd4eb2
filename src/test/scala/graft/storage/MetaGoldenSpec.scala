package graft.storage

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** Golden metadata files: `src/test/resources/graft/meta-golden/` holds
  * files written by the hand-built JSON writer that preceded
  * [[MetaCodec]] — an inline-form table (bucketed, sorted, bloom,
  * merge-on-read with a deletion vector, a CHECK and ADD COLUMN
  * defaults of all four tags), a manifest-form table (z-order, delta,
  * compaction and removal segments), their full histories, an ANALYZE
  * stats file and an ANN drift baseline — and `dump.txt`, the
  * [[GoldenCanon]] form of what that writer's readers returned for each.
  * Every file must read to its dump, and re-rendering what was read
  * must not grow the file. */
class MetaGoldenSpec extends AnyFunSuite {

  private val root: Path =
    Paths.get(getClass.getResource("/graft/meta-golden/dump.txt").toURI).getParent

  private def loc(table: String): String = root.resolve(table).toString

  private val dump: Seq[(String, String)] =
    Files.readAllLines(root.resolve("dump.txt")).asScala.toSeq.map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> l.substring(i + 1)
    }

  private def read(key: String): Any = key.split(" ").toSeq match {
    case Seq("meta", t) => GraftTable.readMeta(loc(t))
    case Seq("history", t, v) => GraftTable.readHistoryRaw(loc(t), v.tail.toLong)
    case Seq("historyMeta", t, v) => GraftTable.readHistoryMeta(loc(t), v.tail.toLong)
    case Seq("segment", t, name) =>
      val (fs, _) = GraftTable.fsAndPath(loc(t))
      GraftTable.parseSegmentFile(loc(t), fs,
        new HPath(root.resolve(t).resolve("_graft_manifest").resolve(name).toString))
    case Seq("stats", t) => GraftTable.readStats(loc(t)).get
    case Seq("drift", t) => graft.operators.Similarity.readDriftBaseline(loc(t))
  }

  test("every golden file reads to the dump of the readers that preceded the codec") {
    assert(dump.size > 80)
    for ((key, want) <- dump) assert(GoldenCanon.canon(read(key)) === want, key)
  }

  test("the dump covers every golden file and what the fixtures promise") {
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "dump.txt").toSeq
    val keys = dump.map(_._1).toSet
    files.foreach { p =>
      val rel = root.relativize(p).toString.split("/").toSeq
      val key = rel match {
        case Seq(t, "_graft_meta.json") => s"meta $t"
        case Seq(t, "_graft_stats.json") => s"stats $t"
        case Seq(t, "_drift_baseline.json") => s"drift $t"
        case Seq(t, "_graft_history", v) =>
          s"history $t v${v.stripPrefix("v").stripSuffix(".json").toLong}"
        case Seq(t, "_graft_manifest", name) => s"segment $t $name"
      }
      assert(keys(key), s"no dump line for $p")
    }
    val inline = GraftTable.readMeta(loc("inline"))
    assert(inline.files.size <= GraftTable.InlineStatsMax && inline.manifest.isEmpty)
    assert(inline.dvs.nonEmpty && inline.options.checks.nonEmpty &&
      inline.streamTxn.nonEmpty && inline.droppedCols.nonEmpty)
    assert(inline.defaults.values.map(_.getClass.getSimpleName).toSet ===
      Set("Long", "Double", "Boolean", "String"))
    assert(inline.defaults.values.exists(_ == Long.box((1L << 53) + 1)))
    assert(inline.fileStats.values.exists(_.values.exists(s => s.min == null && s.max == null)))
    assert(inline.options.sortBy.nonEmpty && inline.options.bloomFilterColumns.nonEmpty &&
      inline.options.bucketBy.nonEmpty)
    val history = GraftTable.historyVersions(loc("inline"))
      .map(GraftTable.readHistoryRaw(loc("inline"), _))
    assert(history.exists(_.changeCommit) && history.exists(_.emitFiles.nonEmpty))
    val manifest = GraftTable.readMeta(loc("manifest"))
    assert(manifest.files.size > GraftTable.InlineStatsMax && manifest.manifest.nonEmpty)
    assert(manifest.options.zorderBy.nonEmpty)
    val stats = GraftTable.readStats(loc("inline")).get
    assert(stats.columns.values.exists(_.mcvs.nonEmpty) &&
      stats.columns.values.exists(_.hist.nonEmpty))
  }

  test("re-rendering a decoded golden file never makes it larger") {
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val jsons = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".json")).toSeq
    assert(jsons.size > 40)
    jsons.foreach { p =>
      val old = text(p)
      val again = p.getParent.getFileName.toString match {
        case "_graft_manifest" =>
          val s = MetaCodec.segment(old, p)
          MetaCodec.renderSegment(s.added, s.removed, s.stats)
        case _ => p.getFileName.toString match {
          case "_graft_stats.json" => MetaCodec.renderStats(MetaCodec.stats(old))
          case "_drift_baseline.json" => MetaCodec.render(MetaCodec.driftBaseline(old))
          case _ =>
            val s = MetaCodec.snapshot(old).checked(p)
            val again = MetaCodec.renderSnapshot(s.meta(s.files, s.inlineStats))
            assert(MetaCodec.snapshot(again) === s, p)
            again
        }
      }
      assert(again.getBytes("UTF-8").length <= Files.size(p), p)
    }
  }
}
