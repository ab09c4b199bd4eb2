package graft.storage

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import GraftTable.{ColFileStats, ColumnStats, DvEntry, ManifestSegment, Meta, TableStats}

/** [[MetaCodec]] as a property: rendering then decoding gives back the
  * same `Meta`, `ManifestSegment` and `TableStats` for generated values
  * (surrogate pairs, control characters, U+2028, long extremes, null
  * min/max, empty maps and vectors), and no proper prefix of a rendered
  * snapshot — nor a snapshot with trailing garbage — decodes, so the
  * commit protocol keeps reading a torn history file as an in-flight
  * claim. */
class MetaCodecPropertySpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 200): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(Seed(20261019L)), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private val genChunk: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumStr.map(_.take(6)),
    2 -> Gen.choose(0, 0x1f).map(_.toChar.toString),
    2 -> Gen.oneOf("\"", "\\", "/", " ", "\u2028", "\u2029", "\u007f", "é", "naïve", "\t"),
    2 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))),
    1 -> Gen.choose(0x0800, 0xd7ff).map(_.toChar.toString))

  private val genStr: Gen[String] =
    Gen.choose(0, 5).flatMap(Gen.listOfN(_, genChunk)).map(_.mkString)
  private val genLong: Gen[Long] = Gen.frequency(
    3 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, (1L << 53) + 1),
    5 -> Gen.long)
  private def genMap[V](v: Gen[V]): Gen[Map[String, V]] =
    Gen.choose(0, 3).flatMap(Gen.mapOfN(_, Gen.zip(genStr, v)))
  private def genVec[V](v: Gen[V]): Gen[Vector[V]] =
    Gen.choose(0, 3).flatMap(Gen.listOfN(_, v)).map(_.toVector)
  private val genNullable: Gen[String] = Gen.frequency(1 -> Gen.const(null), 4 -> genStr)

  private val genZone: Gen[ColFileStats] = for {
    mn <- genNullable; mx <- genNullable; nu <- genLong; rw <- genLong
  } yield ColFileStats(mn, mx, nu, rw)
  private val genFileStats = genMap(genMap(genZone))

  private val genDefault: Gen[Any] = Gen.oneOf(
    genLong.map(Long.box),
    Gen.oneOf(0.0, -0.0, 2.5, 1e300, -4.9e-324, Double.MaxValue).map(Double.box),
    Gen.oneOf(true, false).map(Boolean.box),
    genNullable)

  private val genMeta: Gen[Meta] = for {
    cols <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, genStr))
    sortBy <- genVec(genStr); zorder <- genVec(genStr); bloom <- genVec(genStr)
    bucket <- genVec(genStr); bucketCount <- Gen.choose(0, 65536)
    mode <- Gen.oneOf("copy-on-write", "merge-on-read")
    checks <- genMap(genStr); autoCompact <- Gen.choose(0, 1000)
    files <- genVec(genStr); rows <- genLong; defaults <- genMap(genDefault)
    batch <- genLong; stats <- genFileStats; txn <- genMap(genLong)
    version <- genLong; emit <- genVec(genStr); change <- Gen.oneOf(true, false)
    dvs <- genMap(Gen.zip(genStr, genLong).map { case (p, n) => DvEntry(p, n) })
    dropped <- genVec(genStr); manifest <- Gen.frequency(3 -> Gen.const(Vector.empty[String]),
      1 -> genVec(genStr))
  } yield Meta(
    StructType(cols.zipWithIndex.map { case (c, i) => StructField(s"$c$i", StringType) }),
    GraftTableOptions("zstd", 150000L, 10000L, sortBy, zorder, bloom, bucket,
      bucketCount, mode, checks, autoCompact),
    files, rows, defaults, batch, stats, txn, version, emit, change, dvs, dropped, manifest)

  private def decoded(text: String): Meta = {
    val s = MetaCodec.snapshot(text).checked("generated")
    s.meta(s.files, s.inlineStats)
  }

  test("a rendered Meta decodes to the same Meta (inline files and zone maps only without segments)") {
    check(Prop.forAll(genMeta) { m =>
      val want = if (m.manifest.isEmpty) m else m.copy(files = Vector.empty, fileStats = Map.empty)
      decoded(MetaCodec.renderSnapshot(m)) == want
    })
  }

  test("a rendered manifest segment decodes to the same segment") {
    check(Prop.forAll(genVec(genStr), genVec(genStr), genFileStats) { (added, removed, stats) =>
      MetaCodec.segment(MetaCodec.renderSegment(added, removed.toSet, stats), "generated") ==
        ManifestSegment(added, removed.toSet, stats)
    })
  }

  test("rendered table stats decode to the same stats") {
    val genCol = for {
      mn <- genNullable; mx <- genNullable; ndv <- genLong; nulls <- genLong
      mcvs <- genVec(Gen.zip(genStr, genLong)); hist <- genVec(genStr)
    } yield ColumnStats(mn, mx, ndv, nulls, mcvs, hist)
    check(Prop.forAll(genLong, genLong, genMap(genCol)) { (rows, size, cols) =>
      val st = TableStats(rows, size, cols)
      MetaCodec.stats(MetaCodec.renderStats(st)) == st
    })
  }

  test("no proper prefix of a rendered snapshot decodes, nor one with trailing garbage") {
    def fails(text: String) =
      try { MetaCodec.snapshot(text); false } catch { case _: Exception => true }
    check(Prop.forAll(genMeta, Gen.oneOf("x", "}", " {}", "\"", ",", "[]", "0")) { (m, junk) =>
      val text = MetaCodec.renderSnapshot(m)
      !fails(text) && (0 until text.length).forall(i => fails(text.substring(0, i))) &&
        fails(text + junk)
    }, 30)
  }

  test("a truncated or trailing-garbage history file is an in-flight claim") {
    val m = genMeta.map(_.copy(files = Vector.empty, fileStats = Map.empty,
      manifest = Vector.empty, version = 3L, currentSchema = StructType(Seq(
        StructField("id", IntegerType)))))(Gen.Parameters.default, Seed(7L)).get
    for (torn <- Seq((t: String) => t.dropRight(1), (t: String) => t + "}")) {
      val loc = Files.createTempDirectory("codec-claim").toString
      Files.createDirectories(Paths.get(loc, "_graft_history"))
      Files.writeString(Paths.get(loc, "_graft_meta.json"), MetaCodec.renderSnapshot(m))
      def history(v: Long) = Paths.get(GraftTable.historyPath(loc, v).toUri.getPath)
      Files.writeString(history(3L), MetaCodec.renderSnapshot(m))
      val claim = history(4L)
      Files.writeString(claim, torn(MetaCodec.renderSnapshot(m.copy(version = 4L))))
      assert(GraftTable.committedVersion(loc) === 3L)
      assert(GraftTable.readMeta(loc).version === 3L)
      // once older than the claim grace, the next writer reclaims it
      claim.toFile.setLastModified(System.currentTimeMillis() - 3600000L)
      assert(GraftTable.tryClaimVersion(loc, m.copy(version = 4L)))
      assert(GraftTable.readMeta(loc).version === 4L)
      GraftTable.drop(loc)
    }
  }
}
