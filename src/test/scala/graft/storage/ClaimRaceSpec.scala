package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Deterministic claim races: for every writer that publishes staged
  * files, a second handle commits just before the writer's version
  * claim ([[MockFs.beforeNextClaim]]), so the writer's claim collides
  * and it must rebase onto the concurrent commit. Three concurrent
  * commits are injected:
  *  - a plain append: the writer rebases and the appended file stays
  *    live (a rename refuses, since a carried file would still hold the
  *    old column name);
  *  - an ALTER ADD COLUMN: the writer refuses and commits nothing;
  *  - a merge-on-read delete on a file the writer replaces: the writer
  *    refuses and commits nothing (an append replaces no file, so it
  *    rebases).
  *
  * Fixture: `sort_by id`, three files — f1 (ids 1..10, v = id), f2
  * (ids 5..15, v = 100 + id, overlapping f1), f3 (ids 100..110,
  * v = 1000 + id) — and a deletion vector on f1 killing v 1 and 2.
  */
class ClaimRaceSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockFs].getName)
  }

  private type Rows = Set[(Int, Long)]

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("v", LongType)))

  private val f1Rows = (1 to 10).map(i => (i, i.toLong))
  private val f2Rows = (5 to 15).map(i => (i, 100L + i))
  private val f3Rows = (100 to 110).map(i => (i, 1000L + i))
  private val fixtureLive: Rows =
    (f1Rows ++ f2Rows ++ f3Rows).toSet -- Set((1, 1L), (2, 2L))

  private def fixture(name: String): String = {
    import spark.implicits._
    val loc = "mock:" + tmpDir(s"claim-$name") + "/t"
    GraftTable.create(spark, loc, schema, GraftTableOptions(sortBy = Seq("id")))
    val t = GraftTable.open(spark, loc)
    Seq(f1Rows, f2Rows, f3Rows).foreach(rs => t.append(rs.toDF("id", "v").coalesce(1)))
    t.deleteMor(Seq(org.apache.spark.sql.sources.In("v", Array[Any](1L, 2L))))
    assert(t.relFiles.size === 3 && t.dvEntries.keySet === Set(t.relFiles.head))
    loc
  }

  private def rowsOf(t: GraftTable): Rows =
    t.read().select("id", "v").collect().map(r => r.getInt(0) -> r.getLong(1)).toSet

  /** One writer: its operation on the fixture and its effect on the
    * live rows when it commits. `replacesF1`: the writer's commit
    * replaces (or re-vectors) f1, the file the injected MOR delete
    * hits. */
  private final case class Writer(name: String, replacesF1: Boolean = true,
      rename: Boolean = false, effect: Rows => Rows = identity)(
      val run: GraftTable => Unit)

  private val v3 = Seq(EqualTo("v", 3L))

  private val writers: Seq[Writer] = Seq(
    Writer("append", replacesF1 = false,
      effect = _ ++ Set((300, 3000L), (301, 3001L))) { t =>
      import spark.implicits._
      t.append(Seq((300, 3000L), (301, 3001L)).toDF("id", "v").coalesce(1))
    },
    Writer("compact")(t => t.compact()),
    Writer("recluster")(t => t.recluster(sortBy = Seq("v"))),
    Writer("renameColumn", rename = true)(t => t.renameColumn("v", "w")),
    Writer("delete", effect = _ - ((3, 3L)))(t => t.delete(v3)),
    Writer("update", effect = _ - ((3, 3L)) + ((3, 333L)))(t =>
      t.update(Map("v" -> lit(333L)), v3)),
    Writer("compactSmall")(t => t.compactSmall()),
    Writer("deleteMor", effect = _ - ((3, 3L)))(t => t.deleteMor(v3)),
    Writer("updateMor", effect = _ - ((3, 3L)) + ((3, 333L)))(t =>
      t.updateMor(Map("v" -> lit(333L)), v3)),
    Writer("merge", effect = _ - ((3, 3L)) + ((-3, 3L)) + ((500, 5000L))) { t =>
      import spark.implicits._
      t.merge(Seq((-3, 3L), (500, 5000L)).toDF("id", "v"), Seq("v"))
    },
    Writer("replaceFilesCommit", effect = _ - ((3, 3L))) { t =>
      import spark.implicits._
      val dir = s"${t.location}/data/batch-cow-race"
      (4 to 10).map(i => (i, i.toLong)).toDF("id", "v").coalesce(1).write.parquet(dir)
      t.replaceFilesCommit(t.committedFiles.take(1), dir, t.readSchema(), "DELETE")
    },
    Writer("applyDeltaCommit", effect = _ - ((3, 3L))) { t =>
      val f1 = t.relFiles.head
      val fs = new Path(t.location).getFileSystem(GraftTable.hadoopConf())
      val pos = spark.read.parquet(s"${t.location}/$f1")
        .select(col("v"), col("_metadata.row_index")).collect()
        .collectFirst { case r if r.getLong(0) == 3L => r.getLong(1) }.get
      val old = DeletionVectors.read(fs, s"${t.location}/${t.dvEntries(f1).path}")
      val all = DeletionVectors.merge(old, Array(pos))
      val rel = "data/batch-dv-race/f1.dv"
      DeletionVectors.write(fs, s"${t.location}/$rel", all)
      t.applyDeltaCommit(t.readSchema(), "DELETE", t.dvEntries,
        Seq((f1, rel, all.length.toLong)), Nil, Nil, 1L)
    },
    Writer("compactOverlapping")(t => t.compactOverlapping()),
    Writer("materializeVectors")(t => t.materializeVectors(0.1)))

  /** What a race left: the writer's outcome, the table reopened, and
    * the committed files and version right after the injected commit,
    * with the files the injection added. */
  private final case class Race(out: Either[Throwable, Unit], after: GraftTable,
      files: Seq[String], version: Long, injectedFiles: Seq[String])

  /** Run `w` on a fresh fixture with `inject` committed by a second
    * handle just before `w`'s claim. */
  private def race(w: Writer, tag: String)(inject: GraftTable => Unit): Race = {
    val loc = fixture(s"${w.name}-$tag")
    val t = GraftTable.open(spark, loc)
    val before = t.relFiles
    var injected: (Seq[String], Long) = null
    MockFs.beforeNextClaim {
      val other = GraftTable.open(spark, loc)
      inject(other)
      injected = (other.relFiles, other.version)
    }
    val out =
      try Right(w.run(t)) catch { case e: Exception => Left(e) }
      finally assert(MockFs.disarmClaimHook(), s"${w.name}: never reached its claim")
    assert(injected != null)
    Race(out, GraftTable.open(spark, loc), injected._1, injected._2,
      injected._1.filterNot(before.toSet))
  }

  private def refused(w: Writer, r: Race, wording: String): Unit = {
    val e = r.out.swap.getOrElse(fail(s"${w.name} committed over the concurrent commit"))
    assert(e.isInstanceOf[IllegalArgumentException], s"${w.name}: $e")
    assert(e.getMessage.matches(s"(?s).*$wording.*"), s"${w.name}: ${e.getMessage}")
    assert(r.after.version === r.version, s"${w.name} committed after refusing")
    assert(r.after.relFiles === r.files)
    assert(r.after.verify() === Seq.empty)
  }

  private def rebased(w: Writer, r: Race, want: Rows): Unit = {
    r.out.left.foreach(e => fail(s"${w.name} refused a composable commit: $e"))
    assert(r.after.version === r.version + 1)
    assert(rowsOf(r.after) === want, w.name)
    assert(r.after.rowCountFromMetadata() === want.size.toLong)
    assert(r.after.verify() === Seq.empty)
    r.injectedFiles.foreach(f =>
      assert(r.after.relFiles.contains(f), s"${w.name} dropped the appended file $f"))
  }

  private val appended = Set((900, 9000L), (901, 9001L))

  writers.foreach { w =>
    test(s"${w.name}: a plain append landing before its claim " +
      (if (w.rename) "makes it refuse" else "is rebased over; the appended file stays live")) {
      import spark.implicits._
      val r = race(w, "append")(_.append(appended.toSeq.toDF("id", "v").coalesce(1)))
      assert(r.injectedFiles.size === 1)
      if (w.rename) refused(w, r, "concurrent commit during RENAME COLUMN")
      else rebased(w, r, w.effect(fixtureLive ++ appended))
      GraftTable.drop(r.after.location)
    }

    test(s"${w.name}: an ALTER ADD COLUMN landing before its claim makes it refuse") {
      val r = race(w, "alter")(_.addColumn("extra", IntegerType, 7))
      // a rename's one guard reports any concurrent commit in its own words
      refused(w, r,
        if (w.rename) "concurrent (schema change|commit during RENAME COLUMN)"
        else "concurrent schema change")
      assert(rowsOf(r.after) === fixtureLive)
      GraftTable.drop(r.after.location)
    }

    test(s"${w.name}: a merge-on-read delete on f1 landing before its claim " +
      (if (w.replacesF1) "makes it refuse" else "is rebased over")) {
      val r = race(w, "mor")(_.deleteMor(Seq(EqualTo("v", 4L))))
      if (w.replacesF1) {
        refused(w, r,
          if (w.rename) "concurrent (merge-on-read|commit during RENAME COLUMN)"
          else "concurrent merge-on-read")
        assert(rowsOf(r.after) === fixtureLive - ((4, 4L)))
      } else rebased(w, r, w.effect(fixtureLive - ((4, 4L))))
      GraftTable.drop(r.after.location)
    }
  }

  test("a compaction that carried an append commits one delta manifest segment") {
    import spark.implicits._
    // binary rows carry no zone maps, so only the file list decides the
    // segment form; 17 files put the table past the inline limit
    val bin = StructType(Seq(StructField("b", BinaryType)))
    val loc = "mock:" + tmpDir("claim-manifest") + "/t"
    GraftTable.create(spark, loc, bin)
    val t = GraftTable.open(spark, loc)
    (1 to GraftTable.InlineStatsMax + 1).foreach(i =>
      t.append(Seq(Array[Byte](i.toByte)).toDF("b").coalesce(1)))
    assert(t.manifestReport().size === 1)
    MockFs.beforeNextClaim(GraftTable.open(spark, loc)
      .append(Seq(Array[Byte](99)).toDF("b").coalesce(1)))
    t.compact()
    assert(MockFs.disarmClaimHook())
    val segs = GraftTable.open(spark, loc).manifestReport()
    assert(segs.map(s => (s._2, s._3)) ===
      Seq((GraftTable.InlineStatsMax + 1L, 0L), (1L, 0L), (1L, GraftTable.InlineStatsMax + 1L)),
      "the compaction's segment adds its output and removes what it replaced")
    assert(GraftTable.open(spark, loc).read().count() === GraftTable.InlineStatsMax + 2L)
    GraftTable.drop(loc)
  }
}
