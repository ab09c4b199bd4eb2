package graft.storage

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** MANIFEST SEGMENTS: the metadata layer's 100 TB discipline. The
  * per-file bulk — the file LIST plus the zone maps (per file × column
  * min/max/null/row + collation witnesses) — is no longer rewritten
  * into every meta/history JSON; commits durably write only their
  * DELTA (files_added / files_removed / added stats) as immutable
  * `_graft_manifest/m*.json` segments, hydrated on read by REPLAY
  * (files) + union-later-wins (stats). Small tables (≤ InlineStatsMax
  * files) keep the legacy inline form. Covers: the inline↔segment
  * transition, delta discipline, removal deltas from COW DML, pruning
  * on a reopened handle, rewrite- and drop-triggered compaction, the
  * segment-count cap, time travel + restore, vacuum GC vs retention,
  * the corruption contract, legacy reads, and clone re-sharding. */
class MetaShardSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("v", StringType)))

  private def oneFileBatch(base: Int) = {
    import spark.implicits._
    (base until base + 10).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
  }

  private def mkSharded(prefix: String, batches: Int): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(prefix) + "/t", schema)
    for (b <- 0 until batches) t.append(oneFileBatch(b * 100))
    t
  }

  private def metaOf(t: GraftTable): GraftTable.Meta =
    GraftTable.readMeta(t.location)

  private def rawJson(t: GraftTable, rel: String): String = {
    val p = java.nio.file.Paths.get(
      new HPath(t.location).toUri.getPath, rel)
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("small tables stay inline; growth past the threshold shards") {
    val t = mkSharded("ms-grow", 3)
    val small = metaOf(t)
    assert(small.manifest.isEmpty)
    assert(small.fileStats.size === 3)
    // inline form: the pointer JSON itself carries the zone maps
    assert(rawJson(t, "_graft_meta.json").contains("\"mn\""))

    for (b <- 3 until GraftTable.InlineStatsMax + 4) t.append(oneFileBatch(b * 100))
    val grown = metaOf(t)
    assert(grown.files.size === GraftTable.InlineStatsMax + 4)
    assert(grown.manifest.nonEmpty)
    // segment form: pointer and history JSON carry NO inline zone maps
    // and NO inline file list — both replay from the segments
    assert(!rawJson(t, "_graft_meta.json").contains("\"mn\""))
    assert(!rawJson(t, "_graft_meta.json").contains(grown.files.head))
    assert(!rawJson(t, f"_graft_history/v${grown.version}%020d.json")
      .contains("\"mn\""))
    assert(!rawJson(t, f"_graft_history/v${grown.version}%020d.json")
      .contains(grown.files.last))
    // hydration restores the full map
    assert(grown.fileStats.size === grown.files.size)
    assert(grown.files.forall(f => grown.fileStats.contains(f)))
    GraftTable.drop(t.location)
  }

  test("steady-state commits write only their delta shard") {
    val t = mkSharded("ms-delta", GraftTable.InlineStatsMax + 2)
    val before = metaOf(t)
    t.append(oneFileBatch(9900))
    val after = metaOf(t)
    // exactly one NEW shard, containing exactly the new file's entry
    assert(after.manifest.size === before.manifest.size + 1)
    assert(after.manifest.startsWith(before.manifest))
    val newFiles = after.files.toSet -- before.files.toSet
    assert(newFiles.size === 1)
    val lastShard = rawJson(t, after.manifest.last)
    assert(newFiles.forall(f => lastShard.contains("\"" + f + "\"")))
    assert(before.files.forall(f => !lastShard.contains("\"" + f + "\"")))
    // the full-table stats are durable in the SHARDS alone: the union of
    // the shard files equals the hydrated map
    val unioned = after.manifest
      .map(rel => MetaCodec.segment(rawJson(t, rel), rel).stats.keySet)
      .foldLeft(Set.empty[String])(_ ++ _)
    assert(unioned === after.fileStats.keySet)
    GraftTable.drop(t.location)
  }

  test("a COW delete ships as a removal delta, not a compaction") {
    val t = mkSharded("ms-del", GraftTable.InlineStatsMax + 6)
    val before = metaOf(t)
    // delete one whole batch: ids 0..9 live in exactly one file
    t.delete(Seq(org.apache.spark.sql.sources.LessThan("id", 10)))
    val after = metaOf(t)
    assert(after.manifest.size === before.manifest.size + 1)
    val gone = before.files.toSet -- after.files.toSet
    val added = after.files.toSet -- before.files.toSet
    assert(gone.size === 1)
    val seg = rawJson(t, after.manifest.last)
    assert(gone.forall(f => seg.contains("\"" + f + "\"")))
    // the replayed (hydrated) order is exactly the committed shape:
    // survivors in place, any rewrite output appended
    assert(after.files ===
      before.files.filterNot(gone) ++ after.files.filter(added))
    assert(t.read().count() === before.rowCount - 10)
    GraftTable.drop(t.location)
  }

  test("a reopened handle prunes from shard-hydrated zone maps") {
    val t = mkSharded("ms-prune", GraftTable.InlineStatsMax + 4)
    val reopened = GraftTable.open(spark, t.location)
    // every file's id max is far below the predicate — no survivors
    assert(reopened.prunedFiles(
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 1000000))).isEmpty)
    // only the newest batch (ids 1900..1909) survives a tight range
    assert(reopened.prunedFiles(
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 1899))).size === 1)
    GraftTable.drop(t.location)
  }

  test("rewrites compact dead-majority shards; ALTER DROP rewrites all") {
    val t = mkSharded("ms-compact", GraftTable.InlineStatsMax + 6)
    assert(metaOf(t).manifest.size > 1)
    t.compact() // rewrites every file -> all sharded entries go dead
    val afterCompact = metaOf(t)
    assert(afterCompact.manifest.size === 1)
    val shard = rawJson(t, afterCompact.manifest.head)
    assert(afterCompact.files.forall(f => shard.contains("\"" + f + "\"")))

    // grow again, then DROP a column: every live entry changes shape ->
    // one full shard whose entries lack the dropped column
    for (b <- 0 until 4) t.append(oneFileBatch(5000 + b * 100))
    assert(metaOf(t).manifest.size > 1)
    t.alterAll(Seq(GraftTable.DropCol("v")))
    val afterDrop = metaOf(t)
    assert(afterDrop.manifest.size === 1)
    assert(afterDrop.fileStats.values.forall(cols =>
      !cols.keySet.exists(_.startsWith("v"))))
    GraftTable.drop(t.location)
  }

  test("shard count is capped by periodic compaction") {
    val t = mkSharded("ms-cap", 2)
    for (b <- 2 until GraftTable.ManifestCompactMaxSegments + 8)
      t.append(oneFileBatch(b * 100))
    val m = metaOf(t)
    assert(m.files.size === GraftTable.ManifestCompactMaxSegments + 8)
    assert(m.manifest.size <= GraftTable.ManifestCompactMaxSegments)
    assert(m.fileStats.size === m.files.size)
    GraftTable.drop(t.location)
  }

  test("time travel and RESTORE rehydrate historical shard lists") {
    val t = mkSharded("ms-tt", GraftTable.InlineStatsMax + 3)
    val vMid = metaOf(t).version - 2
    assert(t.readVersion(vMid).count() === (GraftTable.InlineStatsMax + 1) * 10L)
    t.restore(vMid)
    val m = metaOf(t)
    assert(m.files.size === GraftTable.InlineStatsMax + 1)
    assert(m.fileStats.size === m.files.size)
    assert(t.read().count() === (GraftTable.InlineStatsMax + 1) * 10L)
    GraftTable.drop(t.location)
  }

  test("vacuum reclaims shards no retained snapshot references") {
    val t = mkSharded("ms-gc", GraftTable.InlineStatsMax + 6)
    t.compact() // old delta shards now referenced only by history
    val retired = metaOf(t)
    assert(retired.manifest.size === 1)
    val statsDir = java.nio.file.Paths.get(
      new HPath(t.location).toUri.getPath, "_graft_manifest")
    def shardFiles(): Set[String] = {
      val s = java.nio.file.Files.list(statsDir)
      try {
        val it = s.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
    assert(shardFiles().size > 1)
    // age every shard past the claim grace, then expire history + vacuum
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    shardFiles().foreach { n =>
      java.nio.file.Files.setLastModifiedTime(statsDir.resolve(n),
        java.nio.file.attribute.FileTime.fromMillis(old))
    }
    t.expireHistory(1)
    assert(t.vacuum() > 0)
    val kept = shardFiles()
    assert(kept === retired.manifest
      .map(r => new HPath(s"${t.location}/$r").getName).toSet)
    // the survivor still hydrates and prunes
    val reopened = GraftTable.open(spark, t.location)
    assert(GraftTable.readMeta(t.location).fileStats.nonEmpty)
    assert(reopened.read().count() === retired.rowCount)
    GraftTable.drop(t.location)
  }

  test("a missing referenced shard is loud corruption, not silence") {
    val t = mkSharded("ms-corrupt", GraftTable.InlineStatsMax + 4)
    val m = metaOf(t)
    assert(m.manifest.size > 1)
    assert(t.verify().isEmpty)
    // simulate external damage: delete the oldest referenced shard
    // (vacuum never reclaims a referenced shard — see the GC test)
    val loc = new HPath(t.location).toUri.getPath
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(loc, m.manifest.head))
    // the warm handle's immutable-content cache still serves the shard
    // (by design), but verify() audits STORAGE and reports the damage...
    assert(t.verify().exists(_.contains("manifest segment")))
    // ...and a COLD reader (fresh location string = fresh cache keys)
    // fails hydration loudly instead of planning with silent-empty
    // zone maps
    val moved = tmpDir("ms-corrupt-moved") + "/t"
    java.nio.file.Files.move(java.nio.file.Paths.get(loc),
      java.nio.file.Paths.get(new HPath(moved).toUri.getPath))
    intercept[Exception] { GraftTable.readMeta(GraftTable.open(spark, moved).location) }
    GraftTable.drop(moved)
  }

  test("legacy metas without the manifest key still read") {
    val t = mkSharded("ms-legacy", 3) // inline form
    val loc = new HPath(t.location).toUri.getPath
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    for (rel <- Seq("_graft_meta.json",
        f"_graft_history/v${metaOf(t).version}%020d.json")) {
      val p = java.nio.file.Paths.get(loc, rel)
      val tree = json.readTree(java.nio.file.Files.readAllBytes(p))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      tree.remove("manifest")
      java.nio.file.Files.write(p, json.writeValueAsBytes(tree))
      assert(!json.readTree(java.nio.file.Files.readAllBytes(p)).has("manifest"), rel)
    }
    val m = GraftTable.readMeta(t.location)
    assert(m.manifest.isEmpty && m.fileStats.size === 3)
    GraftTable.drop(t.location)
  }

  test("cloneTo a new location re-shards there") {
    val t = mkSharded("ms-clone-src", GraftTable.InlineStatsMax + 3)
    val dest = tmpDir("ms-clone-dst") + "/t"
    val c = t.cloneTo(dest)
    val dm = GraftTable.readMeta(c.location)
    assert(dm.fileStats.size === dm.files.size)
    // every referenced shard lives UNDER the clone's own location
    dm.manifest.foreach { rel =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        new HPath(c.location).toUri.getPath, rel)))
    }
    GraftTable.drop(t.location)
    GraftTable.drop(c.location)
  }
}
