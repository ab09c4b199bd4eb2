package graft.storage

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Multi-dimensional clustering + point-lookup skipping:
  *
  * - `zorder_by`: files cover contiguous Z-ranges, so file-level zone
  *   maps prune on EVERY Z column; a single-column sort only serves its
  *   prefix and the second column's per-file range spans the domain.
  * - `bloom_filter_columns`: parquet bloom filters land in the footer
  *   for the configured columns, giving row-group point-lookup skipping
  *   where min/max is useless (high-cardinality, unclustered). */
class ClusteringSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", IntegerType),
    StructField("b", IntegerType),
    StructField("payload", StringType)))

  test("compaction preserves sort_by clustering: merged files range-disjoint") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("compact-sorted") + "/t",
      StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))),
      GraftTableOptions(stripeRowCount = 1000, blockRowCount = 1000,
        sortBy = Seq("id")))
    // three INTERLEAVED appends: every file spans nearly the full id
    // range, so pre-compaction a point probe cannot prune anything
    for (r <- 0 until 3)
      t.append((0 until 3000).filter(_ % 3 == r).map(i => (i, s"v$i"))
        .toDF("id", "v").coalesce(1))
    assert(t.prunedFiles(Seq(EqualTo("id", 1500))).size === 3,
      "interleaved appends must overlap before compaction")
    t.compact()
    assert(t.committedFiles.size >= 2, "stripe sizing must split the output")
    assert(t.prunedFiles(Seq(EqualTo("id", 1500))).size === 1,
      "compacted files must be range-disjoint on the sort key")
    assert(t.read().count() === 3000L)
    GraftTable.drop(t.location)
  }

  /** 100×100 grid: a and b are independent uniform dimensions. */
  private def grid = {
    import spark.implicits._
    (0 until 10000).map(i => (i % 100, i / 100, s"p$i"))
      .toDF("a", "b", "payload").repartition(8)
  }

  test("zorder_by prunes files on every Z column; sort_by only on its prefix") {
    val zloc = tmpDir("zorder") + "/tbl"
    val zt = GraftTable.create(spark, zloc, schema,
      GraftTableOptions(zorderBy = Seq("a", "b")))
    zt.append(grid)
    val files = zt.committedFiles.size
    assert(files > 1, s"need multiple files to show pruning (got $files)")

    val sloc = tmpDir("sorted") + "/tbl"
    val st = GraftTable.create(spark, sloc, schema,
      GraftTableOptions(sortBy = Seq("a")))
    // sort_by clusters within partitions; range-partition on a first so
    // files have disjoint a-ranges — the best single-column layout
    st.append(grid.repartitionByRange(8, col("a")))

    def pruned(t: GraftTable, c: String): Int =
      t.prunedFiles(Seq(EqualTo(c, 5))).size

    // both layouts serve the first column
    assert(pruned(zt, "a") < files, "zorder must prune on a")
    assert(pruned(st, "a") < st.committedFiles.size, "sort must prune on a")
    // only Z-order serves the second
    assert(pruned(zt, "b") < files, "zorder must prune on b")
    assert(pruned(st, "b") === st.committedFiles.size,
      "single-column sort cannot prune the other dimension")

    // correctness untouched by the clustering
    val df = spark.read.format("graft").load(zloc)
    assert(df.count() === 10000)
    assert(df.filter(col("a") === 5).count() === 100)
    assert(df.filter(col("b") === 5).count() === 100)
    assert(df.filter(col("a") === 5 && col("b") === 5).count() === 1)
    GraftTable.drop(zloc); GraftTable.drop(sloc)
  }

  test("zorder_by survives the meta round-trip and re-clusters on compact") {
    val loc = tmpDir("zorder-rt") + "/tbl"
    GraftTable.create(spark, loc, schema, GraftTableOptions(zorderBy = Seq("a", "b")))
    val t = GraftTable.open(spark, loc)
    assert(t.options.zorderBy === Seq("a", "b"))
    t.append(grid)
    t.append(grid)
    t.compact()
    val t2 = GraftTable.open(spark, loc)
    assert(t2.read().count() === 20000)
    // post-compact files still prune on both dimensions
    val files = t2.committedFiles.size
    if (files > 1) {
      assert(t2.prunedFiles(Seq(EqualTo("a", 5))).size < files)
      assert(t2.prunedFiles(Seq(EqualTo("b", 5))).size < files)
    }
    GraftTable.drop(loc)
  }

  test("bloom_filter_columns writes parquet bloom filters for those columns only") {
    import spark.implicits._
    val loc = tmpDir("bloom") + "/tbl"
    val t = GraftTable.create(spark, loc,
      StructType(Seq(StructField("id", LongType), StructField("tag", StringType))),
      GraftTableOptions(bloomFilterColumns = Seq("tag")))
    t.append((0 until 20000).map(i => (i.toLong, s"tag-${i * 2654435761L % 100000}"))
      .toDF("id", "tag").coalesce(1))
    val file = t.committedFiles.head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = r.getFooter.getBlocks.get(0).getColumns.asScala
        .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(cols("tag"), "bloom filter present for configured column")
      assert(!cols("id"), "no bloom filter for unconfigured column")
    } finally r.close()
    // point lookup correctness through the filter
    val df = spark.read.format("graft").load(loc)
    assert(df.filter(col("tag") === "tag-0").count() >= 1)
    // the filter is sized to the data: a 1-row file stays small (an
    // unsized parquet-mr filter is 1 MiB whatever the row count)
    t.append(Seq((-1L, "tag-one")).toDF("id", "tag").coalesce(1))
    val one = t.committedFiles.last
    val onePath = new org.apache.hadoop.fs.Path(one)
    val len = onePath.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(onePath).getLen
    assert(len < (128L << 10), s"1-row file with a bloom column is $len bytes")
    GraftTable.drop(loc)
  }

  test("option validation: unknown/one-column zorder, sort_by conflict") {
    val loc = tmpDir("zorder-bad")
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, s"$loc/t1", schema, GraftTableOptions(zorderBy = Seq("a", "nope")))
    }
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, s"$loc/t2", schema, GraftTableOptions(zorderBy = Seq("a")))
    }
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, s"$loc/t3", schema,
        GraftTableOptions(sortBy = Seq("a"), zorderBy = Seq("a", "b")))
    }
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, s"$loc/t4", schema,
        GraftTableOptions(zorderBy = Seq("a", "payload")))
    }
  }

  private implicit class JListOps[T](l: java.util.List[T]) {
    def asScala: Seq[T] = {
      val b = Seq.newBuilder[T]
      l.forEach(e => b += e)
      b.result()
    }
  }
}
