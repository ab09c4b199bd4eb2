package graft.storage

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** File-level zone maps: per-file min/max/null stats recorded in the
  * graft metadata at append time (from the parquet footers) and used to
  * drop whole files before the scan is planned — the reference's
  * stripe skip list (`cstore_reader.c:744-806`) at file granularity. */
class FileZoneMapSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("d", DateType)))

  private def mkTable(prefix: String): GraftTable = {
    import spark.implicits._
    val loc = tmpDir(prefix) + "/tbl"
    val t = GraftTable.create(spark, loc, schema)
    // three appends = three files with disjoint id ranges
    for (base <- Seq(0, 1000, 2000)) {
      t.append((base until base + 100)
        .map(i => (i, s"n$i", java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i / 10))))
        .toDF("id", "name", "d").coalesce(1))
    }
    t
  }

  test("pruning drops refuted files, keeps possible ones") {
    val t = mkTable("zm-prune")
    assert(t.committedFiles.size === 3)
    // only the middle file can contain 1000 <= id < 1100
    assert(t.prunedFiles(Seq(And(GreaterThanOrEqual("id", 1000),
      LessThan("id", 1100)))).size === 1)
    // equality outside every range prunes everything
    assert(t.prunedFiles(Seq(EqualTo("id", 5000))).isEmpty)
    // strings prune too (binary/ASCII order)
    assert(t.prunedFiles(Seq(GreaterThanOrEqual("name", "n2000"))).size < 3)
    // dates: epoch-day domain conversion
    assert(t.prunedFiles(Seq(LessThan("d",
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(5))))).size === 1)
    // OR is refuted only when both sides are; unknown columns never refute
    assert(t.prunedFiles(Seq(Or(EqualTo("id", 5000), EqualTo("id", 1)))).size === 1)
    assert(t.prunedFiles(Seq(EqualTo("nosuch", 1))).size === 3)
    // no nulls anywhere: IS NULL is refutable, IS NOT NULL is not
    assert(t.prunedFiles(Seq(IsNull("id"))).isEmpty)
    assert(t.prunedFiles(Seq(IsNotNull("id"))).size === 3)
    // prefix refutation: names are n0..n99 / n1000..n1099 / n2000..n2099.
    // 'n20%' can hit files 1 (its "n20") and 3 (n20xx) but never file 2,
    // whose whole range sorts below the prefix; 'z%' hits nothing
    assert(t.prunedFiles(Seq(StringStartsWith("name", "n20"))).size === 2)
    // file 1's range [n0, n99] lexicographically straddles "n2000" even
    // though no value there has the prefix — kept, conservatively
    assert(t.prunedFiles(Seq(StringStartsWith("name", "n2000"))).size === 2)
    assert(t.prunedFiles(Seq(StringStartsWith("name", "z"))).isEmpty)
    assert(t.prunedFiles(Seq(StringStartsWith("name", "n"))).size === 3)
    GraftTable.drop(t.location)
  }

  test("an empty IN refutes every file: readPruned keeps none and returns the table schema") {
    val t = mkTable("zm-empty-in")
    assert(t.prunedFiles(Seq(In("id", Array.empty[Any]))).isEmpty)
    // a non-empty list keeps exactly the files its values can hit
    assert(t.prunedFiles(Seq(In("id", Array[Any](5, 1005)))).size === 2)
    val df = t.readPruned(Seq(In("id", Array.empty[Any])))
    assert(df.schema === t.readSchema())
    assert(df.collect().isEmpty)
    GraftTable.drop(t.location)
  }

  test("NaN discipline: NaN-carrying files never refute; NaN-free files refute NaN probes") {
    import spark.implicits._
    // Spark SQL orders NaN ABOVE every value (x > 100.0 is TRUE for a
    // NaN row, NaN = NaN is TRUE), so bounds-based refutation is only
    // sound if a NaN-carrying file's stats keep it alive for ANY range
    // or NaN probe. Today that holds because parquet's double stats
    // make NaN the max (or omit stats); this test pins the contract
    // against a parquet version drift.
    def mk(prefix: String, vals: Seq[Double]): GraftTable = {
      val loc = tmpDir(prefix) + "/t"
      val t = GraftTable.create(spark, loc, Seq(1.0).toDF("x").schema)
      t.append(vals.toDF("x").coalesce(1))
      t
    }
    val clean = mk("nan-clean", Seq(1.0, 2.0, 3.0))
    assert(clean.prunedFiles(Seq(EqualTo("x", Double.NaN))).isEmpty,
      "a NaN-free file's bounds refute a NaN equality probe")
    assert(clean.prunedFiles(Seq(GreaterThan("x", 100.0))).isEmpty)
    val mixed = mk("nan-mixed", Seq(1.0, 2.0, Double.NaN, 3.0))
    assert(mixed.prunedFiles(Seq(GreaterThan("x", 100.0))).size === 1,
      "a NaN row satisfies x > 100 under Spark ordering - the file must survive")
    assert(mixed.prunedFiles(Seq(EqualTo("x", Double.NaN))).size === 1)
    assert(mixed.prunedFiles(Seq(LessThan("x", 0.0))).size === 1)
    // and the semantics the pruning protects: the engine returns the
    // NaN row for both probe shapes, and a NaN delete removes exactly it
    val df = spark.read.format("graft").load(mixed.location)
    assert(df.filter(col("x") > 100.0).count() === 1)
    assert(df.filter(col("x") === lit(Double.NaN)).count() === 1)
    assert(mixed.delete(Seq(EqualTo("x", Double.NaN))) === 1L)
    assert(GraftTable.open(spark, mixed.location).read().count() === 3)
    GraftTable.drop(clean.location)
    GraftTable.drop(mixed.location)
  }

  test("DSv2 scan plans only the surviving files under a pushed filter") {
    val t = mkTable("zm-dsv2")
    val df = spark.read.format("graft").load(t.location)
    def partitionsFor(filtered: org.apache.spark.sql.DataFrame): Int =
      filtered.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.inputRDD.getNumPartitions
      }.getOrElse(fail("no BatchScanExec in plan"))
    val all = partitionsFor(df.filter(col("id") >= 0))
    val pruned = partitionsFor(df.filter(col("id") === 1500))
    assert(pruned < all, s"zone maps should shrink the planned scan ($pruned vs $all)")
    // and correctness is untouched
    assert(df.filter(col("id") === 1050).count() === 1)
    assert(df.filter(col("id") >= 1000 && col("id") < 1100).count() === 100)
    assert(df.filter(col("id") === 5000).count() === 0)
    GraftTable.drop(t.location)
  }

  test("timestamp and decimal columns file-prune (the q07/e1 date-range shape)") {
    import spark.implicits._
    val loc = tmpDir("zm-tsdec") + "/tbl"
    val t = GraftTable.create(spark, loc,
      StructType(Seq(
        StructField("id", IntegerType),
        StructField("ts", TimestampType),
        StructField("amt", DecimalType(12, 2)),
        StructField("big", DecimalType(38, 18)))))
    // three appends: January, February, March 2024 — disjoint ts + amt ranges
    for (m <- Seq(1, 2, 3)) {
      t.append((0 until 50).map { i =>
        (m * 100 + i,
          java.sql.Timestamp.valueOf(f"2024-$m%02d-10 08:00:${i % 60}%02d"),
          new java.math.BigDecimal(s"${m * 1000 + i}.25"),
          new java.math.BigDecimal(s"$m.000000000000000001"))
      }.toDF("id", "ts", "amt", "big").coalesce(1))
    }
    // timestamp range refutes non-overlapping files
    val feb = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val mar = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    assert(t.prunedFiles(Seq(And(GreaterThanOrEqual("ts", feb),
      LessThan("ts", mar)))).size === 1)
    assert(t.prunedFiles(Seq(LessThan("ts",
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))).isEmpty)
    // decimal equality + range in the unscaled domain (int-backed and FLBA)
    assert(t.prunedFiles(Seq(EqualTo("amt", new java.math.BigDecimal("2010.25")))).size === 1)
    assert(t.prunedFiles(Seq(GreaterThan("amt", new java.math.BigDecimal("9999.99")))).isEmpty)
    assert(t.prunedFiles(Seq(EqualTo("big", new java.math.BigDecimal("2.000000000000000001")))).size === 1)
    // DSv2: a pushed timestamp-range predicate shrinks the planned scan
    val df = spark.read.format("graft").load(loc)
    def partitionsFor(filtered: org.apache.spark.sql.DataFrame): Int =
      filtered.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.getOrElse(fail("no BatchScanExec in plan"))
    val all = partitionsFor(df.filter(col("id") >= 0))
    val febOnly = partitionsFor(df.filter(col("ts") >= lit(feb) && col("ts") < lit(mar)))
    assert(febOnly < all, s"ts zone maps should shrink the planned scan ($febOnly vs $all)")
    assert(df.filter(col("ts") >= lit(feb) && col("ts") < lit(mar)).count() === 50L)
    // values read back exactly (micros writer path changes nothing)
    assert(df.filter(col("id") === 110).select("ts").head().getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2024-01-10 08:00:10"))
    GraftTable.drop(loc)
  }

  test("all-null leading row groups do not poison the file zone map") {
    import spark.implicits._
    val loc = tmpDir("zm-allnull") + "/tbl"
    val t = GraftTable.create(spark, loc,
      StructType(Seq(StructField("id", IntegerType),
        StructField("v", LongType, nullable = true))),
      // sort_by(v) clusters the nulls first; stripeRowCount=1000 gives a
      // 64KB row-group target so this file holds many row groups, the
      // leading ones all-null in v — the exact layout where merging only
      // stat-bearing blocks would record nulls=0 for the whole file.
      GraftTableOptions(stripeRowCount = 1000L, blockRowCount = 1000L, sortBy = Seq("v")))
    val rng = new scala.util.Random(7)
    val rows = (0 until 200000).map { i =>
      (rng.nextInt(), if (i % 2 == 0) None else Some(1000L + rng.nextInt(1000000)))
    }
    t.append(rows.toDF("id", "v").coalesce(1))
    // precondition: the layout really has >1 row group and an all-null one
    val file = t.committedFiles.head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf()))
    val blocks = try reader.getFooter.getBlocks.size finally reader.close()
    assert(blocks > 1, s"expected a multi-row-group file, got $blocks")
    // IS NULL must keep the file: it holds 100k nulls
    assert(t.prunedFiles(Seq(IsNull("v"))).size === 1)
    val df = spark.read.format("graft").load(loc)
    assert(df.filter(col("v").isNull).count() === 100000L)
    // and the valued blocks' min/max still prune genuinely refuted ranges
    assert(t.prunedFiles(Seq(LessThan("v", 0L))).isEmpty)
    assert(t.prunedFiles(Seq(GreaterThanOrEqual("v", 1000L))).size === 1)
    GraftTable.drop(loc)
  }

  test("a column with omitted chunk stats is dropped from the zone map, never pruned") {
    import spark.implicits._
    val loc = tmpDir("zm-nostats") + "/tbl"
    val t = GraftTable.create(spark, loc,
      StructType(Seq(StructField("id", IntegerType), StructField("s", StringType))))
    // parquet-mr omits chunk min/max when min+max exceed 4KB: 5KB values
    // leave the column stat-less while ints keep theirs
    val big = "x" * 5000
    t.append((0 until 50).map(i => (i, big + i)).toDF("id", "s").coalesce(1))
    assert(t.prunedFiles(Seq(EqualTo("s", "zzz"))).size === 1,
      "stat-less column must never refute")
    assert(t.prunedFiles(Seq(EqualTo("id", 9999))).isEmpty,
      "other columns keep their stats")
    GraftTable.drop(loc)
  }

  test("collated refutation: witness bounds refute with the collation comparator; a missing witness key never refutes") {
    // Unit-level soundness triad for the collation witness machinery:
    // (1) binary bounds NEVER refute a declared-collation column, even
    // when present; (2) witness bounds refute with the collation's own
    // comparator; (3) a stats map without the (collation, version)
    // witness key — a pre-feature file or an ICU-version drift — is
    // conservatively kept.
    val daType = org.apache.spark.sql.types.DataType
      .fromDDL("s STRING COLLATE da").asInstanceOf[StructType]
    val schema = daType
    val st = schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StringType]
    val wKey = GraftTable.collStatKey("s", st)
    // file holding 'B0'..'B49': binary bounds == collation bounds here,
    // but only the WITNESS entry may be consulted
    val binaryOnly = Map("s" -> GraftTable.ColFileStats("B0", "B49", 0L, 50L))
    val withWitness = binaryOnly +
      (wKey -> GraftTable.ColFileStats("B0", "B49", -1L, 50L))
    val gtZ = GreaterThan("s", "Z")
    assert(!GraftTable.refutes(schema, binaryOnly, gtZ),
      "no witness entry -> never refute (pre-feature / version drift)")
    assert(GraftTable.refutes(schema, withWitness, gtZ),
      "witness bounds prove max < 'Z' under da")
    // Danish AA ≡ Å sorts after Z: a witness file of 'AA…' values must
    // NOT be refuted for > 'Z' even though binary order says otherwise
    val aaWitness = Map(
      "s" -> GraftTable.ColFileStats("AA0", "AA49", 0L, 50L),
      wKey -> GraftTable.ColFileStats("AA0", "AA49", -1L, 50L))
    assert(!GraftTable.refutes(schema, aaWitness, gtZ),
      "Å-family witnesses sort after Z under da — keeping the file is the point")
    // equality probes: 'zzz' < å-family min under da -> refuted
    assert(GraftTable.refutes(schema, aaWitness, EqualTo("s", "zzz")))
    // a mangled version key (ICU drift) falls back to keep
    val drifted = Map(
      "s" -> GraftTable.ColFileStats("B0", "B49", 0L, 50L),
      (wKey + ".drift") -> GraftTable.ColFileStats("B0", "B49", -1L, 50L))
    assert(!GraftTable.refutes(schema, drifted, gtZ))
  }

  test("a fully-null column refutes comparisons but not IS NULL") {
    import spark.implicits._
    val loc = tmpDir("zm-fullnull") + "/tbl"
    val t = GraftTable.create(spark, loc,
      StructType(Seq(StructField("id", IntegerType),
        StructField("v", LongType, nullable = true))))
    t.append((0 until 100).map(i => (i, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "v").coalesce(1))
    // no comparison can be true against an all-null column
    assert(t.prunedFiles(Seq(EqualTo("v", 1L))).isEmpty)
    assert(t.prunedFiles(Seq(GreaterThan("v", 0L))).isEmpty)
    // but the nulls themselves are there
    assert(t.prunedFiles(Seq(IsNull("v"))).size === 1)
    assert(t.prunedFiles(Seq(IsNotNull("v"))).isEmpty)
    val df = spark.read.format("graft").load(loc)
    assert(df.filter(col("v").isNull).count() === 100L)
    GraftTable.drop(loc)
  }

  test("zone maps survive metadata re-open and clear on truncate") {
    val t = mkTable("zm-reopen")
    val reopened = GraftTable.open(spark, t.location)
    assert(reopened.prunedFiles(Seq(EqualTo("id", 5000))).isEmpty)
    reopened.truncate()
    assert(reopened.prunedFiles(Seq(EqualTo("id", 5000))).isEmpty) // no files at all
    import spark.implicits._
    reopened.append(Seq((1, "a", java.sql.Date.valueOf("2024-01-01")))
      .toDF("id", "name", "d"))
    assert(reopened.prunedFiles(Seq(EqualTo("id", 1))).size === 1)
    GraftTable.drop(t.location)
  }
}
