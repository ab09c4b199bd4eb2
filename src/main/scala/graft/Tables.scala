package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loader for the driver-generated parquet test data (TESTDATA.md).
  *
  * The reference (cstore_fdw) binds a PostgreSQL foreign table to one
  * columnar data file (`/root/reference/cstore_fdw.c:956-979`); here a
  * table name binds to one parquet file/directory under the scale-factor
  * dir. Reads go through Spark's vectorized parquet reader, which supplies
  * the reference's storage value-adds natively: column projection
  * (`cstore_fdw.c:1841-1941`), min/max block skipping
  * (`cstore_reader.c:744-806`), and per-block compression
  * (`cstore_compression.c:63-106`).
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extra: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extra

  // DataFrame plans are immutable; cache per (session, dir, table) so
  // repeated loads skip file listing + schema inference (~50-100ms each
  // — material when a bench run touches 50+ queries).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, sfDir, name), { _ =>
      if (name == "events") loadEvents(spark, sfDir)
      else spark.read.parquet(s"$sfDir/$name.parquet")
    })

  /** Fan a CPU-dense pipeline head across the cluster (optimization
    * round 17, guide §2.5 input skew): the bench inputs are each ONE
    * single-row-group parquet file, so every scan is one task and any
    * expensive per-row stage fused above it (tokenize/shingle/hash/
    * minhash) runs SERIAL with the other cores idle — OPTIMIZATION_r17.md
    * measured d6's probe stage as one task burning 1.63 s CPU, 66 % of
    * its wall.
    * The exchange is hash-partitioned on a data column (deterministic
    * under task retry, unlike round-robin) and moves only the slim
    * pre-explosion rows. At 100 TB inputs arrive as many files/row
    * groups and the scan parallelizes on its own, so this exchange is
    * noise there — the partition count tracks `defaultParallelism`
    * (cluster width), not a local constant. Applied ONLY where a
    * measured CPU-dense stage sits on the scan; trivial scans keep
    * their single-task plan. */
  def fanned(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(key))

  /** Session settings every graft entry point needs at BUILD time —
    * library code must not flip session-wide semantics mid-query:
    * `nanosAsLong` lets the vectorized reader accept an events table
    * encoded as TIMESTAMP(NANOS) (one of the encodings [[loadEvents]]
    * handles), `outputTimestampType=TIMESTAMP_MICROS` makes parquet
    * accept timestamp filter pushdown and matches the graft table
    * writer. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // Codegen class cache (optimization round 18, guide §1.2 step 3 —
    // found empirically, sized from the engine, not the machine): Spark
    // caches whole-stage/expression codegen results in a STATIC cache of
    // `spark.sql.codegen.cache.maxEntries` = 100 classes, keyed by
    // generated source. This engine's suite is ~198 declared queries ×
    // several codegen units each (>1000 distinct sources), so the cache
    // thrashed completely and EVERY pass re-ran janino and re-warmed
    // fresh classes from the interpreter. Measured A/B on the full
    // sequential sweep (OPTIMIZATION_r18.md, steady-state pass): wall
    // 89.7 → 65.3 s, process-CPU 314 → 189 s, task-CPU 161 → 79 s. 4096 covers the
    // suite's working set with headroom; the entries are code strings +
    // class references (MBs, not GBs). Scale-neutral: any long-lived
    // serving process with a wide query surface wants its compiled
    // plans to stay compiled.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // Shuffle writer (optimization round 17, guide §2.1/§2.2): with
    // reduce-partition counts ≤ 200 Spark picks the bypass-merge writer,
    // which opens one stream+temp file PER REDUCE PARTITION per map task
    // — measured ~130 ms of task CPU per map task at 32 partitions on
    // this box (OPTIMIZATION_r17.md; ~4 ms/stream), INDEPENDENT of data size,
    // and a 195-query suite of small keyed shuffles pays it tens of
    // thousands of times. Forcing the serialized sort writer (the same
    // writer every >200-partition at-scale shuffle uses — production
    // shuffles never see the bypass path) cuts the floor to ~15 ms/task
    // (8×). Scale-faithful: this makes local small-partition shuffles
    // take the identical code path they would at the 100 TB design
    // point, rather than a local-only special case.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    // File-listing job threshold (optimization round 18, guide §6 small
    // files / §5 the driver): the Scala-API read paths hand
    // `spark.read.parquet` EXPLICIT manifest file lists, and Spark still
    // runs an InMemoryFileIndex over them — above 32 paths (the
    // default) it launches a DISTRIBUTED listing job (observed: a
    // 33-task, ~0.22 s job inside p3's store read-back for 33 local
    // stats that cost microseconds each). Raising the threshold keeps
    // listing driver-side up to 512 paths; beyond that the distributed
    // listing is genuinely right (object-store latency × thousands of
    // files). The production-shape scan (DSv2 GraftScan) never lists at
    // all — its file set and sizes come from the manifest — so this
    // only governs the utility read paths.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "512")

  /** The one way graft builds a session — the single point where the
    * engine plugs into Spark, as cstore_fdw plugs into PostgreSQL's
    * executor through its FDW handler: the graft extensions, a local
    * master of `cpus` cores with as many shuffle partitions, a UTC
    * session clock, no UI, [[sessionConfs]], and WARN logging. `fair`
    * selects the FAIR scheduler, which entry points that run queries
    * concurrently need so each query thread gets its own pool. */
  def session(cpus: Int, fair: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.sources.GraftExtensions())
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(sessionConfs)
    val s = (if (fair) b.config("spark.scheduler.mode", "FAIR") else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The events table's `ts` physical encoding is the data generator's
    * choice, not ours, and it has changed across regenerations — the
    * reference's reader likewise serves whatever the catalog declares
    * (`cstore_reader.c:1133-1165` is type-agnostic per column). Branch on
    * the READ schema and normalize every encoding to a microsecond
    * `TimestampType`:
    *
    *  - `LongType`: parquet TIMESTAMP(NANOS) read under the legacy
    *    `nanosAsLong` conf (see [[sessionConfs]]; without it the
    *    vectorized reader rejects the file outright). The division must
    *    be INTEGRAL (`DIV`): `col / 1000L` is double division, and epoch
    *    nanos (~1.7e18) exceed double's 53-bit mantissa, silently
    *    shifting timestamps by ±1 µs. Coarse windowed queries absorb
    *    that; exact per-event arithmetic (e4's attribution gap) does not.
    *  - `TIMESTAMP_NTZ`: parquet timestamp[us] with isAdjustedToUTC=false
    *    (the current generator output). The naive values mean UTC
    *    instants; graft entry points pin the session timezone to UTC, so
    *    the cast to TimestampType is value-preserving.
    *  - `TimestampType`: already the target type. */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tsMicros = raw.schema("ts").dataType match {
      case LongType          => timestamp_micros(expr("ts DIV 1000"))
      case TimestampNTZType  => col("ts").cast(TimestampType)
      case TimestampType     => col("ts")
      case other => throw new IllegalStateException(
        s"events.parquet: unsupported physical type for ts: $other " +
          "(expected TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
    raw.withColumn("ts", tsMicros)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Register every table as a temp view (idempotent). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
