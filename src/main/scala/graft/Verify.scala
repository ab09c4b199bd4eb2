package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.storage.MetaCodec
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the
    // optional filter dumps a subset for fast local iteration; the
    // driver always runs the full surface (two-arg form).
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Tables.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, fair = true)
    org.apache.spark.sql.graft.Bridge.declarePools(spark.sparkContext,
      SparkEntry.queries.keys)
    new java.io.File(outDir).mkdirs()
    // Queries are independent; run a few concurrently (same pattern as
    // Bench) so the correctness dump isn't serialized on small jobs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_CONCURRENCY", "10").toInt)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        // one FAIR pool per query — see Bench for why
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors.put(name, String.valueOf(e.getMessage))
          // A registered query that errors must still land in the
          // correctness artifact AS A FAILURE — omitting its key made
          // round 7's 9 broken queries read as a near-100% pass to any
          // consumer that didn't diff the key set. Write a sentinel
          // result (single `err` column) so the driver's oracle compare
          // records a schema/hash mismatch for it instead of dropping it.
          try {
            val s = spark
            import s.implicits._
            Seq(String.valueOf(e.getMessage)).toDF("err")
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case _: Throwable => () }
        }
      }
    }
    futures.foreach(f =>
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    // the subset filter applies here too, so a filtered dump +
    // check_oracle.py is a self-consistent fast local gate
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), MetaCodec.render(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }))
    // Sidecar for humans/tooling: which registered queries errored (the
    // sentinel parquets above make them count as failures either way).
    Files.writeString(Paths.get(s"$outDir/errors.json"), MetaCodec.render(
      scala.collection.immutable.TreeMap(errors.asScala.toSeq: _*)))
    spark.stop()
  }
}
