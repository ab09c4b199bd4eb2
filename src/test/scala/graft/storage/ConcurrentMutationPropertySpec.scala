package graft.storage

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Randomized CONCURRENT-INTERLEAVING model check of the mutation
  * machinery (the sequential twin is [[HistoryModelPropertySpec]]):
  * several writers, each posing as a separate process on a lock-less
  * `mock:` filesystem (no JVM monitor, no OS lock — commit safety must
  * come entirely from the CAS version claim + rebase), interleave
  * append, merge-on-read and copy-on-write delete and update, MERGE,
  * and the row-preserving rewrites (small-file and full compaction,
  * vector materialization) over the same table. Writers own DISJOINT key ranges, so
  * every interleaving of their committed operations linearizes to the
  * same per-writer final state: rows lost by a clobbered rebase, rows
  * resurrected by a vector dropped in a rebase, or a double-applied
  * rewrite all surface as a model mismatch. Conflicting commits are
  * allowed to ABORT (the retryable contract) — the client-side retry
  * loop here is exactly the production shape — but an abort must leave
  * no trace.
  */
class ConcurrentMutationPropertySpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockFs].getName)
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("v", LongType)))

  /** Run `body` until it commits, retrying the documented retryable
    * aborts (concurrent compaction/mutation guards). Anything else —
    * or retry exhaustion — fails the test. */
  private def retrying[T](what: String)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Exception if attempt < 40 &&
            e.getMessage != null && e.getMessage.contains("retry") =>
          attempt += 1
          Thread.sleep(10L + attempt)
      }
    }
    throw new IllegalStateException(s"$what: unreachable")
  }

  private def runSeed(seed: Long): Unit = {
    import spark.implicits._
    val loc = "mock:" + tmpDir(s"conc-mut-$seed") + "/t"
    GraftTable.create(spark, loc, schema)
    val writers = 4
    val opsEach = 7
    val pool = Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until writers).map { w =>
        Future {
          GraftTable.simulateSeparateProcess.set(true)
          try {
            val rnd = new scala.util.Random(seed * 31 + w)
            val t = GraftTable.open(spark, loc)
            var model = Map[Int, Long]() // this writer's owned rows
            var nextKey = w * 100000 // disjoint ownership
            def sample(n: Int): Seq[Int] =
              rnd.shuffle(model.keys.toVector.sorted).take(n)
            for (_ <- 1 to opsEach) {
              def owned(ks: Seq[Int]) = Seq(In("id", ks.map(Integer.valueOf).toArray[Any]))
              rnd.nextInt(10) match {
                case 0 | 1 => // append a fresh owned batch
                  val rows = (0 until 4 + rnd.nextInt(6)).map { _ =>
                    nextKey += 1; (nextKey, rnd.nextLong())
                  }
                  retrying("append")(t.append(rows.toDF("id", "v").coalesce(1)))
                  model ++= rows
                case 2 => // merge-on-read delete of owned keys
                  val ks = sample(1 + rnd.nextInt(3))
                  if (ks.nonEmpty) {
                    val n = retrying("deleteMor")(t.deleteMor(owned(ks)))
                    assert(n === ks.size.toLong,
                      s"seed=$seed w=$w MOR delete touched foreign rows")
                    model --= ks
                  }
                case 3 => // merge-on-read update (+1000) of owned keys
                  val ks = sample(1 + rnd.nextInt(3))
                  if (ks.nonEmpty) {
                    val n = retrying("updateMor")(
                      t.updateMor(Map("v" -> (col("v") + lit(1000L))), owned(ks)))
                    assert(n === ks.size.toLong,
                      s"seed=$seed w=$w MOR update touched foreign rows")
                    model = model ++ ks.map(k => k -> (model(k) + 1000L))
                  }
                case 4 => // row-preserving maintenance racing the mutations
                  try t.compactSmall()
                  catch { case _: Exception => () } // abort allowed, trace not
                case 5 => // copy-on-write delete of owned keys
                  val ks = sample(1 + rnd.nextInt(3))
                  if (ks.nonEmpty) {
                    val n = retrying("delete")(t.delete(owned(ks)))
                    assert(n === ks.size.toLong,
                      s"seed=$seed w=$w COW delete touched foreign rows")
                    model --= ks
                  }
                case 6 => // copy-on-write update (+1000) of owned keys
                  val ks = sample(1 + rnd.nextInt(3))
                  if (ks.nonEmpty) {
                    val n = retrying("update")(
                      t.update(Map("v" -> (col("v") + lit(1000L))), owned(ks)))
                    assert(n === ks.size.toLong,
                      s"seed=$seed w=$w COW update touched foreign rows")
                    model = model ++ ks.map(k => k -> (model(k) + 1000L))
                  }
                case 7 => // MERGE: upsert owned keys, insert fresh ones
                  val hit = sample(rnd.nextInt(3))
                  val fresh = (0 until 1 + rnd.nextInt(2)).map { _ => nextKey += 1; nextKey }
                  val rows = (hit ++ fresh).map(k => (k, rnd.nextLong()))
                  val (u, i) = retrying("merge")(
                    t.merge(rows.toDF("id", "v").coalesce(1), Seq("id")))
                  assert((u, i) === ((hit.size.toLong, fresh.size.toLong)),
                    s"seed=$seed w=$w MERGE matched foreign rows")
                  model ++= rows
                case 8 =>
                  try t.materializeVectors()
                  catch { case _: Exception => () }
                case 9 =>
                  try t.compact()
                  catch { case _: Exception => () }
              }
            }
            (w, model)
          } finally GraftTable.simulateSeparateProcess.set(false)
        }
      }
      val models = Await.result(Future.sequence(futures), 600.seconds).toMap

      val t = GraftTable.open(spark, loc)
      val got = t.read().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // linearizability over disjoint ownership: the final table is the
      // UNION of the writers' models — nothing lost, nothing
      // resurrected, nothing double-applied, no foreign rows
      val want = models.values.reduce(_ ++ _)
      assert(got === want,
        s"seed=$seed: lost=${(want.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- want.keySet).take(5)} " +
          s"changed=${want.keysIterator.filter(k => got.get(k).exists(_ != want(k))).take(5).toList}")
      assert(t.rowCountFromMetadata() === want.size.toLong,
        s"seed=$seed metadata row count")
      // the storage-level audit agrees: footers, vectors, and counts
      assert(t.verify() === Seq.empty, s"seed=$seed integrity audit")
      // the version log is contiguous — every rebase composed, none
      // clobbered a predecessor's claim
      val vs = t.history().map(_._1)
      assert(vs === (0L to vs.last), s"seed=$seed version log has holes")
    } finally pool.shutdown()
    GraftTable.drop(loc)
  }

  test("unserialized writers interleaving MOR mutations linearize: no loss, no resurrection (seed 1)") {
    runSeed(1L)
  }

  test("unserialized writers interleaving MOR mutations linearize: no loss, no resurrection (seed 2)") {
    runSeed(2L)
  }

  test("concurrent schema-evolving appends with distinct novel columns both land") {
    import spark.implicits._
    val loc = "mock:" + tmpDir("conc-evo") + "/t"
    GraftTable.create(spark, loc, schema)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writers = Seq("alpha", "beta").zipWithIndex.map { case (colName, w) =>
        Future {
          GraftTable.simulateSeparateProcess.set(true)
          try {
            val t = GraftTable.open(spark, loc)
            // each writer evolves a DIFFERENT column; the loser of the
            // CAS race aborts on the concurrent-schema guard and
            // retries against the evolved base — both must land
            for (b <- 0 until 3) retrying(s"evolve-$colName")(
              t.appendMergeSchema(
                Seq((w * 1000 + b, (w * 1000 + b).toLong, s"$colName-$b"))
                  .toDF("id", "v", colName).coalesce(1)))
          } finally GraftTable.simulateSeparateProcess.set(false)
        }
      }
      Await.result(Future.sequence(writers), 600.seconds)
    } finally pool.shutdown()
    val t = GraftTable.open(spark, loc)
    val names = t.read().schema.fieldNames.toSeq
    assert(names.take(2) === Seq("id", "v"))
    assert(names.toSet === Set("id", "v", "alpha", "beta"),
      s"both evolutions must survive the race, got $names")
    val rows = t.read().collect()
    assert(rows.length === 6)
    // every row carries ITS writer's column value and NULL for the other
    rows.foreach { r =>
      val id = r.getInt(0)
      val (own, other) =
        if (id < 1000) ("alpha", "beta") else ("beta", "alpha")
      assert(r.getAs[String](own) != null, s"row $id lost its own value")
      assert(r.getAs[String](other) == null, s"row $id fabricated a foreign value")
    }
    assert(t.verify() === Seq.empty)
    GraftTable.drop(loc)
  }

  test("restore racing appends: every committed state stays internally consistent") {
    import spark.implicits._
    val loc = "mock:" + tmpDir("conc-restore") + "/t"
    GraftTable.create(spark, loc, schema)
    val t0 = GraftTable.open(spark, loc)
    t0.append((1 to 20).map(i => (i, i.toLong)).toDF("id", "v").coalesce(1))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val appender = Future {
        GraftTable.simulateSeparateProcess.set(true)
        try {
          val t = GraftTable.open(spark, loc)
          for (b <- 1 to 6) retrying("append")(
            t.append((b * 1000 until b * 1000 + 10)
              .map(i => (i, i.toLong)).toDF("id", "v").coalesce(1)))
        } finally GraftTable.simulateSeparateProcess.set(false)
      }
      val restorer = Future {
        GraftTable.simulateSeparateProcess.set(true)
        try {
          val t = GraftTable.open(spark, loc)
          val rnd = new scala.util.Random(7)
          for (_ <- 1 to 4) {
            Thread.sleep(50)
            try {
              val vs = t.history().map(_._1)
              t.restore(vs(rnd.nextInt(vs.size)))
            } catch { case _: Exception => () } // conflicting restore may abort
          }
        } finally GraftTable.simulateSeparateProcess.set(false)
      }
      Await.result(Future.sequence(Seq(appender, restorer)), 600.seconds)
    } finally pool.shutdown()
    val t = GraftTable.open(spark, loc)
    val rows = t.read().collect().map(r => r.getInt(0) -> r.getLong(1))
    // whatever interleaving happened: no duplicate keys, no corrupted
    // values (v == id for every row ever written), metadata count and
    // storage audit consistent, and every retained snapshot still reads
    // at its recorded row count
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate keys")
    assert(rows.forall { case (k, v) => v == k.toLong }, "corrupted values")
    assert(t.rowCountFromMetadata() === rows.length.toLong)
    assert(t.verify() === Seq.empty)
    t.history().foreach { case (v, rc, _) =>
      assert(t.readVersion(v).count() === rc, s"snapshot v$v row count")
    }
    GraftTable.drop(loc)
  }
}
