package graft.storage

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** A table with a timestamp column writes TIMESTAMP_MICROS (the type its
  * zone maps and timestamp pushdown need). A session that already writes
  * that type — every session `Tables.session` builds — appends without
  * the process-global `writeConfLock`; a session left at INT96 still has
  * its setting flipped for the write and restored after. */
class WriteConfLockSpec extends SparkSpec {

  private val key = GraftTable.OutputTimestampType
  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("ts", TimestampType)))

  /** Append one month of rows per month to a fresh table of `s`. */
  private def appendMonths(s: SparkSession, prefix: String, months: Seq[Int]): GraftTable = {
    import s.implicits._
    val t = GraftTable.create(s, tmpDir(prefix) + "/tbl", schema)
    for (m <- months)
      t.append((0 until 20).map(i =>
        (m * 100 + i, java.sql.Timestamp.valueOf(f"2024-$m%02d-10 08:00:$i%02d")))
        .toDF("id", "ts").coalesce(1))
    t
  }

  private def februaryFiles(t: GraftTable): Int =
    t.prunedFiles(Seq(And(
      GreaterThanOrEqual("ts", java.sql.Timestamp.valueOf("2024-02-01 00:00:00")),
      LessThan("ts", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))))).size

  test("a TIMESTAMP_MICROS session appends while another thread holds writeConfLock") {
    assert(spark.conf.get(key) === "TIMESTAMP_MICROS")
    val t = GraftTable.writeConfLock.synchronized {
      Await.result(Future(appendMonths(spark, "ots-micros", Seq(1, 2))), 120.seconds)
    }
    assert(t.rowCountFromMetadata() === 40L)
    assert(februaryFiles(t) === 1, "the timestamp zone map refutes January's file")
    assert(spark.conf.get(key) === "TIMESTAMP_MICROS")
  }

  test("an INT96 session's append still writes micros zone maps and restores INT96") {
    val s = spark.newSession()
    s.conf.set(key, "INT96")
    val t = appendMonths(s, "ots-int96", Seq(1, 2, 3))
    assert(s.conf.get(key) === "INT96", "the session's own setting is restored")
    assert(t.rowCountFromMetadata() === 60L)
    assert(februaryFiles(t) === 1, "the timestamp zone map refutes the other months")
    assert(spark.conf.get(key) === "TIMESTAMP_MICROS", "no other session is touched")
  }
}
