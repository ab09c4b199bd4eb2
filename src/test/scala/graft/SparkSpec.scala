package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark session for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` with a session conf set, restoring the prior value. */
  def withConf(k: String, v: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Tables.session(8)
}
