package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The `CALL g.system.*` surface, pinned by a golden file:
  * `src/test/resources/graft/procedure-surface.txt` holds, for every
  * name in [[GraftProcedures.Names]] (in order) and every arity the name
  * accepts, the bound parameters as (name, type, default), the
  * descriptions, the refusal of a missing subject and of a path-escaping
  * name, and — for each table-maintenance procedure run on a small
  * table — the result schema (names, types, nullability) with its
  * `table`/`metric` column values. The golden was written by the
  * if-chain implementation that preceded the procedure table; a change
  * to the surface must leave this spec passing unchanged. On a mismatch
  * the current surface is written to `target/procedure-surface.actual.txt`
  * for a diff. */
class ProcedureSurfaceSpec extends SparkSpec {

  private lazy val warehouse: String = tmpDir("graft-surface-warehouse")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gsurf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsurf.warehouse", warehouse)
  }

  private def proc(name: String) =
    GraftProcedures.load(Identifier.of(Array("system"), name),
      t => s"$warehouse/${t.replace('.', '/')}")

  private def fieldsOf(n: Int) =
    StructType((0 until n).map(i => StructField(s"a$i", StringType)))

  /** A placeholder argument of `t`; `names` supplies the string ones. */
  private def argOf(t: DataType, s: String): Any = t match {
    case StringType => UTF8String.fromString(s)
    case IntegerType => 1
    case DoubleType => 0.5
    case BooleanType => false
  }

  private def message(body: => Any): String =
    try { body; "ok" } catch { case e: Exception => e.getMessage }

  /** Bound parameters per accepted arity, descriptions and refusals. */
  private def signatures: Seq[String] = {
    val names = GraftProcedures.Names
    Seq(s"names\t${names.mkString(",")}") ++ names.flatMap { n =>
      val u = proc(n)
      val arities = (0 to 6).flatMap { k =>
        val ps = u.bind(fieldsOf(k)).parameters()
        val required = ps.count(_.defaultValue() == null)
        if (required <= k && k <= ps.length) Some(k -> ps) else None
      }
      val sigs = arities.map { case (k, ps) =>
        s"params $n $k\t" + ps.map { p =>
          val d = Option(p.defaultValue()).map(_.getSql).getOrElse("-")
          s"${p.name()}:${p.dataType().simpleString}:${p.mode()}:$d"
        }.mkString(" ")
      }
      // the fewest arguments the procedure accepts, defaults filled in
      // as Spark fills them; the subject (argument 0) is absent or
      // escapes the warehouse
      val ps = arities.head._2
      def refusal(subject: String): String = message {
        val row: InternalRow = new GenericInternalRow(ps.zipWithIndex.map {
          case (p, 0) => argOf(p.dataType(), subject)
          case (p, i) => argOf(p.dataType(), s"nosuch.arg$i")
        })
        u.bind(fieldsOf(ps.length)).call(row)
      }
      sigs ++ Seq(
        s"description $n\t${u.description()} | ${u.bind(fieldsOf(ps.length)).description()}",
        s"refusal $n missing\t${refusal("nosuch.subject")}",
        s"refusal $n escape\t${refusal("../escape")}")
    } ++ Seq(
      s"refusal unknown\t${message(proc("no_such_proc"))}",
      s"refusal namespace\t${message(GraftProcedures.load(
        Identifier.of(Array("other"), "compact"), identity))}")
  }

  /** Each table-maintenance procedure run through SQL on a small table:
    * its result schema and its `table`/`metric` columns. */
  private def maintenanceResults: Seq[String] = {
    spark.sql("CREATE TABLE gsurf.db.t (a INT, b STRING) USING graft " +
      "TBLPROPERTIES ('sort_by'='a')")
    for (i <- 0 until 4) spark.sql(s"INSERT INTO gsurf.db.t VALUES ($i, 'v$i')")
    val calls = Seq(
      "history" -> "'db.t'", "diff" -> "'db.t', 1, 3", "files" -> "'db.t'",
      "manifest" -> "'db.t'", "detail" -> "'db.t'", "verify" -> "'db.t'",
      "verify_deep" -> "'db.t'", "table_size" -> "'db.t'",
      "analyze" -> "'db.t'", "analyze_sample" -> "'db.t', 0.5",
      "clone" -> "'db.t', 'db.t_clone'", "restore" -> "'db.t', 2",
      "compact_overlapping" -> "'db.t'", "compact_small" -> "'db.t'",
      "compact" -> "'db.t'", "recluster" -> "'db.t', 'a', ''",
      "materialize_vectors" -> "'db.t'", "vacuum" -> "'db.t'",
      "expire_history_older_than" -> "'db.t', 1000",
      "expire_history" -> "'db.t', 2")
    calls.map { case (n, args) =>
      val df = spark.sql(s"CALL gsurf.system.$n($args)")
      val schema = df.schema.fields.map(f =>
        s"${f.name}:${f.dataType.simpleString}:${f.nullable}").mkString(" ")
      val labels = df.schema.fieldNames.filter(Set("table", "metric"))
      val keys = df.select(labels.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.mkString("/")).mkString(",")
      s"result $n\t$schema | $keys"
    }
  }

  test("every procedure's parameters, descriptions, refusals and maintenance result schemas match the golden") {
    val got = signatures ++ maintenanceResults
    val golden = Option(getClass.getResource("/graft/procedure-surface.txt"))
      .map(u => Files.readAllLines(Paths.get(u.toURI)).asScala.toSeq)
      .getOrElse(Seq.empty)
    if (got != golden) {
      Files.createDirectories(Paths.get("target"))
      Files.write(Paths.get("target/procedure-surface.actual.txt"), got.asJava)
    }
    assert(golden.nonEmpty, "missing src/test/resources/graft/procedure-surface.txt")
    assert(got.size === golden.size)
    got.zip(golden).foreach { case (g, w) => assert(g === w) }
  }
}
