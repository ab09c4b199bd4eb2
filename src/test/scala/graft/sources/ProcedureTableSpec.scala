package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The CALL surface is declared once, as rows of `GraftProcedures`'
  * procedure table: a scan of `src/main` finds one `LocalScan` (the
  * table's result helper) and no procedure-name comparison. */
class ProcedureTableSpec extends AnyFunSuite {

  test("src/main serves procedure results through one LocalScan and compares no procName") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val walk = Files.walk(root.toPath)
    val sites = try {
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        val rel = root.toPath.relativize(p).toString
        "new LocalScan".r.findAllMatchIn(src).map(_ => s"$rel: new LocalScan") ++
          "procName\\s*==".r.findAllMatchIn(src).map(_ => s"$rel: procName ==")
      }.toList
    } finally walk.close()
    assert(sites === List("graft/sources/GraftProcedures.scala: new LocalScan"),
      "declare procedures as rows of the GraftProcedures table")
  }
}
