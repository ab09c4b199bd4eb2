package graft

import java.nio.file.{Files, Path, Paths}

/** Measures the reference's published compression claims (BASELINE.md
  * rows 1–3, `README.md:21-46`) against graft tables on the round's
  * data: per table, raw uncompressed CSV bytes (the archival-data
  * proxy for the reference's 6–10× pglz claim) vs graft table data
  * bytes at compression none / snappy / zstd, plus the driver-written
  * input parquet for context. One JSON line per table; SCALE notes
  * quote the resulting ratio table.
  *
  * Run: SPARK_GRAFT_SF_DIR=… runMain graft.CompressionBench [tables…]
  */
object CompressionBench {

  private def treeBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
    finally walk.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tables = if (args.nonEmpty) args.toSeq else Seq("lineitem", "documents")
    val spark = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    tables.foreach { table =>
      val raw = Tables.load(spark, sfDir, table)
      // array/binary columns don't CSV-serialize — render them as JSON
      // text for the raw-bytes proxy (a printable form that if anything
      // UNDERSTATES the raw footprint of the typed originals)
      val df = raw.select(raw.schema.fields.map { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               org.apache.spark.sql.types.BinaryType =>
            org.apache.spark.sql.functions.to_json(
              org.apache.spark.sql.functions.struct(raw(f.name))).as(f.name)
          case _ => raw(f.name)
        }
      }.toIndexedSeq: _*)
      val work = Files.createTempDirectory(s"graft_cmp_$table")
      try {
      // 1) raw CSV, uncompressed — the "uncompressed archival data" side
      // of the reference's ratio
      val csvDir = work.resolve("csv")
      df.write.option("compression", "none").option("header", "false")
        .csv(csvDir.toString)
      val csvBytes = treeBytes(csvDir)
      // 2) graft tables per codec
      val codecBytes = Seq("none", "snappy", "zstd").map { codec =>
        val loc = work.resolve(s"graft_$codec").toString + "/t"
        val t = graft.storage.GraftTable.create(spark, loc, df.schema,
          graft.storage.GraftTableOptions(compression = codec))
        t.append(df)
        val b = treeBytes(Paths.get(loc, "data"))
        codec -> b
      }
      // 3) the driver's input parquet, for context
      val inputBytes = treeBytes(Paths.get(s"$sfDir/$table.parquet"))
      val ratios = codecBytes.map { case (c, b) =>
        f""""$c":{"bytes":$b,"ratio_vs_csv":${csvBytes.toDouble / b}%.2f}"""
      }.mkString(",")
      println(s"""{"table":"$table","sf":"$sfDir","csv_bytes":$csvBytes,""" +
        s""""input_parquet_bytes":$inputBytes,$ratios}""")
      } finally {
        // the working tree holds an uncompressed CSV dump + three full
        // table copies — delete it EVEN ON FAILURE, or repeated runs
        // fill the disk they are measuring on
        val walk = Files.walk(work)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    spark.stop()
  }
}
