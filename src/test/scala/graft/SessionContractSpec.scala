package graft

/** Every graft entry point and the test fixture build their session
  * through [[Tables.session]]: the one place the engine plugs into
  * Spark. Pins what that session carries, and that no second builder
  * grows back in `src/main`. */
class SessionContractSpec extends SparkSpec {

  test("the factory's session carries sessionConfs, UTC and the graft extensions") {
    val s = Tables.session(8)
    assert(s eq spark, "the fixture is the factory's session")
    Tables.sessionConfs.foreach { case (k, v) =>
      assert(s.conf.get(k) === v, s"session conf $k")
    }
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
    // a USING graft table resolves, and the extensions' optimizer rule
    // rewrites an aligned trunc() equality on it into a range
    val loc = tmpDir("session-contract") + "/t"
    s.sql(s"CREATE TABLE session_contract_t (d DATE, v INT) USING graft OPTIONS (path '$loc')")
    try {
      s.sql("INSERT INTO session_contract_t VALUES (DATE'2024-02-10', 1), (DATE'2024-03-10', 2)")
      val q = s.sql("SELECT v FROM session_contract_t WHERE trunc(d, 'MM') = DATE'2024-02-01'")
      assert(q.collect().map(_.getInt(0)).toSeq === Seq(1))
      val optimized = q.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!optimized.contains("trunc("), optimized)
    } finally s.sql("DROP TABLE session_contract_t")
  }

  test("src/main builds a SparkSession in exactly one place: Tables.session") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val walk = java.nio.file.Files.walk(root.toPath)
    val sites = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        "SparkSession.builder".r.findAllMatchIn(src).map(_ => root.toPath.relativize(p).toString)
      }.toList
    } finally walk.close()
    assert(sites === List("graft/Tables.scala"),
      "build sessions through Tables.session, not by hand")
  }
}
