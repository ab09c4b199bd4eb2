package graft

/** Second-JVM writer for the cross-process concurrency spec
  * (TwoProcessRaceSpec): the CAS commit protocol's correctness story is
  * "two UNSERIALIZED writers never lose a commit", proven in-JVM by the
  * mock-FS property tests — this main makes the OS half of the claim
  * testable for real: a genuinely separate process (its own JVM locks,
  * its own page cache view) appending through the same `file:` table
  * while the spec's session mutates it concurrently.
  *
  * Args: tableLocation workerId nAppends rowsPerAppend.
  * Prints `RACE_DONE <workerId> <rowsAppended>` and exits 0 on success;
  * any commit failure exits nonzero (the spec asserts the exit code).
  */
object RaceWorker {
  def main(args: Array[String]): Unit = {
    val Array(loc, workerIdS, nAppendsS, rowsS) = args.take(4)
    val (workerId, nAppends, rows) = (workerIdS.toInt, nAppendsS.toInt, rowsS.toInt)
    val spark = Tables.session(2)
    import spark.implicits._
    try {
      val t = graft.storage.GraftTable.open(spark, loc)
      for (i <- 0 until nAppends) {
        val base = i * rows
        t.append((base until base + rows).map(j => (workerId, j)).toDF("w", "i")
          .coalesce(1))
      }
      // visible on stdout for the spec; the exit code is the contract
      println(s"RACE_DONE $workerId ${nAppends * rows}")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"RACE_FAIL $workerId: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
  }
}
