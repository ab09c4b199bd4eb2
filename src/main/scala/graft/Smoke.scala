package graft

/** Replicates the driver's t1 smoke: SparkEntry.entry rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Tables.session(8)
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n (require > 0)")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
