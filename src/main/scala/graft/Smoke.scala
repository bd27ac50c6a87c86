package graft

/** Replicates the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("4")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
