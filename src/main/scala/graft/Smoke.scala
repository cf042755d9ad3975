package graft

/** Minimal smoke main mirroring the driver's t1 check: run
  * SparkEntry.entry and assert it returns rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE entry rows=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
