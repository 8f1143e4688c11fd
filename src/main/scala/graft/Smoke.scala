package graft

/** Replicates the driver's t1 smoke: run SparkEntry.entry and assert
  * rows > 0. Usage: sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(20, truncate = false)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
