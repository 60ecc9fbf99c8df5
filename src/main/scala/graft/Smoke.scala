package graft

/** Local smoke: run the flagship `SparkEntry.entry` (what the driver's t1
  * does) and print its row count + plan. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SessionRecipe.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
