package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3, false)
    spark.stop()
  }
}
