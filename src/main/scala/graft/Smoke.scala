package graft
/** t1-style smoke: run SparkEntry.entry and print its row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SessionDefaults.session("local[4]", 4)
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5)
    spark.stop()
  }
}
