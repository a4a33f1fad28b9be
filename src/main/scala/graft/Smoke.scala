package graft

/** Minimal smoke runner mirroring the driver's t1 check: `entry` must
  * return rows > 0 on sf0.001. Also prints the physical plan so scan
  * pushdown / broadcast choices are visible during development.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val rows = df.collect()
    println(s"entry rows=${rows.length}")
    rows.take(10).foreach(println)
    spark.stop()
  }
}
