package graft

/** Driver-style smoke: SparkEntry.entry on sf0.001 must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.build("graft-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
