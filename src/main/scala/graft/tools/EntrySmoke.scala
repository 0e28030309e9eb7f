package graft.tools

/** Mirrors the driver's smoke check: SparkEntry.entry(spark) rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build("local[4]", "graft-entry-smoke", 4)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
