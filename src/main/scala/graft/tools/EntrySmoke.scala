package graft.tools
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local(4, "graft-entry-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(3).foreach(r => println(s"[smoke] $r"))
    spark.stop()
  }
}
