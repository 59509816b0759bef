package graft.util

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by every main and the test suites. */
object Sessions {

  /** A `local[cores]` session: `cores` shuffle partitions, UTC session time,
    * no UI, scratch on [[FastLocalDir]], log level WARN. `conf` pairs are set
    * on top.
    */
  def local(cores: Int, app: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", FastLocalDir.sparkLocalDir)
    val s = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
