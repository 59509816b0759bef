package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal Iceberg-style table emulation (no Iceberg jars ship in this
  * sandbox — verified against /opt/spark/jars): immutable snapshot data dirs
  * plus a JSON manifest per snapshot listing the exact data files and a
  * snapshot-summary property map, committed by temp-file + atomic rename.
  * Readers resolve a snapshot (latest or pinned — time travel) from the
  * manifest, never by listing the data dir, so a crashed half-written commit
  * is invisible; a retried commit simply clears the orphaned (unreferenced)
  * data dir and writes again. The interface is deliberately narrow so a real
  * Iceberg catalog slots in on a cluster. The engine's superstep checkpoints
  * ([[graft.engine.CheckpointManager]]) are ordinary snapshots of this table
  * format with superstep/residual/metrics in the summary properties — one
  * commit path for sources AND checkpoints (north rule: supersteps checkpoint
  * to Iceberg with per-partition lineage + metrics).
  */
object IcebergLite {

  private def manifestDir(table: String): Path = Paths.get(table, "_manifests")

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Append a new snapshot of `df` with optional summary properties; returns
    * the snapshot id. The manifest rename is the commit point.
    */
  def commit(
      df: DataFrame,
      table: String,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty
  ): Long = {
    val snapshot = snapshots(table).lastOption.getOrElse(-1L) + 1
    val dataDir = Paths.get(table, s"snap-$snapshot")
    // a dir without a manifest is an orphan from a torn commit: clear it
    if (Files.exists(dataDir))
      Files.walk(dataDir).sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
    var writer = df.write.mode("errorifexists")
    if (partitionBy.nonEmpty) writer = writer.partitionBy(partitionBy: _*)
    writer.parquet(dataDir.toString)
    val files = Files
      .walk(dataDir)
      .iterator()
      .asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString)
      .toSeq
      .sorted
    val md = manifestDir(table)
    Files.createDirectories(md)
    val props = properties.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    // the row count comes from the written files' footers: counting `df`
    // would evaluate its whole plan a second time
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val rowCount = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
    val json =
      s"""{"snapshot":$snapshot,"rowCount":$rowCount,"properties":$props,"files":[""" +
        files.map(f => "\"" + esc(f) + "\"").mkString(",") +
        "]}"
    val tmp = md.resolve(s".$snapshot.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, md.resolve(s"$snapshot.json"), StandardCopyOption.ATOMIC_MOVE) // commit point
    snapshot
  }

  /** Committed snapshot ids, ascending. */
  def snapshots(table: String): Seq[Long] = {
    val md = manifestDir(table)
    if (!Files.isDirectory(md)) return Nil
    Files.list(md).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("\\d+\\.json"))
      .map(_.stripSuffix(".json").toLong)
      .toSeq
      .sorted
  }

  /** Summary properties of a committed snapshot (escape-aware scan, so
    * values carrying embedded JSON — e.g. checkpoint metrics — round-trip).
    */
  def properties(table: String, snapshot: Long): Map[String, String] = {
    val txt = Files.readString(manifestDir(table).resolve(s"$snapshot.json"))
    // greedy up to the files list: property VALUES may contain literal braces
    // (e.g. the checkpoint metrics JSON), so a non-greedy `\}` would truncate
    val body = "\"properties\":\\{(.*)\\},\"files\":".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    "\"((?:[^\"\\\\]|\\\\.)*)\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(body)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2)))
      .toMap
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' => sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o => sb += o; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Read a snapshot (default: latest) strictly via its manifest file list. */
  def read(spark: SparkSession, table: String, snapshot: Option[Long] = None): DataFrame = {
    val snap = snapshot.orElse(snapshots(table).lastOption).getOrElse(
      throw new IllegalStateException(s"no committed snapshots in $table"))
    val txt = Files.readString(manifestDir(table).resolve(s"$snap.json"))
    val files = "\"files\":\\[(.*)\\]".r
      .findFirstMatchIn(txt)
      .map(_.group(1))
      .filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"").replace("\\\"", "\"").replace("\\\\", "\\")))
      .getOrElse(Seq.empty)
    if (files.isEmpty) spark.emptyDataFrame else spark.read.parquet(files: _*)
  }
}
