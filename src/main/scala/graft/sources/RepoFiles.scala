package graft.sources

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.LinkGraph
import graft.model.ExecutionPolicy

/** The north-rule input: a catalog of source-code repository files with
  * columns (repo, path, commit, lang, content), synthesized deterministically
  * (seed-pinned, no wall clock) at any scale with pure Catalyst expressions
  * (xxhash64/sha2/sequence/transform) — plus the pattern extraction and the
  * shared-pattern graph over it (repos as vertices, shared import tokens as
  * weighted edges), which [[linkGraph]] builds with one scan, one exchange
  * and primitive stages.
  * The per-row invariant `sha2(content, 256)` serves the input-hint check.
  */
object RepoFiles {

  val Langs: Seq[String] = Seq("scala", "python", "java", "go")

  /** Import-line syntax per language (the extraction regex must invert it). */
  private def importLine(lang: Column, token: Column): Column = {
    val lib = concat(lit("lib"), lpad(token.cast("string"), 3, "0"))
    when(lang === "scala", concat(lit("import "), lib, lit("._")))
      .when(lang === "python", concat(lit("import "), lib))
      .when(lang === "java", concat(lit("import "), lib, lit(".*;")))
      .otherwise(concat(lit("import \""), lib, lit("\""))) // go
  }

  /** Extraction regex per language, capture group 1 = libNNN. */
  def importPattern(lang: String): String = lang match {
    case "scala" => """import (lib\d{3})\._"""
    case "python" => """import (lib\d{3})(?:\n|$)"""
    case "java" => """import (lib\d{3})\.\*;"""
    case "go" => """import "(lib\d{3})""""
  }

  /** Deterministic repo-file table.
    *
    * @param numRepos     R vertices-to-be
    * @param filesPerRepo F files per repo (hub repos — every 97th — get 4×)
    * @param vocab        V distinct import tokens; selection is power-skewed
    *                     (u² law) so a few tokens are hot — the skew fixture
    * @param seed         generation seed (feeds every hash)
    */
  def table(
      spark: SparkSession,
      numRepos: Long,
      filesPerRepo: Int = 20,
      vocab: Int = 500,
      seed: Long = 42L
  ): DataFrame = {
    import spark.implicits._
    val files = spark
      .range(numRepos)
      .select(
        format_string("repo%07d", $"id").as("repo"),
        $"id".as("repoId"),
        explode(
          sequence(lit(0),
            when(pmod($"id", lit(97)) === 0, lit(filesPerRepo * 4 - 1))
              .otherwise(lit(filesPerRepo - 1)))).as("fileSeq"))
    val langExpr = element_at(
      array(Langs.map(lit): _*),
      (pmod(xxhash64($"repoId", $"fileSeq", lit(seed)), lit(4)) + 1).cast("int"))
    val withLang = files
      .withColumn("lang", langExpr)
      .withColumn(
        "path",
        format_string("src/f%04d.%s", $"fileSeq",
          element_at(
            map(lit("scala"), lit("scala"), lit("python"), lit("py"),
              lit("java"), lit("java"), lit("go"), lit("go")),
            $"lang")))
    // K import lines per file, K in [1, 8]; token ids power-skewed toward 0
    val k = (pmod(xxhash64($"repo", $"path", lit(seed + 1)), lit(8)) + 1).cast("int")
    def tokenAt(i: Column): Column =
      floor(
        lit(vocab) * pow(
          pmod(xxhash64(col("repo"), col("path"), i, lit(seed + 2)), lit(1000000)).cast("double") / 1000000.0,
          2.0)).cast("int")
    val lines = transform(sequence(lit(0), k - 1), i => importLine(col("lang"), tokenAt(i)))
    withLang
      .select(
        $"repo",
        $"path",
        substring(sha2(concat($"repo", lit("/"), $"path", lit(s"@$seed")), 256), 1, 40).as("commit"),
        $"lang",
        concat(
          format_string("// %s — generated fixture (seed %d)", $"path", lit(seed)),
          lit("\n"),
          array_join(lines, "\n")).as("content"))
  }

  /** Per-row invariant column for the input-hint check: sha2(content, 256). */
  def withContentHash(files: DataFrame): DataFrame =
    files.withColumn("content_sha256", sha2(col("content"), 256))

  /** Extract (repo, token) incidences from content — one literal regex per
    * language (regexp_extract_all + explode; no UDFs).
    */
  def repoTokens(files: DataFrame): DataFrame =
    files.select(col("repo"), explode(importTokens).as("token"))

  /** A file's import tokens, in ONE scan: the regex is selected per row by a
    * `when` chain over `lang` (each branch keeps a foldable pattern literal,
    * so every regex still compiles once in codegen); null for another
    * language.
    */
  private def importTokens: Column =
    Langs.tail.foldLeft(when(col("lang") === Langs.head,
      regexp_extract_all(col("content"), lit(importPattern(Langs.head)), lit(1)))) {
      case (acc, lg) => acc.when(col("lang") === lg, regexp_extract_all(col("content"), lit(importPattern(lg)), lit(1)))
    }

  /** Full pipeline: the graph of the repos' shared import tokens (directed
    * both ways between distinct repos sharing a token; repos whose 64-bit ids
    * collide count as one), weight = shared-token count.
    *  1. One Catalyst scan extracts each file's tokens and hashes its repo
    *     once; each task keeps token → its sorted distinct repo ids.
    *  1. One exchange keyed by token merges each token's lists; a token with
    *     2 ≤ T ≤ `maxReposPerToken` repos emits its T(T−1)/2 pairs a < b once
    *     into a cached per-task half stream ([[halfPairs]]).
    *  1. The half stream takes [[LinkGraph.fromEdgeList]]'s gate (32 B per
    *     pair): the driver fold mirrors each folded pair with its weight, or
    *     route 1 sends each pair in both orientations.
    */
  def linkGraph(spark: SparkSession, files: DataFrame, maxReposPerToken: Int = 1000): LinkGraph =
    LinkGraph.fromScan(spark, halfPairs(files, maxReposPerToken), numBlocks = 0, ExecutionPolicy(), mirror = true)

  /** Steps 1–2 of [[linkGraph]]: one cached batch per task of repo-id pairs a < b. */
  private[graft] def halfPairs(files: DataFrame, cap: Int): RDD[LinkGraph.Rows] = {
    val groups = files.select(xxhash64(col("repo")), importTokens).queryExecution.toRdd
      .mapPartitions { it =>
        val byToken = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
        it.filter(!_.isNullAt(1)).foreach { r =>
          val tokens = r.getArray(1)
          for (i <- 0 until tokens.numElements())
            byToken.getOrElseUpdate(tokens.getUTF8String(i).toString, new mutable.ArrayBuilder.ofLong) += r.getLong(0)
        }
        byToken.iterator.map { case (t, ids) => (t, LinkGraph.sortedDistinct(ids.result())) }
      }
      .partitionBy(new HashPartitioner(math.max(1, files.sparkSession.sparkContext.defaultParallelism)))
    groups.mapPartitions { it =>
      val lists = mutable.HashMap.empty[String, List[Array[Long]]]
      it.foreach { case (t, ids) => lists(t) = ids :: lists.getOrElse(t, Nil) }
      val out = new LinkGraph.Rows(packed = false, weighted = false)
      lists.valuesIterator.map(l => LinkGraph.sortedDistinct(Array.concat(l: _*)))
        .filter(ids => ids.length >= 2 && ids.length <= cap)
        .foreach(ids => for (a <- ids.indices; b <- a + 1 until ids.length) out.add(ids(a), ids(b)))
      Iterator.single(out.trimmed)
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }
}
