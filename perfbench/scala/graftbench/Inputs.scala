package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators, owned by the benchmark so that a change to
  * `graft.sources` cannot silently change a workload's input. The power-law
  * edges and the repo catalog are ports of `graft.sources.SkewedEdges.edges`
  * and `graft.sources.RepoFiles.table`; the TPC-H pair is shaped like dbgen's
  * sf0.1 orders/lineitem (only customers whose key is not a multiple of 3
  * place orders, 1-7 lines per order, suppliers uniform).
  */
object Inputs {

  private val Grid: Long = 1L << 30

  /** u²-skewed (src, dst) pairs over `numVertices` slots, self-pairs dropped. */
  def skewedEdges(spark: SparkSession, numVertices: Long, numEdges: Long, seed: Long): DataFrame = {
    import spark.implicits._
    def endpoint(salt: Int) = {
      val u = pmod(xxhash64($"id", lit(seed + salt)), lit(Grid)).cast("double") / Grid.toDouble
      floor(lit(numVertices) * pow(u, 2.0)).cast("long")
    }
    spark.range(numEdges)
      .select(endpoint(1).as("src"), endpoint(2).as("dst"))
      .filter($"src" =!= $"dst")
  }

  /** (o_orderkey, o_custkey) for `numOrders` orders over `numCustomers` customers. */
  def orders(spark: SparkSession, numOrders: Long, numCustomers: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val c = pmod(xxhash64($"id", lit(seed + 11)), lit(numCustomers * 2 / 3))
    spark.range(numOrders).select(
      ($"id" + 1).as("o_orderkey"),
      ((c / 2).cast("long") * 3 + pmod(c, lit(2L)) + 1).as("o_custkey"))
  }

  /** (l_orderkey, l_suppkey): 1-7 lines per order, supplier uniform in 1..numSuppliers. */
  def lineitem(spark: SparkSession, numOrders: Long, numSuppliers: Long, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(numOrders)
      .select(($"id" + 1).as("l_orderkey"),
        explode(sequence(lit(1L), pmod(xxhash64($"id", lit(seed + 12)), lit(7L)) + 1)).as("line"))
      .select($"l_orderkey",
        (pmod(xxhash64($"l_orderkey", $"line", lit(seed + 13)), lit(numSuppliers)) + 1).as("l_suppkey"))
  }

  private val Langs = Seq("scala", "python", "java", "go")

  private def importLine(lang: Column, token: Column): Column = {
    val lib = concat(lit("lib"), lpad(token.cast("string"), 3, "0"))
    when(lang === "scala", concat(lit("import "), lib, lit("._")))
      .when(lang === "python", concat(lit("import "), lib))
      .when(lang === "java", concat(lit("import "), lib, lit(".*;")))
      .otherwise(concat(lit("import \""), lib, lit("\"")))
  }

  /** Repo-file catalog (repo, path, commit, lang, content). `vocab` must stay
    * ≤ 1000: tokens render as 3-digit `libNNN` and `lpad` truncates longer ids.
    */
  def repoFiles(spark: SparkSession, numRepos: Long, filesPerRepo: Int, vocab: Int, seed: Long): DataFrame = {
    require(vocab <= 1000, s"vocab $vocab collapses under the 3-digit libNNN token format")
    import spark.implicits._
    val files = spark.range(numRepos).select(
      format_string("repo%07d", $"id").as("repo"),
      $"id".as("repoId"),
      explode(sequence(lit(0),
        when(pmod($"id", lit(97)) === 0, lit(filesPerRepo * 4 - 1))
          .otherwise(lit(filesPerRepo - 1)))).as("fileSeq"))
    val langExpr = element_at(array(Langs.map(lit): _*),
      (pmod(xxhash64($"repoId", $"fileSeq", lit(seed)), lit(4)) + 1).cast("int"))
    val withLang = files
      .withColumn("lang", langExpr)
      .withColumn("path", format_string("src/f%04d.%s", $"fileSeq",
        element_at(map(lit("scala"), lit("scala"), lit("python"), lit("py"),
          lit("java"), lit("java"), lit("go"), lit("go")), $"lang")))
    val k = (pmod(xxhash64($"repo", $"path", lit(seed + 1)), lit(8)) + 1).cast("int")
    def tokenAt(i: Column): Column =
      floor(lit(vocab) * pow(
        pmod(xxhash64(col("repo"), col("path"), i, lit(seed + 2)), lit(1000000)).cast("double") / 1000000.0,
        2.0)).cast("int")
    val lines = transform(sequence(lit(0), k - 1), i => importLine(col("lang"), tokenAt(i)))
    withLang.select(
      $"repo",
      $"path",
      substring(sha2(concat($"repo", lit("/"), $"path", lit(s"@$seed")), 256), 1, 40).as("commit"),
      $"lang",
      concat(format_string("// %s — generated fixture (seed %d)", $"path", lit(seed)), lit("\n"),
        array_join(lines, "\n")).as("content"))
  }

  /** repo → the 64-bit external vertex id the shared-pattern graph keys repos by. */
  def repoIds(files: DataFrame): DataFrame =
    files.select(col("repo")).distinct().select(col("repo"), xxhash64(col("repo")).as("ext_id"))

  /** Order-free checksum of integer columns: row count and exact column sums
    * (plus the sum of the row products), as decimal strings.
    */
  def checksum(df: DataFrame, cols: Seq[String]): String = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val aggs = count(lit(1)).cast("string") +: cols.map(c => sum(dec(col(c))).cast("string")) :+
      sum(cols.map(c => dec(col(c))).reduce(_ * _)).cast("string")
    df.agg(aggs.head, aggs.tail: _*).collect()(0).toSeq.mkString(":")
  }
}
