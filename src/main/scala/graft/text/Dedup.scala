package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * All shingle/signature math is pure Catalyst (sequence/transform/aggregate
  * over arrays — codegen-friendly, no UDFs); candidate generation is
  * bucket-join shaped so it scales: exact pairs only ever form within a
  * bucket, never via a full cross join.
  */
object Dedup {

  /** Word n-gram shingles of a text column (whitespace split, single spaces).
    * Docs with fewer than n words yield an EMPTY array — the size guard is
    * load-bearing: without it `sequence(1, 0)` defaults its step to -1
    * (producing [1, 0]) and `slice(words, 0, n)` throws
    * INVALID_PARAMETER_VALUE.START on any short/empty document.
    */
  def shingles(text: Column, n: Int): Column = {
    val words = split(text, "\\s+")
    when(
      size(words) >= n,
      transform(
        sequence(lit(1), size(words) - (n - 1)),
        i => array_join(slice(words, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact duplicates: group by full text; every group of size > 1 is a
    * duplicate cluster keyed by its smallest doc id. Returns
    * (doc_id, cluster_id, cluster_size) for ALL docs (singletons included:
    * cluster_id = own id). The hash-groupBy shape scales: map-side partial
    * aggregation on sha2 first at 100 TB (text itself never shuffles twice).
    */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).as("doc_id"), sha2(col(textCol), 256).as("h"))
      .withColumn("cluster_id", min($"doc_id").over(Window.partitionBy($"h")))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy($"h")))
      .select($"doc_id", $"cluster_id", $"cluster_size")
  }

  /** Exact pairwise n-gram Jaccard near-duplicate pairs (a < b) with
    * similarity ≥ threshold. Inverted-index join: docs explode to distinct
    * shingles, pairs form per shingle (map-side combinable counts), then
    * |A∩B| / (|A|+|B|−|A∩B|) filters. At scale, hot shingles should be
    * pre-filtered like stop tokens (see maxDocsPerShingle).
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocsPerShingle: Int = 500
  ): DataFrame =
    jaccardPairsWithStats(docs, idCol, textCol, n, threshold, maxDocsPerShingle)._1

  /** [[jaccardPairs]] plus its completeness loss as DATA: the second element
    * is the number of hot shingles (document frequency > maxDocsPerShingle)
    * excluded from candidate generation — pairs supported ONLY by dropped
    * shingles are not generated. Round 2 only printed this to stderr, which
    * is invisible to programmatic callers; here it is machine-checkable.
    */
  def jaccardPairsWithStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocsPerShingle: Int = 500
  ): (DataFrame, Long) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ds = docs
      .select(col(idCol).as("doc_id"), explode(shingles(col(textCol), n)).as("sh"))
      .distinct()
    val sizes = ds.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val shingleDf = ds.groupBy($"sh").agg(count(lit(1)).as("df"))
    // A single hot shingle with document frequency f admits f·(f−1)/2 candidate
    // pairs — at f = 10⁴ that is 5·10⁷ pairs from ONE token. The cap drops such
    // stop-token shingles from candidate generation (they carry ~no Jaccard
    // signal anyway); dropped counts are reported so silent truncation is
    // visible to the operator.
    val dropped = shingleDf.filter($"df" > maxDocsPerShingle).count()
    if (dropped > 0)
      System.err.println(
        s"[graft] jaccardPairs: dropped $dropped hot shingles (df > $maxDocsPerShingle); " +
          "pairs supported ONLY by dropped shingles are not generated")
    val kept = ds.join(
      shingleDf
        .filter($"df" <= maxDocsPerShingle && $"df" >= 2)
        .select($"sh"),
      Seq("sh"))
    val inter = kept.as("l")
      .join(kept.as("r"), col("l.sh") === col("r.sh") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "szA"), Seq("a"))
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szB"), Seq("b"))
      .withColumn("jaccard", $"inter" / ($"szA" + $"szB" - $"inter"))
      .filter($"jaccard" >= threshold)
      .select($"a", $"b", $"jaccard")
    (pairs, dropped)
  }

  /** 60-bit ENGINE-PORTABLE hash: first 15 hex nibbles of md5, parsed as an
    * integer — bit-for-bit computable in Spark (`conv(substring(md5(x),1,15),
    * 16,10)`) AND DuckDB (`('0x' || substr(md5(x),1,15))::BIGINT`), so
    * signature operators built on it get a FULL value-level DuckDB oracle.
    * xxhash64 (the default, ~10× cheaper) has no DuckDB twin and only allows
    * rows-only checks; use `portable = true` on the signature operators when
    * cross-engine verifiability matters more than hash throughput.
    */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** MinHash signature: numHashes seeded hash minima over the shingle set
    * (xxhash64 by default; md5-based [[portableHash60]] when `portable`).
    */
  def minhashSignature(text: Column, n: Int, numHashes: Int, portable: Boolean = false): Column = {
    val sh = shingles(text, n)
    transform(
      sequence(lit(1), lit(numHashes)),
      seed =>
        array_min(transform(sh, s =>
          if (portable) portableHash60(concat(seed.cast("string"), lit(":"), s))
          else xxhash64(s, seed))))
  }

  /** MinHash + LSH banding near-duplicate candidate pairs, verified with the
    * signature-estimated Jaccard (fraction of agreeing minhashes).
    *
    * numHashes = bands · rowsPerBand. Docs collide into a bucket when one
    * band of their signatures matches exactly; candidates verify estimated
    * similarity ≥ threshold. Scale shape: bucket ids shuffle once
    * (explode bands → groupBy bucket), pairs form only inside buckets.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      portable: Boolean = false
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numHashes = bands * rowsPerBand
    // Guard on the SHINGLE count, not size(sig): the signature is always a
    // numHashes-length array (entries are NULL when the shingle set is empty
    // because array_min over an empty array is NULL), so size(sig) > 0 would
    // pass every empty doc and collide them all into shared band buckets.
    val sigs = docs
      .filter(size(shingles(col(textCol), n)) > 0)
      .select(col(idCol).as("doc_id"),
        minhashSignature(col(textCol), n, numHashes, portable).as("sig"))
    def bandBucket(b: Column): Column = {
      val sliceStr =
        transform(slice($"sig", b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string"))
      if (portable) portableHash60(concat(b.cast("string"), lit("|"), array_join(sliceStr, ",")))
      else xxhash64(array_join(sliceStr, ","), b)
    }
    val banded = sigs.select(
      $"doc_id", $"sig",
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), bandBucket(b).as("bucket")))).as("bb"))
      .select($"doc_id", $"sig", $"bb.band", $"bb.bucket")
    val cands = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("l.sig").as("sigA"), col("r.sig").as("sigB"))
      .dropDuplicates("a", "b")
    cands
      .withColumn(
        "est_jaccard",
        aggregate(
          zip_with($"sigA", $"sigB", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0),
          (acc, v) => acc + v).cast("double") / numHashes)
      .filter($"est_jaccard" >= threshold)
      .select($"a", $"b", $"est_jaccard")
  }

  /** SimHash over whitespace tokens: bit b is 1 iff the weighted sum of
    * token-hash bit b (+1/−1) is positive. Pure column expressions: one
    * per-doc fold over the token hashes with a per-bit sum array, so a doc
    * costs tokens × width; no explode, no UDAF. Default: 64-bit over
    * xxhash64. `portable`: 60-bit over [[portableHash60]] with empty tokens
    * dropped — exactly reproducible in DuckDB for a value-level oracle.
    */
  def simhash(text: Column, portable: Boolean = false): Column = {
    val width = if (portable) 60 else 64
    val rawTokens = split(text, "\\s+")
    val tokens =
      if (portable) filter(rawTokens, t => length(t) > 0) else rawTokens
    val hashes = transform(tokens, t => if (portable) portableHash60(t) else xxhash64(t))
    // one pass over the token hashes: per-bit sums of +-1, then the sign bits
    aggregate(
      hashes,
      array_repeat(lit(0L), width),
      (sums, h) => transform(sums, (s, b) =>
        s + when(call_function("shiftright", h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)),
      sums => aggregate(
        transform(sums, (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)),
        lit(0L),
        (acc, bit) => acc.bitwiseOR(bit)))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs within maxHamming, candidate-generated by
    * 4 band buckets (16-bit quarters of the 64-bit default; 15-bit quarters
    * of the 60-bit `portable` variant — a pair within Hamming ≤ 3 must agree
    * on at least one band by pigeonhole), verified exactly.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      portable: Boolean = false
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bandBits = if (portable) 15 else 16
    val bandMask = (1L << bandBits) - 1
    val sigs = docs.select(col(idCol).as("doc_id"), simhash(col(textCol), portable).as("sig"))
    val banded = sigs.select(
      $"doc_id", $"sig",
      explode(
        transform(sequence(lit(0), lit(3)),
          q => struct(q.as("q"), call_function("shiftright", $"sig", q * lit(bandBits)).bitwiseAND(lit(bandMask)).as("bucket"))))
        .as("bb"))
      .select($"doc_id", $"sig", $"bb.q", $"bb.bucket")
    banded.as("l")
      .join(banded.as("r"),
        col("l.q") === col("r.q") && col("l.bucket") === col("r.bucket")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        hamming64(col("l.sig"), col("r.sig")).as("hamming"))
      .dropDuplicates("a", "b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding cosine near-duplicate pairs (a < b, cosine ≥ threshold) —
    * brute-force form; see [[graft.sim.Ann]] for the bucketed scale path.
    */
  def embeddingPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    v.as("l")
      .join(v.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        graft.sim.Ann.cosine(col("l.vec"), col("r.vec")).as("cosine"))
      .filter($"cosine" >= threshold)
  }
}
