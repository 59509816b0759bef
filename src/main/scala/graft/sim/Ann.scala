package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  * Dot products are `zip_with` + `aggregate` column expressions in double
  * precision (codegen; summation in index order, so results are deterministic
  * and engine-portable). Brute-force top-k is the exactness baseline; the
  * scale path buckets by random-hyperplane LSH so candidate generation is a
  * bucket join instead of a cross join.
  */
object Ann {

  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * Queries are expected small (broadcast side); corpus scales out.
    * Output: (query_id, neighbor_id, cosine, rank) — ties broken by id.
    */
  def bruteForceTopK(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val scored = corpus
      .crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .select(
        col("qid").as("query_id"),
        col("id").as("neighbor_id"),
        cosine(col("vec"), col("qvec")).as("cosine"))
    scored
      .withColumn("rank",
        row_number().over(
          Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")))
      .filter($"rank" <= k)
  }

  /** Deterministic random hyperplanes: numPlanes × dim, seeded. */
  private def hyperplanes(dim: Int, numPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rng.nextGaussian())
  }

  /** Sign-bit LSH bucket id of a vector under the given hyperplanes. */
  private def bucketExpr(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      val planeCol = array(p.map(lit): _*)
      acc.bitwiseOR(
        shiftleft(when(dot(vec, planeCol) >= 0, 1L).otherwise(0L), i))
    }

  /** Auto-sized sign-LSH parameters (bits, tables) for [[cosinePairsLsh]].
    *
    * bits ≈ log₂(n / targetBucketSize) — buckets stay small enough that the
    * per-bucket self-join is bounded as n grows; tables from the recall bound:
    * a pair at angle θ collides in one b-bit table w.p. p₁ = (1−θ/π)^b, so
    * L = ⌈ln(missBound)/ln(1−p₁)⌉ drives per-pair miss below missBound at the
    * threshold. L is capped at maxTables — at LOW thresholds (small p₁) the
    * required L explodes because the question itself is near-all-pairs; the
    * cap keeps cost bounded and the caller sees the degraded effective miss
    * bound in the returned tuple's log line.
    */
  def lshParams(
      n: Long,
      threshold: Double,
      targetBucketSize: Int = 16,
      missBound: Double = 1e-4,
      maxTables: Int = 256
  ): (Int, Int) = {
    val bits = math.max(4, math.min(24,
      math.ceil(math.log(math.max(2.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt))
    val theta = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val p1 = math.pow(1.0 - theta / math.Pi, bits)
    val tables =
      if (p1 >= 1.0) 1
      else math.min(maxTables, math.max(1, math.ceil(math.log(missBound) / math.log(1.0 - p1)).toInt))
    (bits, tables)
  }

  /** All pairs with cosine ≥ threshold, candidate-generated by multi-table
    * sign-LSH buckets and verified with the exact cosine — the bucket
    * equi-join replaces the all-pairs cross join, so no CartesianProduct
    * appears in the plan and no task ever owns an n×n tile.
    *
    * Scale shape: bucket ids are computed in ONE pass over the corpus
    * (explode of an L-entry struct array — vectors are NEVER replicated per
    * table; round 2's unionAll shipped the corpus L times), the id-only
    * banded frame is pinned and self-joined, and candidate pairs join their
    * vectors back by id. [[candidatePairEstimate]] gives the Σ c·(c−1)/2
    * candidate count over actual bucket sizes up front — when it approaches
    * n(n−1)/2 the caller has asked an inherently quadratic question (low
    * threshold) and should raise it or use brute force.
    *
    * bits/tables default to 0 = auto-sized by [[lshParams]] from the corpus
    * count and threshold. Output is exact on the candidate set; completeness
    * is probabilistic with the lshParams miss bound (deterministic given the
    * seed). For an exactness-gated pair set use
    * [[graft.text.Dedup.embeddingPairs]].
    */
  def cosinePairsLsh(
      emb: DataFrame, // (id, vec)
      threshold: Double,
      dim: Int,
      bits: Int = 0,
      tables: Int = 0,
      seed: Long = 42L
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the auto-sizing count job runs only when a parameter is actually auto
    // (explicit bits+tables skip the full corpus scan entirely)
    val (b, l) =
      if (bits > 0 && tables > 0) (bits, tables)
      else {
        val (autoB, autoL) = lshParams(emb.count(), threshold)
        (if (bits > 0) bits else autoB, if (tables > 0) tables else autoL)
      }
    val tb = (0 until l).map { t =>
      val planes = hyperplanes(dim, b, seed + t)
      struct(lit(t).as("table"), bucketExpr(col("vec"), planes).as("bucket"))
    }
    // the pin's release handle is deliberately dropped: the returned pair
    // frame still self-joins `banded`, so an eager release would recompute
    // it twice downstream — the localCheckpoint cache is reclaimed by the
    // ContextCleaner once the result (and this frame) become unreferenced,
    // unlike Dataset.persist caches which CacheManager holds for the session
    val (banded, _) = graft.graph.Lineage.pin(
      emb.select(col("id"), explode(array(tb: _*)).as("tb"))
        .select(col("id"), col("tb.table"), col("tb.bucket")))
    val cands = banded.as("lb")
      .join(banded.as("rb"),
        col("lb.table") === col("rb.table") && col("lb.bucket") === col("rb.bucket")
          && col("lb.id") < col("rb.id"))
      .select(col("lb.id").as("a"), col("rb.id").as("b"))
      .dropDuplicates("a", "b")
    val withVecs = cands
      .join(emb.select(col("id").as("a"), col("vec").as("va")), Seq("a"))
      .join(emb.select(col("id").as("b"), col("vec").as("vb")), Seq("b"))
    withVecs
      .select($"a", $"b", cosine($"va", $"vb").as("cosine"))
      .filter($"cosine" >= threshold)
  }

  /** Pre-dedup candidate-pair count Σ c·(c−1)/2 that [[cosinePairsLsh]] would
    * generate at these parameters — the scale-sanity probe (compare against
    * n(n−1)/2 before running the full pair job).
    */
  def candidatePairEstimate(
      emb: DataFrame,
      dim: Int,
      bits: Int,
      tables: Int,
      seed: Long = 42L
  ): Long = {
    import emb.sparkSession.implicits._
    val tb = (0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, seed + t)
      struct(lit(t).as("table"), bucketExpr(col("vec"), planes).as("bucket"))
    }
    emb.select(explode(array(tb: _*)).as("tb"))
      .groupBy($"tb.table", $"tb.bucket")
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum($"c" * ($"c" - 1) / 2), lit(0.0)).cast("long"))
      .first().getLong(0)
  }

  /** Approximate top-k: candidates restricted to same-bucket vectors under
    * `tables` independent sign-LSH bucketings (multi-table boosts recall),
    * then exact cosine + window rank. Bucket join replaces the cross join —
    * the path that survives a 100× corpus.
    */
  def lshTopK(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int,
      dim: Int,
      planesPerTable: Int = 12,
      tables: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // bucket ids for all tables in ONE pass per side; vectors are not
    // replicated per table — candidates join them back by id
    def bandedOf(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
      val tb = (0 until tables).map { t =>
        val planes = hyperplanes(dim, planesPerTable, seed + t)
        struct(lit(t).as("table"), bucketExpr(col(vecCol), planes).as("bucket"))
      }
      df.select(col(idCol), explode(array(tb: _*)).as("tb"))
        .select(col(idCol), col("tb.table"), col("tb.bucket"))
    }
    val cands = bandedOf(corpus, "id", "vec")
      .join(bandedOf(queries, "qid", "qvec"), Seq("table", "bucket"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    cands
      .join(corpus.select(col("id").as("neighbor_id"), col("vec")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("qid").as("query_id"), col("qvec"))), Seq("query_id"))
      .select($"query_id", $"neighbor_id", cosine(col("vec"), col("qvec")).as("cosine"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")))
      .filter($"rank" <= k)
  }
}
