package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** One-pass distribution summary of a single numeric column, serving EVERY
  * percentile / median / empirical-CDF probe from the same build — the fusion
  * layer over [[NetworkAnalytics.cumulativeCounts]] (round 2 rebuilt that
  * pipeline once per probe; `networkMetrics` alone paid for it three times and
  * regressed 41× at sf0.1).
  *
  * Two regimes, chosen by row count:
  *
  *  - '''Driver-local''' (n ≤ [[ValueDist.SmallN]]): ONE `groupBy(value).count`
  *    job collects the distinct (value, count) pairs; sort + prefix-sum on the
  *    driver. Distinct pairs are ≤ n ≤ SmallN (≈64 MB worst case), every probe
  *    is then O(log d) driver work and [[cdf]] is a broadcastable local
  *    relation — zero persisted residue, nothing to release.
  *  - '''Distributed''' (large n): the two-phase ranked sum over distinct
  *    values (range-partition → local prefix sums → offset broadcast); the
  *    cumulative frame stays cached until [[release]] — callers own the
  *    lifecycle explicitly instead of leaking a session-lived cache (round-2
  *    `percentileRank` discarded the handle).
  *
  * Percentile rule in both regimes: NumPy linear interpolation —
  * t = (n−1)·p, result = v⌊t⌋ + (t−⌊t⌋)·(v⌈t⌉ − v⌊t⌋) over the value owning
  * each global 0-based sort index (value v with cumulative count cum and
  * multiplicity c owns indices [cum−c, cum)).
  */
final class ValueDist private (
    val n: Long,
    spark: SparkSession,
    local: Option[(Array[Double], Array[Long])], // sorted distinct values, cumulative counts
    distributed: Option[(DataFrame, () => Unit)] // (__v,__c,__cum) cached frame, release
) {

  /** True when all probes are served from driver arrays (no cluster state). */
  def isLocal: Boolean = local.isDefined

  /** Exact percentiles (NumPy linear interpolation) for each p in 0..1. */
  def percentiles(ps: Seq[Double]): Seq[Double] = {
    require(ps.nonEmpty, "need at least one percentile")
    require(n > 0, "percentile of an empty column")
    local match {
      case Some((vs, cum)) =>
        ps.map { p =>
          val t = (n - 1) * p
          val lo = math.floor(t).toLong
          val vlo = valueAtIndex(vs, cum, lo)
          val vhi = valueAtIndex(vs, cum, math.ceil(t).toLong)
          vlo + (vhi - vlo) * (t - lo)
        }
      case None =>
        val (cum, _, _) = distributed.map(d => (d._1, n, d._2)).get
        val targets = ps
          .flatMap { p =>
            val t = (n - 1) * p
            Seq(math.floor(t).toLong, math.ceil(t).toLong)
          }
          .distinct
        import spark.implicits._
        val idxDf = targets.toDF("__i")
        val found = cum
          .join(broadcast(idxDf), col("__i") >= col("__cum") - col("__c") && col("__i") < col("__cum"))
          .select(col("__i"), col("__v"))
          .collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
          .toMap
        ps.map { p =>
          val t = (n - 1) * p
          val lo = math.floor(t).toLong
          val vlo = found(lo)
          val vhi = found(math.ceil(t).toLong)
          vlo + (vhi - vlo) * (t - lo)
        }
    }
  }

  def percentile(p: Double): Double = percentiles(Seq(p)).head

  /** Empirical-CDF mapping frame (__v, pct_rank) with pct_rank = 100·cum/n —
    * the share of values ≤ v (pagerank.py:371). Driver-local regime: a local
    * relation (broadcast-join it); distributed regime: a projection of the
    * cached cumulative frame (valid until [[release]]).
    */
  def cdf: DataFrame = local match {
    case Some((vs, cum)) =>
      val rows = new java.util.ArrayList[Row](vs.length)
      var i = 0
      while (i < vs.length) {
        rows.add(Row(vs(i), pctRank(cum(i))))
        i += 1
      }
      spark.createDataFrame(
        rows,
        StructType(Seq(StructField("__v", DoubleType, false), StructField("pct_rank", DoubleType, false))))
    case None =>
      distributed.get._1.select(col("__v"), (col("__cum") / lit(n.toDouble) * 100.0).as("pct_rank"))
  }

  /** [[cdf]]'s pct_rank at `v`, a value of the column (driver-local regime). */
  private[analytics] def cdfAt(v: Double): Double = {
    val (vs, cum) = local.get
    val i = java.util.Arrays.binarySearch(vs, v + 0.0)
    require(i >= 0, s"$v is not a value of the column")
    pctRank(cum(i))
  }

  private def pctRank(cum: Long): Double = cum.toDouble / n * 100.0

  /** Free cluster state (no-op in the driver-local regime). The [[cdf]] frame
    * of the distributed regime must not be evaluated after this.
    */
  def release(): Unit = distributed.foreach(_._2())

  // first sorted distinct value whose cumulative count exceeds the 0-based index
  private def valueAtIndex(vs: Array[Double], cum: Array[Long], idx: Long): Double = {
    var lo = 0
    var hi = vs.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) > idx) hi = mid else lo = mid + 1
    }
    vs(lo)
  }
}

object ValueDist {

  /** Row-count ceiling for the driver-local regime; between
    * [[MaxLocalDistinct]] and this bound the regime is additionally gated on
    * the estimated DISTINCT count — row count alone says nothing about how
    * many (double, long) pairs the collect materializes.
    */
  val SmallN: Long = 4L * 1024 * 1024

  /** Distinct-pair ceiling for the driver-local collect: ≤ ~16 MB of
    * primitive (double, long) pairs plus transient tuple boxing. Decided from
    * the exact n when n ≤ MaxLocalDistinct (distinct ≤ n needs no probe);
    * otherwise a cheap approx_count_distinct job decides, so a 4M-row column
    * of unique doubles falls to the distributed regime instead of collecting
    * hundreds of MB onto a smaller-heap driver (round-3 hardening).
    */
  val MaxLocalDistinct: Long = 1L * 1024 * 1024

  /** Build the distributions of SEVERAL columns of one frame in a single job.
    *
    * The driver-local regime's per-column build is one `groupBy(col).count`
    * job each; callers probing three columns of the same cached frame (e.g.
    * networkMetrics over in/out/total degree) paid three scans. Here one
    * mapPartitions pass builds a (value → count) map per column and the
    * driver merges partition maps — identical counts, identical sorted
    * arrays, so every percentile is bit-identical to the per-column build.
    *
    * Only valid when the per-column distinct counts are collectable, so the
    * caller must pass the exact row count and it must be ≤
    * [[MaxLocalDistinct]] (distinct ≤ rows needs no probe); otherwise this
    * falls back to independent [[of]] builds per column.
    */
  def ofColumns(
      df: DataFrame,
      valueCols: Seq[String],
      knownN: Long
  ): Seq[ValueDist] = {
    val spark = df.sparkSession
    import spark.implicits._
    if (knownN > MaxLocalDistinct) return valueCols.map(c => of(df, c, Some(knownN)))
    val k = valueCols.length
    val perPartition = df
      .select(valueCols.map(c => col(c).cast("double")): _*)
      .mapPartitions { rows =>
        val maps = Array.fill(k)(new java.util.HashMap[Double, Long]())
        rows.foreach { r =>
          var i = 0
          while (i < k) {
            if (!r.isNullAt(i)) maps(i).merge(r.getDouble(i), 1L, (a, b) => a + b)
            i += 1
          }
        }
        if (maps.exists(!_.isEmpty))
          Iterator.single(maps.map(m => m.entrySet().iterator().asScala
            .map(e => (e.getKey.doubleValue(), e.getValue.longValue())).toArray))
        else Iterator.empty
      }(org.apache.spark.sql.Encoders.kryo[Array[Array[(Double, Long)]]])
      .collect()
    valueCols.indices.map { i =>
      val merged = new java.util.HashMap[Double, Long]()
      perPartition.foreach(_(i).foreach { case (v, c) =>
        merged.merge(v, c, (a, b) => a + b); ()
      })
      fromCounts(spark, knownN, pairsOf(merged), valueCols(i))
    }
  }

  /** The driver-local distribution of values already on the driver, by the
    * same sort, prefix sums and percentile rule as a collected column. As in
    * Spark's grouping, −0.0 counts as 0.0.
    */
  private[analytics] def ofValues(spark: SparkSession, values: Array[Double]): ValueDist = {
    val counts = new java.util.HashMap[Double, Long]()
    values.foreach(v => counts.merge(v + 0.0, 1L, (a, b) => a + b))
    fromCounts(spark, values.length, pairsOf(counts), "driver values")
  }

  private def pairsOf(counts: java.util.HashMap[Double, Long]): Array[(Double, Long)] =
    counts.entrySet().iterator().asScala.map(e => (e.getKey.doubleValue(), e.getValue.longValue())).toArray

  /** The driver-local regime from (distinct value, count) pairs: sorted by
    * value, with cumulative counts that must sum to `n`.
    */
  private def fromCounts(spark: SparkSession, n: Long, counts: Array[(Double, Long)], what: String): ValueDist = {
    val pairs = counts.sortBy(_._1)
    val vs = pairs.map(_._1)
    val cum = new Array[Long](pairs.length)
    var acc = 0L
    var i = 0
    while (i < pairs.length) { acc += pairs(i)._2; cum(i) = acc; i += 1 }
    require(acc == n, s"distinct-count sum $acc != expected n $n for $what")
    new ValueDist(n, spark, Some((vs, cum)), None)
  }

  /** Build the distribution of `valueCol` (cast to double). Nulls are dropped
    * (probes describe the non-null values, NumPy-dropna-style).
    *
    * @param knownN  NON-NULL row count if the caller already knows it (e.g. a
    *                zero-filled per-vertex table has exactly numVertices
    *                non-null rows) — skips the count job; the local regime's
    *                `require(acc == n)` trips loudly on a wrong value.
    * @param forceDistributed  test hook: exercise the distributed regime at any n.
    */
  def of(
      df: DataFrame,
      valueCol: String,
      knownN: Option[Long] = None,
      forceDistributed: Boolean = false
  ): ValueDist = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(valueCol).cast("double").as("__v")).filter(col("__v").isNotNull)
    val n = knownN.getOrElse(vals.count())
    val localOk = n <= SmallN && !forceDistributed &&
      (n <= MaxLocalDistinct ||
        vals.agg(approx_count_distinct(col("__v"))).first().getLong(0) <= MaxLocalDistinct)
    if (localOk) {
      val pairs = vals
        .groupBy(col("__v"))
        .agg(count(lit(1)).as("__c"))
        .as[(Double, Long)] // primitive-friendly collect: tuples, not boxed Rows
        .collect()
      fromCounts(spark, n, pairs, valueCol)
    } else {
      val (cumFrame, total, release) = NetworkAnalytics.cumulativeCounts(vals, "__v")
      new ValueDist(total, spark, None, Some((cumFrame, release)))
    }
  }
}
