package graft.analytics

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.model.ExecutionPolicy

/** One-pass distribution summary of a numeric column, serving EVERY
  * percentile / median / empirical-CDF probe from the same build — the fusion
  * layer over [[NetworkAnalytics.cumulativeCounts]] (round 2 rebuilt that
  * pipeline once per probe; `networkMetrics` alone paid for it three times and
  * regressed 41× at sf0.1).
  *
  * Two regimes, chosen per column by one rule ([[ValueDist.of]]):
  *
  *  - '''Driver-local''': every task's sorted (value, count) runs fit its
  *    share of the policy's `driverBytes`, so the driver merges them and
  *    prefix-sums the counts. A low-cardinality column of any length stays
  *    here. Every probe is then O(log d) driver work and [[cdf]] is a
  *    broadcastable local relation — zero persisted residue, nothing to
  *    release.
  *  - '''Distributed''': the two-phase ranked sum over distinct values
  *    (range-partition → local prefix sums → offset broadcast); the
  *    cumulative frame stays cached until [[release]] — callers own the
  *    lifecycle explicitly instead of leaking a session-lived cache (round-2
  *    `percentileRank` discarded the handle).
  *
  * Both regimes group values as Spark does: −0.0 counts as 0.0 and every NaN
  * is one value, sorted last. Percentile rule in both: NumPy linear
  * interpolation — t = (n−1)·p, result = v⌊t⌋ + (t−⌊t⌋)·(v⌈t⌉ − v⌊t⌋) over the
  * value owning each global 0-based sort index (value v with cumulative count
  * cum and multiplicity c owns indices [cum−c, cum)).
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
    val bounds = ps.map { p => val t = (n - 1) * p; (t, math.floor(t).toLong, math.ceil(t).toLong) }
    // the value at each 0-based sort index the interpolation reads
    val valueAt: Long => Double = local match {
      case Some((vs, cum)) => valueAtIndex(vs, cum, _)
      case None =>
        import spark.implicits._
        val idxDf = bounds.flatMap(b => Seq(b._2, b._3)).distinct.toDF("__i")
        distributed.get._1
          .join(broadcast(idxDf), col("__i") >= col("__cum") - col("__c") && col("__i") < col("__cum"))
          .select(col("__i"), col("__v"))
          .collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
          .toMap
    }
    bounds.map { case (t, lo, hi) =>
      val vlo = valueAt(lo)
      vlo + (valueAt(hi) - vlo) * (t - lo)
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

  /** Sorted distinct values (ascending, NaN last) with their counts. */
  private final case class Runs(vs: Array[Double], cs: Array[Long])

  /** Build the distributions of `valueCols` (each cast to double; nulls
    * dropped, NumPy-dropna-style) from one read of `df`.
    *
    * Each task reduces each column to its [[Runs]] and ships them when they fit
    * its equal share of `policy.driverBytes`: `driverBytes / (tasks ×
    * columns)` at 96 B per pair (16 B shipped, 16 B merged, 64 B for the
    * [[cdf]] relation's row). The driver merges a column's runs when every task
    * shipped them; `n` is the sum of their counts. A column whose runs
    * overflow any task's share takes the distributed regime instead.
    */
  def of(df: DataFrame, valueCols: Seq[String], policy: ExecutionPolicy = ExecutionPolicy()): Seq[ValueDist] = {
    val spark = df.sparkSession
    val k = valueCols.length
    val rows = df.select(valueCols.map(c => col(c).cast("double")): _*).queryExecution.toRdd
    val cap = policy.driverBytes / (math.max(1, rows.getNumPartitions).toLong * k) / 96
    val shipped = rows.mapPartitions { it =>
      val counts = Array.fill(k)(new Counts(cap))
      it.foreach { r =>
        var i = 0
        while (i < k) { if (!r.isNullAt(i)) counts(i).add(r.getDouble(i)); i += 1 }
      }
      Iterator.single(counts.map(_.runs))
    }.collect()
    valueCols.indices.map { i =>
      val runs = shipped.map(_(i))
      if (runs.forall(_ != null)) local(spark, runs.toSeq)
      else {
        val vals = df.select(col(valueCols(i)).cast("double").as("__v")).filter(col("__v").isNotNull)
        val (cumFrame, total, release) = NetworkAnalytics.cumulativeCounts(vals, "__v")
        new ValueDist(total, spark, None, Some((cumFrame, release)))
      }
    }
  }

  /** The driver-local distribution of values already on the driver, by the
    * same counting, merge and percentile rule as a column of a frame.
    */
  private[analytics] def ofValues(spark: SparkSession, values: Array[Double]): ValueDist = {
    val counts = new Counts(Long.MaxValue)
    values.foreach(counts.add)
    local(spark, Seq(counts.runs))
  }

  /** The driver-local regime from per-task runs: merged, then prefix-summed. */
  private def local(spark: SparkSession, runs: Seq[Runs]): ValueDist = {
    val m = mergeAll(runs)
    for (i <- 1 until m.cs.length) m.cs(i) += m.cs(i - 1)
    new ValueDist(m.cs.lastOption.getOrElse(0L), spark, Some((m.vs, m.cs)), None)
  }

  private def mergeAll(runs: Seq[Runs]): Runs =
    if (runs.isEmpty) Runs(Array.emptyDoubleArray, Array.emptyLongArray)
    else if (runs.length == 1) runs.head
    else {
      val (l, r) = runs.splitAt(runs.length / 2)
      merge(mergeAll(l), mergeAll(r))
    }

  /** Two sorted runs as one; a value in both gets the sum of its counts. */
  private def merge(a: Runs, b: Runs): Runs = {
    val (na, nb) = (a.vs.length, b.vs.length)
    val vs = new Array[Double](na + nb)
    val cs = new Array[Long](na + nb)
    var (i, j, m) = (0, 0, 0)
    while (i < na || j < nb) {
      val c = if (j == nb) -1 else if (i == na) 1 else java.lang.Double.compare(a.vs(i), b.vs(j))
      vs(m) = if (c <= 0) a.vs(i) else b.vs(j)
      if (c <= 0) { cs(m) += a.cs(i); i += 1 }
      if (c >= 0) { cs(m) += b.cs(j); j += 1 }
      m += 1
    }
    Runs(java.util.Arrays.copyOf(vs, m), java.util.Arrays.copyOf(cs, m))
  }

  /** One column's value counts in one task, open-addressed on the value's
    * bits. As in Spark's grouping, −0.0 counts as 0.0 and every NaN as one
    * NaN. Past `cap` distinct values it drops its table and [[runs]] is null.
    */
  private final class Counts(cap: Long) {
    private var keys = new Array[Long](16)
    private var counts = new Array[Long](16) // 0 marks an empty slot
    private var size = 0

    def add(v: Double): Unit = if (keys != null) {
      val bits = java.lang.Double.doubleToLongBits(v + 0.0) // −0.0 + 0.0 is 0.0; one NaN bit pattern
      val i = slot(bits)
      if (counts(i) == 0) {
        if (size >= cap) { keys = null; counts = null; return }
        keys(i) = bits
        size += 1
      }
      counts(i) += 1
      if (size * 2 > keys.length) grow()
    }

    def runs: Runs =
      if (keys == null) null
      else {
        val vs = keys.indices.filter(counts(_) != 0).map(i => java.lang.Double.longBitsToDouble(keys(i))).toArray
        java.util.Arrays.sort(vs)
        Runs(vs, vs.map(v => counts(slot(java.lang.Double.doubleToLongBits(v)))))
      }

    private def slot(bits: Long): Int = {
      val mask = keys.length - 1
      val h = bits * 0x9E3779B97F4A7C15L
      var i = (h ^ (h >>> 32)).toInt & mask
      while (counts(i) != 0 && keys(i) != bits) i = (i + 1) & mask
      i
    }

    private def grow(): Unit = {
      val (oldKeys, oldCounts) = (keys, counts)
      keys = new Array[Long](oldKeys.length * 2)
      counts = new Array[Long](oldKeys.length * 2)
      for (i <- oldKeys.indices if oldCounts(i) != 0) {
        val j = slot(oldKeys(i))
        keys(j) = oldKeys(i)
        counts(j) = oldCounts(i)
      }
    }
  }
}
