package graft.analytics

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.model.ExecutionPolicy

/** One-pass distribution summary of a numeric column, serving EVERY
  * percentile / median / empirical-CDF / Gini probe from the same build
  * (round 2 rebuilt it once per probe; `networkMetrics` alone paid for it
  * three times and regressed 41× at sf0.1): the sorted distinct values with
  * their cumulative counts, held as ranges, range k owning the 0-based sort
  * indices `[starts(k), starts(k + 1))`. Two regimes, chosen per column by one
  * rule ([[ValueDist.of]]):
  *
  *  - '''Driver-local''': every task's sorted (value, count) runs fit its
  *    share of the policy's `driverBytes`, so the driver merges them into one
  *    range. A low-cardinality column of any length stays here; [[cdf]] is a
  *    broadcastable local relation.
  *  - '''Distributed''': one range per partition of an RDD that recounts the
  *    column: each task counts its values with no cap (a hash table over the
  *    task's distinct values, two longs a slot, at most half full, then their
  *    sorted runs), cuts the runs at splitters the driver fixed from the first
  *    job's samples and ships each piece to its range, which merges what it
  *    receives (one exchange); one job totals the ranges. The ranges are a
  *    deterministic function of the input and the splitters, so each probe
  *    re-reads the same shuffle output: nothing is cached or broadcast.
  *
  * Either way a `ValueDist` holds no cluster state and needs no release, and
  * each probe runs one code path over the ranges it reads, on the driver or
  * as one job. Both regimes group values as Spark does: −0.0 counts as 0.0
  * and every NaN is one value, sorted last. Percentile rule: NumPy linear
  * interpolation — t = (n−1)·p, result = v⌊t⌋ + (t−⌊t⌋)·(v⌈t⌉ − v⌊t⌋) over the
  * value owning each 0-based sort index (value v with cumulative count cum
  * and multiplicity c owns indices [cum−c, cum)).
  */
final class ValueDist private (
    val n: Long,
    spark: SparkSession,
    ranges: Either[ValueDist.Runs, RDD[ValueDist.Runs]], // cumulative runs: the driver's one range, or one a partition
    starts: Array[Long]
) {
  import ValueDist._

  /** True when all probes are served from driver arrays (no job). */
  def isLocal: Boolean = ranges.isLeft

  /** Exact percentiles (NumPy linear interpolation) for each p in 0..1. */
  def percentiles(ps: Seq[Double]): Seq[Double] = {
    require(ps.nonEmpty, "need at least one percentile")
    require(n > 0, "percentile of an empty column")
    val bounds = ps.map { p => val t = (n - 1) * p; (t, math.floor(t).toLong, math.ceil(t).toLong) }
    val idx = bounds.flatMap(b => Seq(b._2, b._3)).distinct.toArray
    val st = starts
    // the value at each 0-based sort index the interpolation reads, from the ranges that own them
    val valueAt = eachRange(idx.map(i => st.lastIndexWhere(_ <= i)).distinct.sorted.toSeq) { (k, r) =>
      idx.filter(i => st(k) <= i && i < st(k + 1)).map(i => i -> valueAtIndex(r, i))
    }.flatten.toMap
    bounds.map { case (t, lo, hi) =>
      val vlo = valueAt(lo)
      vlo + (valueAt(hi) - vlo) * (t - lo)
    }
  }

  def percentile(p: Double): Double = percentiles(Seq(p)).head

  /** Empirical-CDF mapping frame (__v, pct_rank) with pct_rank = 100·cum/n —
    * the share of values ≤ v (pagerank.py:371): a local relation
    * (broadcast-join it) in the driver-local regime, else a frame over the
    * ranges.
    */
  def cdf: DataFrame = {
    val total = n
    ranges match {
      case Left(r) => spark.createDataFrame(cdfRows(r, total).toSeq.asJava, CdfSchema)
      case Right(rdd) => spark.createDataFrame(rdd.flatMap(cdfRows(_, total)), CdfSchema)
    }
  }

  /** [[cdf]]'s pct_rank at `v`, a value of the column (driver-local regime). */
  private[analytics] def cdfAt(v: Double): Double = {
    val r = ranges.left.toOption.get
    val i = java.util.Arrays.binarySearch(r.vs, v + 0.0)
    require(i >= 0, s"$v is not a value of the column")
    r.cs(i).toDouble / n * 100.0
  }

  /** Gini coefficient (pagerank.py:221-243): G = 2·Σ(i·vᵢ)/(n·Σv) − (n+1)/n
    * with 1-based ranks i over the ascending values, 0 when n or Σv is 0. A
    * value v with count c and cumulative count cum holds ranks cum−c+1..cum,
    * so it adds v·c·(2·cum − c + 1)/2 to Σ(i·vᵢ) (ties share v, so their order
    * cannot change the sum). Each range gives its sums, added in range order.
    */
  def gini: Double = {
    val st = starts
    val sums = eachRange(st.indices.init) { (k, r) =>
      var (prev, iv, s) = (st(k), 0.0, 0.0)
      for (j <- r.vs.indices) {
        val c = (r.cs(j) - prev).toDouble
        iv += r.vs(j) * (c * (2.0 * r.cs(j) - c + 1) / 2)
        s += r.vs(j) * c
        prev = r.cs(j)
      }
      (iv, s)
    }
    val (sumIv, sumV) = (sums.map(_._1).sum, sums.map(_._2).sum)
    if (n == 0 || sumV == 0.0) 0.0 else 2.0 * sumIv / (n * sumV) - (n + 1.0) / n
  }

  /** `f(k, range k)` for each k of `ks`, in order: on the driver, or one job over those partitions. */
  private def eachRange[T: ClassTag](ks: Seq[Int])(f: (Int, Runs) => T): Seq[T] = ranges match {
    case Left(r) => ks.map(f(_, r))
    case Right(rdd) =>
      spark.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[Runs]) => f(ctx.partitionId(), it.next()), ks).toSeq
  }
}

object ValueDist {

  /** Sorted distinct values (ascending, NaN last) with their counts, or in a
    * built distribution their cumulative counts.
    */
  private[analytics] final case class Runs(vs: Array[Double], cs: Array[Long])

  /** Values a task samples from each column for the distributed regime's splitters (up to twice as many). */
  private val Samples = 256

  private val CdfSchema =
    StructType(Seq(StructField("__v", DoubleType, false), StructField("pct_rank", DoubleType, false)))

  /** Build the distributions of `valueCols` (each cast to double; nulls
    * dropped, NumPy-dropna-style) from one read of `df`.
    *
    * Each task reduces each column to its [[Runs]] and ships them when they fit
    * its equal share of `policy.driverBytes`: `driverBytes / (tasks ×
    * columns)` at 96 B per pair (16 B shipped, 16 B merged, 64 B for the
    * [[cdf]] relation's row). The driver merges a column's runs when every task
    * shipped them; `n` is the sum of their counts. A task past its share drops
    * its table and ships its sample instead, and the column takes the
    * distributed regime, its splitters drawn from what every task shipped.
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
      Iterator.single(counts.map(c => (c.overflowed, c.runs)))
    }.collect()
    valueCols.indices.map { i =>
      val column = shipped.map(_(i))
      if (!column.exists(_._1)) local(spark, column.map(_._2).toSeq)
      else distributed(spark, rows, i, mergeAll(column.map(_._2).toSeq))
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
    val n = m.cs.lastOption.getOrElse(0L)
    new ValueDist(n, spark, Left(m), Array(0L, n))
  }

  /** The distributed regime of column `i` of `rows`, one range per task of the
    * session's parallelism, split by `sample` (weighted values).
    */
  private def distributed(spark: SparkSession, rows: RDD[InternalRow], i: Int, sample: Runs): ValueDist = {
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    // p − 1 ascending splitters, each range about an equal share of the
    // sample's weight: range k holds the values in (splitters(k−1),
    // splitters(k)]. They may repeat (leaving a range empty) and only balance
    // the ranges, never change a result.
    val total = sample.cs.sum.toDouble
    var (cum, j) = (0.0, 0)
    val splitters = Array.tabulate(p - 1) { k =>
      while (j < sample.vs.length - 1 && cum + sample.cs(j) < total * (k + 1) / p) { cum += sample.cs(j); j += 1 }
      sample.vs(j)
    }
    val merged = rows
      .mapPartitions { it =>
        val counts = new Counts(Long.MaxValue)
        it.foreach(r => if (!r.isNullAt(i)) counts.add(r.getDouble(i)))
        val r = counts.runs
        // bounds(k) = the index of r's first value in range k
        val bounds = 0 +: splitters.map { s => val at = java.util.Arrays.binarySearch(r.vs, s); if (at >= 0) at + 1 else -at - 1 } :+
          r.vs.length
        (0 to splitters.length).iterator.filter(k => bounds(k) < bounds(k + 1)).map { k =>
          k -> Runs(r.vs.slice(bounds(k), bounds(k + 1)), r.cs.slice(bounds(k), bounds(k + 1)))
        }
      }
      .partitionBy(new HashPartitioner(p)) // identity on range indices
      .mapPartitions(it => Iterator.single(mergeAll(it.map(_._2).toIndexedSeq)))
    val starts = merged.map(_.cs.sum).collect().scanLeft(0L)(_ + _)
    val cumulative = merged.mapPartitionsWithIndex { (k, it) =>
      val r = it.next()
      var cum = starts(k)
      Iterator.single(Runs(r.vs, r.cs.map { c => cum += c; cum }))
    }
    new ValueDist(starts.last, spark, Right(cumulative), starts)
  }

  /** The value of cumulative runs `r` that owns the 0-based sort index `idx`. */
  private def valueAtIndex(r: Runs, idx: Long): Double = {
    var lo = 0
    var hi = r.vs.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (r.cs(mid) > idx) hi = mid else lo = mid + 1
    }
    r.vs(lo)
  }

  /** [[cdf]]'s rows from cumulative runs `r` of a column of `n` values. */
  private def cdfRows(r: Runs, n: Long): Iterator[Row] =
    r.vs.indices.iterator.map(i => Row(r.vs(i), r.cs(i).toDouble / n * 100.0))

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
    * NaN. Past `cap` distinct values it drops its table, and [[runs]] is its
    * sample: every `stride`-th value added (when the buffer fills, every other
    * one is kept and the stride doubles).
    */
  private final class Counts(cap: Long) {
    private var keys = new Array[Long](16)
    private var counts = new Array[Long](16) // 0 marks an empty slot
    private var size = 0
    private val sample = new Array[Double](2 * Samples)
    private var (sampled, stride, untilSample) = (0, 1L, 1L)

    def add(v: Double): Unit = {
      untilSample -= 1
      if (untilSample == 0) {
        sample(sampled) = v
        sampled += 1
        if (sampled == sample.length) {
          for (j <- 0 until Samples) sample(j) = sample(2 * j + 1)
          sampled = Samples
          stride *= 2
        }
        untilSample = stride
      }
      if (keys != null) {
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
    }

    /** True once past `cap`: the table is gone. */
    def overflowed: Boolean = keys == null

    /** The sorted (value, count) runs; once past `cap`, the sample's, each
      * sampled value counted as the `stride` values it stands for.
      */
    def runs: Runs =
      if (keys == null) {
        val s = new Counts(Long.MaxValue)
        (0 until sampled).foreach(j => s.add(sample(j)))
        val r = s.runs
        Runs(r.vs, r.cs.map(_ * stride))
      } else {
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
