package graft.analytics

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}
import org.apache.spark.util.StatCounter

import graft.graph.LinkGraph
import graft.model.ExecutionPolicy

/** The reference's relational analytics re-expressed as Catalyst plans.
  * Every percentile is EXACT with np.percentile's linear-interpolation rule
  * (never percentile_approx: it breaks 1e-6 parity), served by [[ValueDist]] —
  * ONE distribution build per (frame, column) answers every threshold, the
  * median, the CDF and the Gini coefficient, each through one code path for
  * both of its regimes. A column too wide for the driver budget is counted
  * per task and merged per value range in one exchange, so no single task
  * ever holds all n values (SQL `percentile` is one ObjectHashAggregate
  * buffer: 8 GB in one task at 10⁹ vertices), and nothing is cached, pinned
  * or left to release. NumPy std is population σ → `stddev_pop`, not
  * Spark's default sample stddev. Threshold-dependent aggregates run as two
  * phases (percentile scalars first, then the conditional agg with literal
  * thresholds) because SQL forbids nesting aggregates.
  *
  * The degree analytics and the risk path keep the reference's NumPy shape,
  * as primitive passes rather than Catalyst plans: [[networkMetrics]] and
  * [[compositeRisk]] each read the cached degree table's rows in one partials
  * job ([[degreePartials]]), combined in partition order, and
  * [[highRiskProviders]] joins, masks and sorts collected vectors on the
  * driver while their rows fit the driver budget (its Catalyst plan above).
  */
object NetworkAnalytics {

  /** Gini coefficient of a column (pagerank.py:221-243) as a one-row frame:
    * [[ValueDist.gini]] of one [[ValueDist]] build (nulls dropped).
    */
  def gini(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(ValueDist.of(df, Seq(valueCol)).head.gini).toDF("gini")
  }

  /** Exact NumPy-interpolation percentiles, one [[ValueDist]] build serving
    * all requested ps (see ValueDist for the regime split; no single task
    * ever holds all n values in either regime).
    */
  def percentilesExact(df: DataFrame, valueCol: String, ps: Seq[Double]): Seq[Double] =
    ValueDist.of(df, Seq(valueCol)).head.percentiles(ps)

  /** Exact percentile (linear interpolation, NumPy-equal), distributed. */
  def percentileOfExact(df: DataFrame, valueCol: String, p: Double): Double =
    percentilesExact(df, valueCol, Seq(p)).head

  /** network_metrics block (pagerank.py:459-486) as a local single-row
    * DataFrame. Degrees are weighted row/column sums over the folded matrix,
    * zero-filled across all n vertices (reference arrays have length n).
    *
    * Two jobs over the cached degree table: one [[ValueDist]] build gives the
    * thresholds and medians, then one partials pass ([[degreePartials]])
    * gives each partition's out- and in-degree `StatCounter`s (count, max,
    * Welford mean and M2, as `stddev_pop` keeps them), the counts above the
    * thresholds, the isolated count and the imbalance sum, merged in
    * partition order. No Catalyst aggregate or exchange runs.
    */
  def networkMetrics(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val deg = graph.degreeTable.withColumn("totalDeg", $"inDeg" + $"outDeg")
    val nnz = graph.numEdges // distinct (src,dst) pairs = G.nnz
    val n = graph.numVertices

    // thresholds + medians: ONE distribution job over the CACHED degree table
    // serves all three columns, each dist then serving both of its probes
    val Seq(distOut, distIn, distTot) = ValueDist.of(deg, Seq("outDeg", "inDeg", "totalDeg"), graph.policy)
    val Seq(p90out, medOut) = distOut.percentiles(Seq(0.9, 0.5))
    val Seq(p90in, medIn) = distIn.percentiles(Seq(0.9, 0.5))
    val p95tot = distTot.percentile(0.95)

    // per partition: out- and in-degree stats; above p90 out, in; isolated; above p95 total; imbalance sum
    val (_, partials) = degreePartials(graph)(() => (new StatCounter, new StatCounter, new Array[Double](5))) {
      case ((o, i, c), in, out) =>
        o.merge(out); i.merge(in)
        if (out > p90out) c(0) += 1
        if (in > p90in) c(1) += 1
        if (in + out == 0.0) c(2) += 1
        if (in + out > p95tot) c(3) += 1
        c(4) += imbalance(in, out)
    }
    val (o, i) = (new StatCounter, new StatCounter) // merged in partition order (Chan et al.)
    partials.foreach { case (po, pi, _) => o.merge(po); i.merge(pi) }
    val c = Array.tabulate(5)(k => partials.foldLeft(0.0)(_ + _._3(k)))
    val row = Row(n, nnz, if (n > 1) nnz.toDouble / (n.toDouble * (n - 1)) else 0.0,
      o.mean, medOut, o.popStdev, o.max.toLong, c(0) / n, i.mean, medIn, i.popStdev, i.max.toLong, c(1) / n,
      c(2).toLong, c(3).toLong, c(4) / o.count)
    spark.createDataFrame(java.util.Collections.singletonList(row), MetricsSchema)
  }

  /** [[networkMetrics]]' columns, in order, typed as the reference's aggregate types them. */
  private val MetricsSchema = StructType.fromDDL(
    "total_providers BIGINT NOT NULL, total_referrals BIGINT NOT NULL, network_density DOUBLE NOT NULL, " +
      "average_referrals_out DOUBLE, median_referrals_out DOUBLE NOT NULL, std_referrals_out DOUBLE, " +
      "max_referrals_out BIGINT, referral_concentration_out DOUBLE, average_referrals_in DOUBLE, " +
      "median_referrals_in DOUBLE NOT NULL, std_referrals_in DOUBLE, max_referrals_in BIGINT, " +
      "referral_concentration_in DOUBLE, isolated_providers BIGINT, hub_providers BIGINT, " +
      "referral_imbalance_ratio DOUBLE")

  /** One job over the cached degree table's (vid, inDeg, outDeg) rows (also
    * returned, for a lazy map): each partition folds every row's `add(p, in,
    * out)` into a fresh `init()`; the partials come back in partition order.
    */
  private def degreePartials[P: ClassTag](graph: LinkGraph)(init: () => P)(add: (P, Double, Double) => Unit)
      : (RDD[InternalRow], Array[P]) = {
    val rows = graph.degreeTable.select(col("vid"), col("inDeg"), col("outDeg")).queryExecution.toRdd
    (rows, rows.mapPartitions { it =>
      val p = init()
      it.foreach(r => add(p, r.getDouble(1), r.getDouble(2)))
      Iterator.single(p)
    }.collect())
  }

  /** Composite risk scores (pagerank.py:690-713): equal-weight mix of
    * connectivity, referral imbalance, and (inverse-degree) isolation risk,
    * each min-max scaled, plus 0.001 baseline; normalized to sum 1.
    * Returns non-null (long vid, double value), vid-ascending.
    *
    * One implementation for every size, over the rows of the cached degree
    * table: one job of per-partition partials gives the three maxes and the
    * column sums whose scaled mix is the total (combined in partition order).
    * The result is a lazy per-partition map of that table — each row's
    * `(0.001 + ⅓·(c/max) + …) / total` with the maxes and the total captured
    * as scalars — so nothing is collected, pinned or cached beside the table.
    */
  def compositeRisk(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    // per partition: max and sum of connectivity, imbalance and isolation, rows
    val (rows, partials) = degreePartials(graph)(() => new Array[Double](7)) { (p, in, out) =>
      val c = components(in, out)
      for (k <- 0 until 3) { p(k) = math.max(p(k), c(k)); p(3 + k) += c(k) }
      p(6) += 1
    }
    val maxes = Array.tabulate(3)(k => partials.foldLeft(0.0)((m, p) => math.max(m, p(k))))
    val sums = Array.tabulate(3)(k => partials.foldLeft(0.0)(_ + _(3 + k)))
    val total = 0.001 * partials.foldLeft(0.0)(_ + _(6)) +
      mixTerm(sums(0), maxes(0)) + mixTerm(sums(1), maxes(1)) + mixTerm(sums(2), maxes(2))
    spark.createDataset(rows.mapPartitions(_.map { r =>
      val c = components(r.getDouble(1), r.getDouble(2))
      (r.getLong(0), (0.001 + mixTerm(c(0), maxes(0)) + mixTerm(c(1), maxes(1)) + mixTerm(c(2), maxes(2))) / total)
    })).toDF("vid", "value")
  }

  /** Connectivity, referral imbalance and isolation of one vertex. */
  private def components(in: Double, out: Double): Array[Double] =
    Array(in + out, imbalance(in, out), 1.0 / (1.0 + (in + out)))

  /** Referral imbalance of one vertex (pagerank.py:483, :699). */
  private def imbalance(in: Double, out: Double): Double = if (in > 0) out / (in + 1e-10) else out

  /** One ⅓-weighted min-max term (zero when the component's max is not positive). */
  private def mixTerm(c: Double, max: Double): Double = if (max > 0) 1.0 / 3 * (c / max) else 0.0

  /** risk_statistics block (pagerank.py:307-362) over propagated risk (vid,
    * value) joined with the original prior (vid, value). Single-row DataFrame.
    */
  def riskStatistics(propagated: DataFrame, prior: DataFrame): DataFrame = {
    val spark = propagated.sparkSession
    import spark.implicits._
    val joined = propagated
      .select($"vid", $"value".as("x"))
      .join(prior.select($"vid", $"value".as("r0")), Seq("vid"))
      .withColumn("amp", when($"r0" > 0, $"x" / $"r0").otherwise(lit(1.0)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ONE distribution build serves all four thresholds + the median
    val Seq(dist) = ValueDist.of(joined, Seq("x"))
    val Seq(t90, t95, t99, medRisk) = dist.percentiles(Seq(0.9, 0.95, 0.99, 0.5))

    val aggDf = joined.agg(
      avg($"x").as("mean_risk"),
      lit(medRisk).as("median_risk"),
      stddev_pop($"x").as("std_risk"),
      max($"x").as("max_risk"),
      min($"x").as("min_risk"),
      (sum(when($"x" > lit(t90), $"x")) / sum($"x")).as("risk_concentration_90"),
      (sum(when($"x" > lit(t95), $"x")) / sum($"x")).as("risk_concentration_95"),
      (sum(when($"x" > lit(t99), $"x")) / sum($"x")).as("risk_concentration_99"),
      lit(t95).as("var_95"),
      lit(t99).as("var_99"),
      avg(when($"x" >= lit(t95), $"x")).as("expected_shortfall_95"),
      avg(when($"x" >= lit(t99), $"x")).as("expected_shortfall_99"),
      avg($"amp").as("mean_amplification"),
      max($"amp").as("max_amplification"),
      sum(when($"x" > lit(t90), 1L).otherwise(0L)).as("high_risk_count"),
      sum(when($"x" > lit(t99), 1L).otherwise(0L)).as("extreme_risk_count"),
      lit(t90).as("risk_threshold_90"),
      lit(t95).as("risk_threshold_95"),
      lit(t99).as("risk_threshold_99"))
    // single-row result: evaluate eagerly so the joined cache can be dropped
    // with zero persisted residue, and return a local relation
    val row = aggDf.collect()(0)
    joined.unpersist(false)
    spark.createDataFrame(java.util.Collections.singletonList(row), aggDf.schema)
  }

  /** Per-provider high-risk records (pagerank.py:364-386): the inner join of
    * the propagated risk x and the prior r0 on vid, kept where x is above its
    * p90, with amplification and empirical-CDF percentile, sorted by risk desc
    * (vid tiebreak for determinism).
    *
    * Inputs as (long vid, double value) with no null and no repeated vid run
    * in the reference's shape on the driver when their rows, charged 32 B each
    * over both sides, fit the default policy's `driverBytes` (about 1M rows
    * per side): two jobs with no shuffle count and collect both,
    * and the driver joins them by vid, takes p90 and the CDF from one
    * driver-built [[ValueDist]], masks, sorts and returns a driver-built
    * frame. Any other input runs the Catalyst plan ([[highRiskPlan]]), with
    * the same columns, types and row order.
    */
  def highRiskProviders(propagated: DataFrame, prior: DataFrame): DataFrame =
    driverVectors(Seq(propagated, prior), ExecutionPolicy().driverBytes)
      .flatMap(v => highRiskOnDriver(propagated.sparkSession, v(0), v(1)))
      .getOrElse(highRiskPlan(propagated, prior))

  /** [[highRiskProviders]] on collected (vid, x) and (vid, r0) vectors; None
    * when a vid repeats. Comparisons follow Spark SQL's double order (−0.0
    * equals 0.0, NaN above every number).
    */
  private def highRiskOnDriver(
      spark: SparkSession, x: (Array[Long], Array[Double]), r0: (Array[Long], Array[Double])): Option[DataFrame] = {
    val ((xk, xv), (rk, rv)) = (x, r0)
    LinkGraph.dualSort(xk, xv, 0, xk.length - 1)
    LinkGraph.dualSort(rk, rv, 0, rk.length - 1)
    if (Seq(xk, rk).exists(k => (1 until k.length).exists(i => k(i) == k(i - 1)))) return None
    val (vid, xs, rs) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofDouble,
      new mutable.ArrayBuilder.ofDouble)
    var (i, j) = (0, 0)
    while (i < xk.length && j < rk.length) {
      if (xk(i) < rk(j)) i += 1
      else if (xk(i) > rk(j)) j += 1
      else { vid += xk(i); xs += xv(i); rs += rv(j); i += 1; j += 1 }
    }
    val (vids, risk, orig) = (vid.result(), xs.result(), rs.result())
    def gt(a: Double, b: Double): Boolean = SQLOrderingUtil.compareDoubles(a, b) > 0
    val dist = ValueDist.ofValues(spark, risk)
    val thr = dist.percentile(0.9)
    val keep = risk.indices.filter(k => gt(risk(k), thr)).toArray.sortWith { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(risk(a), risk(b))
      c > 0 || c == 0 && vids(a) < vids(b)
    }
    def column(f: Int => Double): Array[Double] = keep.map(f)
    val keptVids: Array[Long] = keep.map(vids(_))
    Some(LinkGraph.arraysFrame(spark, keep.length, None, Seq(
      "vid" -> keptVids,
      "risk_score" -> column(risk(_)),
      "original_risk" -> column(orig(_)),
      "amplification_factor" -> column(k => if (gt(orig(k), 0.0)) risk(k) / orig(k) else 1.0),
      "risk_percentile" -> column(k => dist.cdfAt(risk(k))))))
  }

  /** Each frame's (vid, value) rows as driver arrays in row order, or None
    * when a frame is not (long vid, double value), the frames' rows at 32 B
    * each reach `driverBytes`, or a frame holds a null. Two jobs with no
    * shuffle: one counts each partition's rows, and only under the budget
    * does the second collect.
    */
  private def driverVectors(frames: Seq[DataFrame], driverBytes: Long): Option[Seq[(Array[Long], Array[Double])]] = {
    def typed(f: DataFrame, name: String, t: DataType) = f.schema.exists(c => c.name == name && c.dataType == t)
    if (!frames.forall(f => typed(f, "vid", LongType) && typed(f, "value", DoubleType))) return None
    val sc = frames.head.sparkSession.sparkContext
    val rows = frames.map(_.select("vid", "value").queryExecution.toRdd)
    def each[T](f: Iterator[InternalRow] => T): Array[(Int, T)] =
      sc.union(rows.zipWithIndex.map { case (r, side) => r.mapPartitions(it => Iterator.single((side, f(it)))) })
        .collect()
    val counts = each(_.size.toLong)
    if (counts.map(_._2).sum * 32 >= driverBytes) return None
    val parts = each(LinkGraph.vectorBatch)
    if (parts.exists(_._2.isEmpty)) None
    else Some(frames.indices.map { side =>
      val mine = parts.filter(_._1 == side).map(_._2.get)
      (mine.flatMap(_.a), mine.flatMap(_.w))
    })
  }

  /** [[highRiskProviders]] as a Catalyst plan: a join, one [[ValueDist]]
    * build for both the p90 threshold and the CDF join, a filter and a sort.
    */
  private[graft] def highRiskPlan(propagated: DataFrame, prior: DataFrame): DataFrame = {
    val spark = propagated.sparkSession
    import spark.implicits._
    val joined = propagated
      .select($"vid", $"value".as("x"))
      .join(prior.select($"vid", $"value".as("r0")), Seq("vid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Seq(dist) = ValueDist.of(joined, Seq("x"))
    val thr = dist.percentile(0.9)
    val out = joinCdf(joined, "x", dist)
      .withColumnRenamed("pct_rank", "risk_percentile")
      .filter($"x" > lit(thr))
      .select(
        $"vid",
        $"x".as("risk_score"),
        $"r0".as("original_risk"),
        when($"r0" > 0, $"x" / $"r0").otherwise(lit(1.0)).as("amplification_factor"),
        $"risk_percentile")
      .orderBy($"risk_score".desc, $"vid")
    // the result re-runs the (cheap) join when read; the distribution's
    // ranges hold no cache, so the scratch cache can go now
    joined.unpersist(false)
    out
  }

  /** hubs/authorities/central categories (pagerank.py:444-455): vertices above
    * the p90 of out-degree / in-degree / rank score respectively.
    */
  def keyProviders(graph: LinkGraph, ranks: DataFrame): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val joined = graph.degreeTable
      .join(ranks.select($"vid", $"value".as("score")), Seq("vid"), "left")
      .na.fill(0.0, Seq("score"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the result reads the cache (round 3 unpersisted it first, so every
    // later consumption re-ran the degree⋈ranks join); the graph's
    // unpersistAll releases it
    graph.releaseOnUnpersist(() => joined.unpersist(false))
    // one distribution job answers all three thresholds
    val Seq(hubThr, authThr, centThr) =
      ValueDist.of(joined, Seq("outDeg", "inDeg", "score"), graph.policy).map(_.percentile(0.9))
    joined
      .select(
        $"vid", $"score".as("centrality_score"),
        $"outDeg".as("referrals_out"), $"inDeg".as("referrals_in"),
        ($"outDeg" > lit(hubThr)).as("is_hub"),
        ($"inDeg" > lit(authThr)).as("is_authority"),
        ($"score" > lit(centThr)).as("is_central"))
      .filter($"is_hub" || $"is_authority" || $"is_central")
      .orderBy($"vid")
  }

  /** Band (quantile-trim) filter: keep rows with value inside the
    * [loQ, hiQ] percentile band — the reference trims q1..q99 outliers before
    * plotting distributions (visualizations.py:232-234, :824-826).
    */
  def bandFilter(df: DataFrame, valueCol: String, loQ: Double = 0.01, hiQ: Double = 0.99): DataFrame = {
    val Seq(lo, hi) = percentilesExact(df, valueCol, Seq(loQ, hiQ))
    df.filter(col(valueCol).cast("double").between(lo, hi))
  }

  /** Outlier-trimmed histogram: band-filter to the [loQ, hiQ] percentile band,
    * then bin what remains (visualizations.py:232-236 trim-then-hist shape).
    */
  def trimmedHistogram(
      df: DataFrame,
      valueCol: String,
      bins: Int,
      loQ: Double = 0.01,
      hiQ: Double = 0.99
  ): DataFrame =
    histogram(bandFilter(df, valueCol, loQ, hiQ), valueCol, bins)

  /** Fixed-bin equi-width histogram over observed [min, max] — matplotlib
    * semantics: the max value falls in the LAST bin (right edge inclusive).
    * (visualizations.py:236 etc.) Returns (bin, lo, hi, cnt) sorted by bin.
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val mm = df.agg(min(v).as("lo"), max(v).as("hi")).first()
    val lo = mm.getDouble(0)
    val hi = mm.getDouble(1)
    val width = if (hi > lo) (hi - lo) / bins else 1.0
    df.select(
        least(floor((v - lit(lo)) / lit(width)), lit(bins - 1L)).cast("long").as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("cnt"))
      .select($"bin", (lit(lo) + $"bin" * lit(width)).as("lo"),
        (lit(lo) + ($"bin" + 1) * lit(width)).as("hi"), $"cnt")
      .orderBy($"bin")
  }

  /** Rank-ordered score curve with strided decimation
    * (visualizations.py:211-221): top-k kept, then every `step`-th rank.
    */
  def rankCurve(scores: DataFrame, valueCol: String, top: Int, step: Int, limit: Int): DataFrame = {
    val spark = scores.sparkSession
    import spark.implicits._
    // TakeOrderedAndProject keeps the global sort distributed; the window only
    // ever sees the tiny prefix it needs (top + step·limit rows).
    val need = math.max(top, step * limit)
    val prefix = scores
      .orderBy(col(valueCol).desc, $"vid")
      .limit(need)
    prefix
      .withColumn("rank", row_number().over(Window.orderBy(col(valueCol).desc, $"vid")))
      .filter($"rank" <= top || ($"rank" % step === 0 && $"rank" <= step.toLong * limit))
      .select($"rank", col(valueCol).as("score"))
      .orderBy($"rank")
  }

  /** Empirical CDF percentile (pagerank.py:371): share of values <= v, ×100,
    * as a join against one [[ValueDist]] build's [[ValueDist.cdf]]: broadcast
    * when the distribution is driver-local, else a plain join against its
    * ranges (no single-partition window — round 1 fed ~n distinct doubles
    * through one task here). Nothing is cached or pinned: the result is lazy
    * and re-reads the distribution's shuffle output when evaluated.
    */
  def percentileRank(df: DataFrame, valueCol: String): DataFrame =
    joinCdf(df, valueCol, ValueDist.of(df, Seq(valueCol)).head)

  private def joinCdf(df: DataFrame, valueCol: String, dist: ValueDist): DataFrame = {
    val cdf = if (dist.isLocal) broadcast(dist.cdf) else dist.cdf
    df.join(cdf, col(valueCol).cast("double") === col("__v")).drop("__v")
  }
}
