package graft

import org.apache.spark.sql.functions._

import graft.analytics.{NetworkAnalytics, ValueDist}
import graft.graph.LinkGraph
import graft.model.ExecutionPolicy

class AnalyticsSpec extends GraftSuite {
  import spark.implicits._

  /** numpy-equivalent percentile (linear interpolation) on a sorted array. */
  private def npPercentile(sorted: Array[Double], p: Double): Double = {
    val idx = p / 100.0 * (sorted.length - 1)
    val lo = math.floor(idx).toInt
    val hi = math.ceil(idx).toInt
    if (lo == hi) sorted(lo) else sorted(lo) + (idx - lo) * (sorted(hi) - sorted(lo))
  }

  /** reference Gini (pagerank.py:221-243) verbatim. */
  private def refGini(values: Array[Double]): Double = {
    val s = values.sorted
    val n = s.length
    val cum = s.sum
    (2.0 * s.zipWithIndex.map { case (v, i) => (i + 1) * v }.sum) / (n * cum) - (n + 1.0) / n
  }

  private val vals = Array(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0)

  test("exact percentile matches numpy linear interpolation") {
    val df = vals.toSeq.toDF("v")
    for (p <- Seq(50, 90, 95, 99)) {
      val got = NetworkAnalytics.percentileOfExact(df, "v", p / 100.0)
      val want = npPercentile(vals.sorted, p)
      assert(math.abs(got - want) < 1e-12, s"p$p: got $got want $want")
    }
  }

  test("distributed percentiles match numpy on a 10k multi-partition fixture") {
    val rng = new scala.util.Random(3)
    val big = Array.fill(10000)(math.floor(rng.nextDouble() * 4000.0) / 4.0 - 500.0) // heavy ties
    val df = big.toSeq.toDF("v").repartition(7)
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.95, 0.99, 1.0)
    val got = NetworkAnalytics.percentilesExact(df, "v", ps)
    val sorted = big.sorted
    ps.zip(got).foreach { case (p, g) =>
      val want = npPercentile(sorted, p * 100)
      assert(math.abs(g - want) <= 1e-9 * math.max(1.0, math.abs(want)), s"p=$p got $g want $want")
    }
  }

  test("percentileRank is the empirical CDF (share <= v, x100), no global window") {
    val df = vals.toSeq.toDF("v")
    val got = NetworkAnalytics.percentileRank(df, "v")
      .select($"v", $"pct_rank").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    vals.distinct.foreach { v =>
      val want = vals.count(_ <= v).toDouble / vals.length * 100.0
      assert(math.abs(got(v) - want) < 1e-12, s"v=$v")
    }
  }

  test("band filter keeps exactly the [q1, q99] percentile band") {
    val rng = new scala.util.Random(5)
    val data = Array.fill(2000)(rng.nextGaussian())
    val kept = NetworkAnalytics.bandFilter(data.toSeq.toDF("v"), "v", 0.01, 0.99)
      .collect().map(_.getDouble(0))
    val sorted = data.sorted
    val lo = npPercentile(sorted, 1)
    val hi = npPercentile(sorted, 99)
    assert(kept.length == data.count(x => x >= lo && x <= hi))
    assert(kept.forall(x => x >= lo && x <= hi))
  }

  test("gini matches the reference formula") {
    val df = vals.toSeq.toDF("v")
    val got = NetworkAnalytics.gini(df, "v").first().getDouble(0)
    assert(math.abs(got - refGini(vals)) < 1e-12)
    // known extremes
    val equal = NetworkAnalytics.gini(Seq(2.0, 2.0, 2.0, 2.0).toDF("v"), "v").first().getDouble(0)
    assert(math.abs(equal) < 1e-12)
  }

  test("stddev is population (numpy), not sample") {
    val df = vals.toSeq.toDF("v")
    val mean = vals.sum / vals.length
    val popStd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.length)
    val got = df.agg(stddev_pop($"v")).first().getDouble(0)
    assert(math.abs(got - popStd) < 1e-12)
  }

  test("histogram puts the max value in the last bin (matplotlib semantics)") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val hist = NetworkAnalytics.histogram(df, "v", 10).collect()
    assert(hist.map(_.getAs[Long]("cnt")).sum == 100)
    assert(hist.map(_.getAs[Long]("bin")).max == 9)
    val last = hist.find(_.getAs[Long]("bin") == 9).get
    assert(last.getAs[Long]("cnt") == 10) // 91..100, max inclusive
  }

  /** pagerank.py:690-713 on degree arrays: each component min-max scaled
    * (zero when its max is not positive), mixed with ⅓ weights on a 0.001
    * baseline, normalized to sum 1.
    */
  private def compositeReference(in: Array[Double], out: Array[Double]): Array[Double] = {
    val total = in.indices.map(v => in(v) + out(v)).toArray
    val imbalance = in.indices.map(v => if (in(v) > 0) out(v) / (in(v) + 1e-10) else out(v)).toArray
    val isolation = total.map(t => 1.0 / (1.0 + t))
    def scaled(a: Array[Double]) = { val m = a.max; a.map(x => if (m > 0) x / m else 0.0) }
    val (c, i, o) = (scaled(total), scaled(imbalance), scaled(isolation))
    val raw = in.indices.map(v => 0.001 + (1.0 / 3) * c(v) + (1.0 / 3) * i(v) + (1.0 / 3) * o(v)).toArray
    raw.map(_ / raw.sum)
  }

  test("composite risk is a probability distribution with the 0.001 baseline mix") {
    // dense-by-max ids: vertex 4 has no edge at all, vertex 5 no in-edge, and
    // the duplicate 1→2 rows give a weight of 2
    val edges = Seq((0L, 1L), (1L, 2L), (1L, 2L), (2L, 0L), (3L, 0L), (5L, 3L), (2L, 6L), (6L, 6L))
    val g = LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = 2, idMode = LinkGraph.IdMode.DenseByMax)
    val n = g.numVertices.toInt
    val (in, out) = (new Array[Double](n), new Array[Double](n))
    edges.foreach { case (s, d) => out(s.toInt) += 1; in(d.toInt) += 1 }
    assert(in(4) + out(4) == 0.0 && in(5) == 0.0 && out(5) > 0)
    val want = compositeReference(in, out)
    val d = under(g, distributedOnly)
    for (view <- Seq(g, d)) {
      val risk = NetworkAnalytics.compositeRisk(view)
      assert(risk.schema.map(f => (f.name, f.dataType)) ==
        Seq("vid" -> org.apache.spark.sql.types.LongType, "value" -> org.apache.spark.sql.types.DoubleType))
      val got = risk.as[(Long, Double)].collect()
      assert(got.map(_._1).toSeq == (0L until n), "one row per vertex, vid-ascending")
      got.foreach { case (v, x) =>
        assert(math.abs(x - want(v.toInt)) <= 1e-12 * want(v.toInt), s"vid $v (${view.policy}): $x vs ${want(v.toInt)}")
      }
      assert(math.abs(got.map(_._2).sum - 1.0) < 1e-12)
      assert(got.forall(_._2 > 0))
    }
    d.unpersistAll()
    g.unpersistAll()
  }

  test("high-risk providers equal a brute-force reference and the Catalyst plan") {
    // np.percentile's linear rule over the joined x, share <= v as the CDF,
    // rows above p90 by (risk desc, vid)
    def reference(x: Seq[(Long, Double)], r0: Seq[(Long, Double)]): Seq[(Long, Double, Double, Double, Double)] = {
      val prior = r0.toMap
      val joined = x.filter(r => prior.contains(r._1)).map { case (v, xv) => (v, xv, prior(v)) }
      val sorted = joined.map(_._2).sorted.toArray
      val thr = npPercentile(sorted, 90)
      joined.filter(_._2 > thr)
        .map { case (v, xv, r) =>
          (v, xv, r, if (r > 0) xv / r else 1.0, sorted.count(_ <= xv).toDouble / sorted.length * 100.0)
        }
        .sortBy(r => (-r._2, r._1))
    }
    def frame(rows: Seq[(Long, Double)]) = spark.sparkContext.parallelize(rows, 3).toDF("vid", "value")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Double, Double, Double)].collect().toSeq
    val rng = new scala.util.Random(29)
    val cases = Seq(
      // ties straddling p90: sorted x(16..18) = 0.5 and the threshold is 0.5
      "ties at p90" -> (Seq.tabulate(20)(i => (i.toLong, if (i < 16) i / 100.0 else if (i < 19) 0.5 else 0.7)),
        Seq.tabulate(20)(i => (i.toLong, 0.05))),
      // heavy random ties over shuffled vids: equal risks are ordered by vid alone
      "vid breaks ties" -> (rng.shuffle((0 until 300).toList).map(v => (v.toLong, rng.nextInt(12) / 8.0)),
        (0 until 300).map(v => (v.toLong, rng.nextInt(5) / 4.0))),
      // vids on one side only are dropped by the inner join; r0 = 0 amplifies by 1.0
      "missing vids, r0 = 0" -> ((0 until 60).map(v => (v.toLong * 2, ((v * 37) % 23).toDouble)),
        (0 until 90).filter(_ % 3 != 0).map(v => (v.toLong, if (v % 4 == 2) 0.0 else v / 10.0))),
      "single row" -> (Seq((7L, 0.25)), Seq((7L, 0.5))))
    for ((name, (x, r0)) <- cases) {
      val want = reference(x, r0)
      val ((got, schema), ran) = recorded {
        val out = NetworkAnalytics.highRiskProviders(frame(x), frame(r0))
        (rowsOf(out), out.schema)
      }
      val plan = NetworkAnalytics.highRiskPlan(frame(x), frame(r0))
      assert(got == want, name)
      assert(rowsOf(plan) == want, name)
      assert(ran.shuffles == 0, s"$name: the driver path writes no shuffle")
      assert(schema.map(f => (f.name, f.dataType)) == plan.schema.map(f => (f.name, f.dataType)), name)
    }
    // a repeated vid, a null or an int vid takes the Catalyst plan
    val x = frame((1 to 10).map(v => (v.toLong, v / 10.0)))
    val r0 = (1 to 10).map(v => (v.toLong, 1.0))
    for ((p, q) <- Seq(x -> frame(r0 :+ ((1L, 2.0))),
        x -> (r0.init.map { case (v, w) => (v, Double.box(w)) } :+ ((10L, null: java.lang.Double))).toDF("vid", "value"),
        x.select($"vid".cast("int").as("vid"), $"value") -> frame(r0))) {
      val (got, ran) = recorded(NetworkAnalytics.highRiskProviders(p, q).collect().toSeq)
      assert(ran.shuffles > 0 && got.nonEmpty && got == NetworkAnalytics.highRiskPlan(p, q).collect().toSeq)
    }
    assert(reference(cases(0)._2._1, cases(0)._2._2).map(_._1) == Seq(19L))
    assert(reference(cases(2)._2._1, cases(2)._2._2).exists(r => r._3 == 0.0 && r._4 == 1.0))
  }

  test("seeded sample is exact-k, a subset, and parallelism-independent") {
    import graft.analytics.FullAnalysis
    val data = (0 until 500).map(i => (i.toLong, s"row$i"))
    val narrow = data.toDF("id", "tag").repartition(1)
    val wide = data.toDF("id", "tag").repartition(7)
    val s1 = FullAnalysis.seededSample(narrow, 50, seed = 9).collect().map(_.getLong(0)).toSeq
    val s2 = FullAnalysis.seededSample(wide, 50, seed = 9).collect().map(_.getLong(0)).toSeq
    assert(s1.size == 50 && s1.distinct.size == 50)
    assert(s1 == s2, "sample must not depend on the input partitioning")
    assert(s1.toSet.subsetOf(data.map(_._1).toSet))
    val other = FullAnalysis.seededSample(wide, 50, seed = 10).collect().map(_.getLong(0)).toSeq
    assert(other != s1, "different seed, different sample")
  }

  test("ValueDist: distributed regime matches the driver-local regime and numpy") {
    import graft.analytics.ValueDist
    val rng = new scala.util.Random(11)
    val data = Array.fill(8000)(math.floor(rng.nextDouble() * 2000.0) / 8.0 - 100.0)
    val df = data.toSeq.toDF("v").repartition(5)
    val ps = Seq(0.0, 0.01, 0.5, 0.9, 0.95, 0.99, 1.0)
    val Seq(local) = ValueDist.of(df, Seq("v"))
    assert(local.isLocal)
    val Seq(forced) = ValueDist.of(df, Seq("v"), distributedOnly)
    assert(!forced.isLocal)
    val a = local.percentiles(ps)
    val b = forced.percentiles(ps)
    val sorted = data.sorted
    ps.indices.foreach { i =>
      val want = npPercentile(sorted, ps(i) * 100)
      assert(math.abs(a(i) - want) < 1e-9, s"local p=${ps(i)}")
      assert(math.abs(b(i) - want) < 1e-9, s"distributed p=${ps(i)}")
    }
    // CDF parity between regimes
    val cdfL = local.cdf.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val cdfD = forced.cdf.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(cdfL.keySet == cdfD.keySet)
    cdfL.foreach { case (v, p) => assert(math.abs(cdfD(v) - p) < 1e-9, s"v=$v") }
    // each probe of the distributed regime is one job over the ranges' shuffle
    // output, written once by the build: reading it again writes none
    val (_, probe) = recorded(forced.percentiles(ps))
    assert(probe.jobs.length == 1 && probe.shuffles == 0, s"${probe.jobs.length} jobs, ${probe.shuffles} shuffles")
    val (_, read) = recorded(forced.cdf.collect())
    assert(read.jobs.nonEmpty && read.shuffles == 0, s"reading the cdf wrote ${read.shuffles} shuffles")
  }

  test("percentile machinery leaves no cached state behind (round-2 leak fix)") {
    import graft.analytics.ValueDist
    val narrow = (1 to 3000).map(i => (i.toLong, (i % 97).toDouble)).toDF("vid", "value")
    // unique doubles: each task's runs overflow its share of the default
    // driverBytes, so the graph-less callers take the distributed regime
    val wide = spark.range(0, 1L << 20, 1, 4).selectExpr("id as vid", "cast(id as double) / 8 as value")
    assert(ValueDist.of(narrow, Seq("value")).head.isLocal && !ValueDist.of(wide, Seq("value")).head.isLocal)
    for ((name, df) <- Seq("narrow" -> narrow, "wide" -> wide)) {
      val (_, leaked) = persistedBy {
        NetworkAnalytics.percentileRank(df, "value").count()
        NetworkAnalytics.riskStatistics(df, df).collect()
        NetworkAnalytics.highRiskProviders(df, df).count()
        NetworkAnalytics.highRiskPlan(df, df).count()
        NetworkAnalytics.percentilesExact(df, "value", Seq(0.5, 0.9))
        NetworkAnalytics.gini(df, "value").collect()
        val Seq(dist) = ValueDist.of(df, Seq("value"), distributedOnly)
        dist.percentiles(Seq(0.5, 0.9))
        dist.cdf.count()
        dist.gini
      }
      assert(leaked.isEmpty, s"$name: leaked persistent RDDs: ${leaked.keySet}")
    }
  }

  test("keyProviders keeps its join cached until the graph's unpersistAll") {
    // out-degrees 2,1,1,1,1 and in-degrees 3,1,1,0,1; vertex 3 has no rank (0):
    // vertex 0 alone is above every p90
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 4L)).toDF("src", "dst")
    val ranks = Seq((0L, 0.4), (1L, 0.2), (2L, 0.2), (4L, 0.2)).toDF("vid", "value")
    for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
      val v = LinkGraph.fromEdgeList(spark, edges, numBlocks = 2, policy = policy)
      v.degreeTable.count()
      val (kp, cached) = persistedBy(NetworkAnalytics.keyProviders(v, ranks))
      assert(cached.size == 1, s"${v.policy}: ${cached.values.mkString(", ")}")
      val rows = kp.collect().toSeq
      assert(rows.map(_.getLong(0)) == Seq(0L), s"${v.policy}: $rows")
      assert(cached.keySet.subsetOf(spark.sparkContext.getPersistentRDDs.keySet), "alive while the graph is")
      assert(kp.collect().toSeq == rows)
      v.unpersistAll()
      assert(!cached.keySet.exists(spark.sparkContext.getPersistentRDDs.contains), "released by unpersistAll")
    }
  }

  test("ValueDist: local exactly when every task's runs fit its share of driverBytes") {
    // four slices of 250 rows; column a has 20 distinct values per slice,
    // column b 21 in slice 0 and 20 elsewhere. At 96 B per pair, a share of 20
    // pairs per (task, column) is driverBytes = 96 · 20 · 4 tasks · 2 columns
    val rows = Seq.tabulate(1000) { j =>
      val (i, r) = (j / 250, j % 250)
      (i * 1000.0 + r % 20, i * 1000.0 + r % (if (i == 0) 21 else 20))
    }
    val df = spark.sparkContext.parallelize(rows, 4).toDF("a", "b")
    val perTask = spark.sparkContext.parallelize(rows, 4).glom().collect()
      .map(p => (p.map(_._1).distinct.length, p.map(_._2).distinct.length))
    assert(perTask.toSeq == Seq((20, 21), (20, 20), (20, 20), (20, 20)))
    for ((share, bLocal) <- Seq(20 -> false, 21 -> true)) {
      val policy = ExecutionPolicy(driverBytes = 96L * share * 4 * 2)
      val Seq(a, b) = ValueDist.of(df, Seq("a", "b"), policy)
      assert(a.isLocal && b.isLocal == bLocal, s"share $share")
      // the runs that fit their share are all a task ships
      val shipped = perTask.map { case (da, db) => Seq(da, db).filter(_ <= share).sum }.sum
      assert(shipped * 96L <= policy.driverBytes, s"share $share: $shipped pairs shipped")
      for ((d, col) <- Seq(a -> rows.map(_._1), b -> rows.map(_._2))) {
        val sorted = col.sorted.toArray
        assert(d.n == rows.length)
        for (p <- Seq(0.0, 0.3, 0.5, 0.9, 1.0))
          assert(math.abs(d.percentile(p) - npPercentile(sorted, p * 100)) < 1e-9, s"share $share p=$p")
      }
    }
  }

  test("ValueDist: default policy keeps a narrow 2M-row column local, not a wide one") {
    val n = 2L * 1024 * 1024
    // 97 distinct values: one job ships 97 runs per task, no count or probe job
    val narrow = spark.range(n).selectExpr("cast(id % 97 as double) as v")
    val (Seq(dn), ran) = recorded(ValueDist.of(narrow, Seq("v")))
    assert(dn.isLocal && dn.n == n && ran.jobs.length == 1, s"${ran.jobs.length} jobs")
    assert(dn.percentile(0.5) == 48.0)
    // unique doubles: each task's 512K runs overflow its share of 64 MiB
    val wide = spark.range(n).selectExpr("cast(id as double) as v")
    val Seq(d) = ValueDist.of(wide, Seq("v"))
    assert(!d.isLocal, "a unique-double column must not be collected driver-locally")
    assert(d.n == n && math.abs(d.percentile(0.5) - (n - 1) / 2.0) < 1e-9)
  }

  test("ValueDist: nulls, -0.0, NaN and spread ties group as Spark does, both regimes") {
    // equal values sit in different slices; nulls are dropped (NumPy dropna)
    val values = Seq[java.lang.Double](1.0, null, 3.0, -0.0, Double.NaN, 5.0, 0.0, null, 3.0, -0.0,
      Double.NaN, 1.0, 0.0, 5.0, 3.0, null)
    val df = spark.sparkContext.parallelize(values, 4).toDF("v")
    // the driver reference: −0.0 is 0.0, NaN sorts last
    val sorted = values.filter(_ != null).map(_.doubleValue + 0.0).toArray
    java.util.Arrays.sort(sorted)
    def same(a: Double, b: Double) = java.lang.Double.compare(a, b) == 0 || math.abs(a - b) < 1e-12
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.8, 0.9, 1.0)
    val Seq(local) = ValueDist.of(df, Seq("v"))
    val Seq(dist) = ValueDist.of(df, Seq("v"), distributedOnly)
    assert(local.isLocal && !dist.isLocal)
    for (d <- Seq(local, dist)) {
      assert(d.n == sorted.length)
      d.percentiles(ps).zip(ps).foreach { case (got, p) =>
        assert(same(got, npPercentile(sorted, p * 100)), s"local=${d.isLocal} p=$p: $got")
      }
      // one key for ±0.0 (+0.0 itself) and one for NaN, with the share of values ≤ each
      val cdf = d.cdf.collect().map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)(Ordering.Double.TotalOrdering)
      assert(cdf.map(k => java.lang.Double.doubleToRawLongBits(k._1)).toSeq ==
        Seq(0.0, 1.0, 3.0, 5.0, Double.NaN).map(java.lang.Double.doubleToRawLongBits), s"local=${d.isLocal}")
      cdf.foreach { case (v, pct) =>
        val le = sorted.count(x => java.lang.Double.compare(x, v) <= 0)
        assert(same(pct, le * 100.0 / sorted.length), s"local=${d.isLocal} v=$v")
      }
    }
  }

  test("property: ValueDist's two regimes agree with each other and with NumPy") {
    def same(a: Double, b: Double) = java.lang.Double.compare(a, b) == 0
    def close(a: Double, b: Double, tol: Double) = same(a, b) || math.abs(a - b) <= tol
    val ps = (0 to 20).map(_ / 20.0) ++ Seq(0.01, 0.333, 0.99)
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      val rows = 300 + rng.nextInt(300)
      def maybe(v: => Double, nulls: Double): Option[Double] = if (rng.nextDouble() < nulls) None else Some(v)
      val data = Seq.fill(rows)((
        // nulls, ±0.0, NaN and heavy ties
        maybe(Seq(0.0, -0.0, Double.NaN, 0.25, 1.0, 1.0, 3.5)(rng.nextInt(7)), 0.1),
        // one value holds over half the rows: its splitters repeat
        maybe(if (rng.nextDouble() < 0.6) 7.0 else rng.nextInt(40) / 4.0, 0.05),
        // two values, fewer than the ranges
        maybe(1.0 + rng.nextInt(2), 0.2),
        // nearly all distinct
        maybe(rng.nextDouble() * 100.0, 0.0)))
      // 11 slices, every third emptied
      val df = spark.sparkContext.parallelize(data, 11)
        .mapPartitionsWithIndex((k, it) => if (k % 3 == 1) Iterator.empty else it)
        .toDF("ties", "dominant", "two", "wide")
      val cols = df.columns.toSeq
      val local = ValueDist.of(df, cols)
      val dist = ValueDist.of(df, cols, distributedOnly)
      assert(local.forall(_.isLocal) && !dist.exists(_.isLocal))
      for (((a, b), c) <- local.zip(dist).zip(cols)) {
        val tag = s"seed $seed, $c"
        // the driver reference: nulls dropped, −0.0 as 0.0, NaN last
        val sorted = df.select(c).collect().filter(!_.isNullAt(0)).map(_.getDouble(0) + 0.0)
        java.util.Arrays.sort(sorted)
        assert(a.n == sorted.length && b.n == sorted.length, tag)
        a.percentiles(ps).zip(b.percentiles(ps)).zip(ps).foreach { case ((x, y), p) =>
          assert(same(x, y), s"$tag p=$p: $x != $y")
          assert(close(x, npPercentile(sorted, p * 100), 1e-9), s"$tag p=$p: $x")
        }
        def cdf(d: ValueDist) = d.cdf.collect().map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)(Ordering.Double.TotalOrdering)
        val (ca, cb) = (cdf(a), cdf(b))
        assert(ca.length == cb.length && ca.zip(cb).forall { case (x, y) => same(x._1, y._1) && same(x._2, y._2) }, tag)
        ca.foreach { case (v, pct) =>
          val le = sorted.count(x => java.lang.Double.compare(x, v) <= 0)
          assert(close(pct, le * 100.0 / sorted.length, 1e-12), s"$tag v=$v")
        }
        val want = refGini(sorted)
        assert(close(a.gini, want, 1e-12) && close(b.gini, want, 1e-12), s"$tag: ${a.gini}, ${b.gini} vs $want")
      }
    }
  }

  test("network metrics mirror hand-computed values on a tiny graph") {
    // 0->1 (x2 dup), 1->2; weighted degrees: in: [0,2,1], out: [2,1,0]
    val g = LinkGraph.fromEdgeList(
      spark,
      Seq((0L, 1L), (0L, 1L), (1L, 2L)).toDF("src", "dst"),
      numBlocks = 2)
    val m = NetworkAnalytics.networkMetrics(g).first()
    assert(m.getAs[Long]("total_providers") == 3)
    assert(m.getAs[Long]("total_referrals") == 2) // folded nnz
    assert(math.abs(m.getAs[Double]("average_referrals_out") - 1.0) < 1e-12)
    assert(math.abs(m.getAs[Double]("average_referrals_in") - 1.0) < 1e-12)
    assert(m.getAs[Long]("max_referrals_out") == 2)
    assert(m.getAs[Long]("isolated_providers") == 0)
    g.unpersistAll()
  }

  test("ValueDist.of: one multi-column build matches per-column builds") {
    import spark.implicits._
    // ties, negatives, and several partitions — the one-job build of three
    // columns must produce bit-identical percentiles to three single builds
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(5000)(i =>
      (rng.nextInt(40).toDouble - 20.0, rng.nextDouble() * 10.0, (i % 17).toDouble))
    val df = rows.toDF("a", "b", "c").repartition(7)
    val fused = ValueDist.of(df, Seq("a", "b", "c"))
    val single = Seq("a", "b", "c").map(c => ValueDist.of(df, Seq(c)).head)
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.95, 0.99, 1.0)
    fused.zip(single).foreach { case (f, s) =>
      assert(f.isLocal && s.isLocal && f.n == rows.length)
      val fp = f.percentiles(ps)
      val sp = s.percentiles(ps)
      fp.zip(sp).foreach { case (x, y) => assert(x == y, s"fused $x != single $y") }
    }
  }
}
