package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.LinkGraph

/** Degree-ordered triangle counting + clustering coefficient (north rule).
  *
  * Realizes what the reference *claims* to compute for "isolation risk"
  * (/root/reference/README.md:161 "Inverse of clustering coefficient") but
  * never implements — its code uses inverse total degree instead
  * (/root/reference/pagerank.py:702); both variants are offered (see
  * [[graft.analytics.RiskScores]] for the reference-faithful one).
  *
  * Algorithm: undirected-dedupe edges, orient each edge from the endpoint with
  * smaller (degree, vid) to the larger — every triangle is then counted exactly
  * once, and each vertex's oriented out-degree is O(sqrt(m)), which bounds the
  * self-join's intermediate size (the standard degree-ordering trick). The
  * wedge self-join hashes on the shared lower endpoint; the closing-edge check
  * is an inner join against the oriented edge set.
  */
object TriangleCount {

  /** Under the graph policy's driver budget (16 B per folded edge) the count
    * runs DRIVER-RESIDENT: one collect of the cached edges, local dedup +
    * degree orientation + sorted-adjacency wedge closing. Counts are
    * integers, so the result is EXACTLY the distributed plan's (same
    * triangles, same corners); a 100 TB graph takes the self-join path.
    */
  private def residentOk(graph: LinkGraph): Boolean =
    graph.numEdges * 16 < graph.policy.driverBytes && graph.numVertices <= Int.MaxValue.toLong

  /** (triangles, undirected simple degree) per vertex, driver-resident.
    * Mirrors the distributed plan exactly: dedup to u<v simple edges, orient
    * each edge from the smaller (degree, vid) endpoint, close every wedge
    * (y1 < y2 ∈ N⁺(x)) against the undirected edge set, and credit all three
    * corners of each triangle once.
    */
  private def residentData(graph: LinkGraph): (Array[Long], Array[Long]) = {
    val n = graph.numVertices.toInt
    val raw = graph.edgesLocal
    // undirected simple edges packed (u << 32 | v), u < v, sorted + deduped
    val packed = new Array[Long](raw.length)
    var m = 0
    var i = 0
    while (i < raw.length) {
      val s = raw(i).src
      val d = raw(i).dst
      if (s != d) {
        val u = math.min(s, d)
        val v = math.max(s, d)
        packed(m) = (u << 32) | v
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(packed, 0, m)
    var k = 0
    i = 0
    while (i < m) {
      if (k == 0 || packed(i) != packed(k - 1)) { packed(k) = packed(i); k += 1 }
      i += 1
    }
    val deg = new Array[Long](n)
    i = 0
    while (i < k) {
      deg((packed(i) >>> 32).toInt) += 1
      deg((packed(i) & 0xffffffffL).toInt) += 1
      i += 1
    }
    // orient from the smaller (deg, vid) endpoint: O(sqrt m) out-degrees
    def lower(u: Int, v: Int): Boolean = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
    val outDeg = new Array[Int](n)
    i = 0
    while (i < k) {
      val u = (packed(i) >>> 32).toInt
      val v = (packed(i) & 0xffffffffL).toInt
      if (lower(u, v)) outDeg(u) += 1 else outDeg(v) += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
    val nbr = new Array[Int](k)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < k) {
      val u = (packed(i) >>> 32).toInt
      val v = (packed(i) & 0xffffffffL).toInt
      if (lower(u, v)) { nbr(fill(u)) = v; fill(u) += 1 }
      else { nbr(fill(v)) = u; fill(v) += 1 }
      i += 1
    }
    // merge-intersect N⁺(x) with N⁺(y) per oriented edge (compact-forward):
    // the apex of every triangle under the acyclic (deg, vid) orientation has
    // out-edges to both others, so each triangle is found exactly once — the
    // same triangle set (and hence the same integer corner counts) as the
    // wedge self-join, at O(Σ d⁺(x)+d⁺(y)) instead of O(Σ d⁺²) probes.
    val tri = new Array[Long](n)
    var x = 0
    while (x < n) {
      var a = off(x)
      val endX = off(x + 1)
      while (a < endX) {
        val y = nbr(a)
        var i1 = off(x)
        var i2 = off(y)
        val e2 = off(y + 1)
        while (i1 < endX && i2 < e2) {
          val v1 = nbr(i1)
          val v2 = nbr(i2)
          if (v1 < v2) i1 += 1
          else if (v2 < v1) i2 += 1
          else { tri(x) += 1; tri(y) += 1; tri(v1) += 1; i1 += 1; i2 += 1 }
        }
        a += 1
      }
      x += 1
    }
    (tri, deg)
  }

  private def broadcastVertexFrame(
      graph: LinkGraph, arr: Array[Long], col2: String): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val b = spark.sparkContext.broadcast(arr)
    val out = spark
      .range(graph.numVertices)
      .as[Long]
      .mapPartitions { it =>
        val a = b.value
        it.map(v => (v, a(v.toInt)))
      }
      .toDF("vid", col2)
    val (pinned, _) = graft.graph.Lineage.pin(out)
    b.destroy()
    pinned
  }

  /** Undirected simple edges (u < v), one row each. */
  def undirectedEdges(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    graph.edges
      .select(
        least($"src", $"dst").as("u"),
        greatest($"src", $"dst").as("v"))
      .filter($"u" =!= $"v")
      .distinct()
  }

  /** Total triangle count in the undirected simple graph. */
  def totalTriangles(graph: LinkGraph): Long = {
    perEdgeTriangles(graph).agg(count(lit(1))).first().getLong(0)
  }

  /** One row per triangle: (a, b, c) with a < b < c under the degree order. */
  private def perEdgeTriangles(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val und = undirectedEdges(graph)
    // undirected degree
    val deg = und
      .select($"u".as("vid"))
      .union(und.select($"v".as("vid")))
      .groupBy($"vid")
      .agg(count(lit(1)).as("deg"))
    // orient: (x, y) where (deg(x), x) < (deg(y), y)
    val withDeg = und
      .join(deg.withColumnRenamed("vid", "u").withColumnRenamed("deg", "du"), Seq("u"))
      .join(deg.withColumnRenamed("vid", "v").withColumnRenamed("deg", "dv"), Seq("v"))
    // NOT persisted: the three consumers (e1, e2, closing) share identical
    // exchange subtrees, which Catalyst deduplicates via ReuseExchange — an
    // explicit persist here leaked (two public entry points, no unpersist
    // hook on the lazily returned frame).
    val oriented = withDeg
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("x"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("y"))
    // wedges centered at the low-order endpoint, then close with an oriented edge
    val e1 = oriented.select($"x", $"y".as("y1"))
    val e2 = oriented.select($"x", $"y".as("y2"))
    val wedges = e1.join(e2, Seq("x")).filter($"y1" < $"y2")
    val closing = oriented.select($"x".as("y1"), $"y".as("y2"))
      .union(oriented.select($"y".as("y1"), $"x".as("y2")))
      .select(least($"y1", $"y2").as("y1"), greatest($"y1", $"y2").as("y2"))
      .distinct()
    wedges.join(closing, Seq("y1", "y2")).select($"x".as("a"), $"y1".as("b"), $"y2".as("c"))
  }

  /** Per-vertex triangle counts, zero-filled over all vertices: (vid, triangles). */
  def perVertexTriangles(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    if (residentOk(graph))
      return broadcastVertexFrame(graph, residentData(graph)._1, "triangles")
    val tris = perEdgeTriangles(graph)
    val corners = tris.select($"a".as("vid"))
      .union(tris.select($"b".as("vid")))
      .union(tris.select($"c".as("vid")))
      .groupBy($"vid")
      .agg(count(lit(1)).as("triangles"))
    graph.vertexDict
      .join(corners, Seq("vid"), "left")
      .select($"vid", coalesce($"triangles", lit(0L)).as("triangles"))
  }

  /** Local clustering coefficient 2T(v) / (deg(v)·(deg(v)−1)) over the
    * undirected simple graph; 0 where deg < 2. Columns: vid, triangles, deg,
    * clustering_coeff.
    */
  def clusteringCoefficients(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    if (residentOk(graph)) {
      val (tri, degArr) = residentData(graph)
      val bt = spark.sparkContext.broadcast(tri)
      val bd = spark.sparkContext.broadcast(degArr)
      val out = spark
        .range(graph.numVertices)
        .as[Long]
        .mapPartitions { it =>
          val t = bt.value
          val d = bd.value
          it.map { v =>
            val vi = v.toInt
            // identical op sequence to the Catalyst expression below:
            // 2.0 · T (widen) / (deg·(deg−1) widened), 0.0 below deg 2
            val coeff =
              if (d(vi) >= 2) 2.0 * t(vi) / (d(vi) * (d(vi) - 1)).toDouble else 0.0
            (v, t(vi), d(vi), coeff)
          }
        }
        .toDF("vid", "triangles", "deg", "clustering_coeff")
      val (pinned, _) = graft.graph.Lineage.pin(out)
      bt.destroy(); bd.destroy()
      return pinned
    }
    val und = undirectedEdges(graph)
    val deg = und
      .select($"u".as("vid"))
      .union(und.select($"v".as("vid")))
      .groupBy($"vid")
      .agg(count(lit(1)).as("deg"))
    perVertexTriangles(graph)
      .join(deg, Seq("vid"), "left")
      .select(
        $"vid",
        $"triangles",
        coalesce($"deg", lit(0L)).as("deg"),
        when(coalesce($"deg", lit(0L)) >= 2,
          lit(2.0) * $"triangles" / ($"deg" * ($"deg" - 1)))
          .otherwise(lit(0.0))
          .as("clustering_coeff"))
  }
}
