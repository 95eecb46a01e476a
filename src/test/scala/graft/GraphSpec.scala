package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Semantic checks for the co-purchase graph family. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("part_pagerank: mass is conserved up to floor loss and ranks follow degree") {
    val pr = Graph.partPagerank(spark, sf, topK = 1000000).cache()
    val n = pr.count()
    assert(n > 0)
    // nano-unit mass: floors only LOSE mass (per iteration ≤ deg_u−1
    // units at node u plus the damping/teleport floors), so the total
    // must never exceed 1e9 and stays within 1% of it on this graph
    val mass = pr.agg(sum($"pr_nano")).head().getLong(0)
    assert(mass <= 1000000000L, s"mass grew: $mass")
    assert(mass >= 990000000L, s"too much floor loss: $mass")
    // rank correlates with degree: the top decile by rank must have a
    // higher mean degree than the bottom decile
    val byRank = pr.orderBy($"pr_nano".desc).collect()
    val k = math.max(1, byRank.length / 10)
    val topDeg = byRank.take(k).map(_.getAs[Long]("deg")).sum.toDouble / k
    val botDeg = byRank.takeRight(k).map(_.getAs[Long]("deg")).sum.toDouble / k
    assert(topDeg > botDeg, s"top-decile degree $topDeg !> bottom $botDeg")
    pr.unpersist()
  }

  test("copurchase_top counts match a direct per-pair recount") {
    val top = Graph.copurchaseTop(spark, sf, topK = 5).collect()
    assert(top.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct().cache()
    top.foreach { r =>
      val (a, b) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"))
      val expected = li.filter($"l_partkey" === a).select($"l_orderkey")
        .intersect(li.filter($"l_partkey" === b).select($"l_orderkey")).count()
      assert(r.getAs[Long]("n_orders") === expected, s"pair ($a,$b)")
    }
    li.unpersist()
  }

  test("part_pagerank: eager grid — top-k rows, deterministic, no cache outlives") {
    // round 11: the op is eager-grid (the iterations, the
    // TakeOrdered top-k and the cache release all happen inside the
    // call — CacheContractSpec asserts the release for all 336 ops);
    // the returned frame is a local list, so the plan audit moves to
    // row-level properties
    spark.sharedState.cacheManager.clearCache()
    val out = Graph.partPagerank(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 100, "top-k bound")
    assert(spark.sharedState.cacheManager.isEmpty,
      "pagerank leaked its persisted adjacency")
    val ranks = out.map(_.getLong(2)).toSeq
    assert(ranks === ranks.sorted.reverse, "rows ordered by rank desc")
    assert(out.map(_.toSeq).toSeq ===
      Graph.partPagerank(spark, sf).collect().map(_.toSeq).toSeq,
      "bit-deterministic across runs")
  }

  test("triangle_count equals an unoriented brute-force triple join") {
    val row = Graph.triangleCount(spark, sf).first()
    val (nNodes, nEdges, nTri) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nNodes > 0 && nEdges > 0)
    // brute force: edges are stored canonical u<v, so each triangle
    // a<b<c appears exactly once as e(a,b) ∧ e(b,c) ∧ e(a,c) — no
    // orientation needed, just three equi-joins on the id order
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val edges = li.as("a").join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("u"), $"b.pk".as("v"))
      .agg(count(lit(1)).as("s")).filter($"s" >= 2).select($"u", $"v").cache()
    val brute = edges.as("e1")
      .join(edges.as("e2"), $"e1.v" === $"e2.u")
      .join(edges.as("e3"), $"e1.u" === $"e3.u" && $"e2.v" === $"e3.v")
      .count()
    assert(nTri == brute, s"oriented count $nTri != brute $brute")
    assert(nEdges == edges.count())
  }

  test("kcore: 5-round peel contains the true k-core fixpoint, which is peel-stable") {
    import org.apache.spark.sql.DataFrame
    val k = 64
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val pairs = li.as("a").join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("pa"), $"b.pk".as("pb"))
      .agg(count(lit(1)).as("s")).select($"pa", $"pb")
    var edges: DataFrame = pairs.select($"pa".as("src"), $"pb".as("dst"))
      .union(pairs.select($"pb".as("src"), $"pa".as("dst"))).cache()
    // iterate the same peel to fixpoint
    var n = edges.count(); var prev = -1L
    while (n != prev) {
      prev = n
      val keep = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k).select($"src".as("node"))
      edges = edges.join(keep.select($"node".as("src")), "src")
        .join(keep.select($"node".as("dst")), "dst").select($"src", $"dst").cache()
      n = edges.count()
    }
    val core = edges.select($"src").distinct()
    val round5 = operators.Graph.kcore(spark, sf).select($"part_id".as("src"))
    // non-vacuous at this SF: the peel removes some nodes, keeps some
    val nAll = pairs.select($"pa").union(pairs.select($"pb")).distinct().count()
    val n5 = round5.count()
    info(s"graph nodes $nAll -> round-5 survivors $n5 -> fixpoint ${core.count()}")
    assert(n5 > 0 && n5 < nAll, s"peel is vacuous: $n5 of $nAll")
    // the monotone peel can only over-approximate: fixpoint ⊆ round-5
    assert(core.join(round5, Seq("src"), "left_anti").count() == 0,
      "true k-core has a node the 5-round peel dropped")
    // and at the fixpoint every surviving node really has degree >= k
    if (edges.count() > 0) {
      val minDeg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        .agg(min($"deg")).first().getLong(0)
      assert(minDeg >= k, s"fixpoint violated: min degree $minDeg")
    }
  }

  test("graph_lpa: communities partition the nodes and propagation merges them") {
    val out = Graph.graphLpa(spark, sf).cache()
    // node set = parts in at least one support->=2 co-pair (LPA runs on
    // the support-filtered graph like the rest of the family)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val cp = li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("pa"), $"b.pk".as("pb"))
      .agg(count(lit(1)).as("w")).filter($"w" >= 2)
    val nodes = cp.select($"pa".as("pk")).unionByName(cp.select($"pb".as("pk")))
      .distinct().count()
    val members = out.agg(sum($"n_members")).head.getLong(0)
    val communities = out.count()
    info(s"nodes=$nodes communities=$communities")
    assert(members === nodes, "every co-purchase node lands in exactly one community")
    assert(communities < nodes, "3 weighted-vote rounds must merge SOME labels")
    // every community label is a real node id (labels propagate, never invent)
    assert(communities > 1, "the graph is not one blob at 3 rounds on this data")
    // deterministic sync update: a second run is bit-identical
    assert(out.collect().toSeq === Graph.graphLpa(spark, sf).collect().toSeq)
    out.unpersist()
  }

  test("graph_clustering: exact brute-force replay and triangle-count agreement") {
    val row = Graph.graphClustering(spark, sf).collect().head
    val tri = Graph.triangleCount(spark, sf).collect().head
    assert(row.getAs[Long]("n_triangles") === tri.getAs[Long]("n_triangles"))
    assert(row.getAs[Long]("n_nodes") === tri.getAs[Long]("n_nodes"))
    assert(row.getAs[Long]("n_edges") === tri.getAs[Long]("n_edges"))
    // brute force on the reconstructed support-filtered graph
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }
    val edges = pairs.toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSet
    val adj = (edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tv = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var nTri = 0L
    for ((u, v) <- edges; w <- adj(u) intersect adj(v); if u < v && v < w) {
      nTri += 1; tv(u) += 1; tv(v) += 1; tv(w) += 1
    }
    assert(row.getAs[Long]("n_triangles") === nTri)
    val deg2 = adj.filter(_._2.size >= 2)
    val wedges = deg2.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(row.getAs[Long]("n_wedges") === wedges)
    assert(row.getAs[Long]("n_deg2") === deg2.size)
    assert(row.getAs[Long]("n_closed") === deg2.keys.count(tv(_) > 0))
    val cSum = deg2.map { case (n, s) =>
      Math.floorDiv(tv(n) * 2000000L, s.size.toLong * (s.size - 1))
    }.sum
    assert(row.getAs[Long]("avg_local_micro") === Math.floorDiv(cSum, deg2.size.toLong))
    assert(row.getAs[Long]("transitivity_micro") ===
      (if (wedges == 0) 0L else Math.floorDiv(nTri * 3000000L, wedges)))
    assert(row.getAs[Long]("transitivity_micro") <= 1000000L)
    assert(row.getAs[Long]("avg_local_micro") <= 1000000L)
  }

  test("graph_assortativity: exact brute-force replay of Newman's r") {
    val row = Graph.graphAssortativity(spark, sf).collect().head
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }
    val edges = pairs.toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(row.getAs[Long]("n_nodes") === deg.size)
    assert(row.getAs[Long]("n_edges") === edges.length)
    val dir2 = edges.flatMap(e => Seq((e._1, e._2), (e._2, e._1)))
    val n2 = dir2.length.toDouble
    val sx = dir2.map(e => deg(e._1)).sum.toDouble
    val sxx = dir2.map(e => deg(e._1) * deg(e._1)).sum.toDouble
    val sxy = dir2.map(e => deg(e._1) * deg(e._2)).sum.toDouble
    val r = (n2 * sxy - sx * sx) / (n2 * sxx - sx * sx)
    assert(math.abs(row.getAs[Double]("assortativity") - r) < 1e-5,
      s"r: $r vs ${row.getAs[Double]("assortativity")}")
    assert(math.abs(row.getAs[Double]("assortativity")) <= 1.0)
  }

  test("SymEdges == the two-branch union form, with and without a carried weight") {
    val pairs = Graph.coPairCounts(spark, sf).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      (df.columns.toSeq, df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(",")))
    val bare = rows(Graph.SymEdges(pairs, "pa", "pb").df)
    val bareUnion = rows(pairs.select($"pa".as("src"), $"pb".as("dst"))
      .union(pairs.select($"pb".as("src"), $"pa".as("dst"))))
    val weighted = rows(Graph.SymEdges(pairs, "pa", "pb", "n_orders").df)
    val weightedUnion = rows(pairs
      .select($"pa".as("src"), $"pb".as("dst"), $"n_orders")
      .unionByName(pairs.select($"pb".as("src"), $"pa".as("dst"), $"n_orders")))
    val nPairs = pairs.count()
    pairs.unpersist()
    assert(bare === bareUnion)
    assert(weighted === weightedUnion)
    assert(weighted._1 === Seq("src", "dst", "n_orders"))
    assert(weighted._2.length === 2 * nPairs && nPairs > 0)
  }

  test("chunked adjacency splits a >64k-degree hub into bounded chunks that recombine exactly") {
    // a star: hub 0 with 70 000 leaves, the only way a test graph
    // reaches the 64k chunk path (no sf node has degree > 65536)
    val leaves = 70000L
    val star = spark.range(1, leaves + 1).select(lit(0L).as("a"), $"id".as("b"))
    val edges = Graph.SymEdges(star, "a", "b").df
    val adj = Graph.chunkedAdjacency(edges, "src", "dst", Graph.degrees(edges)).cache()
    val hub = adj.filter($"src" === 0L).collect()
    val nbrs = hub.map(r => r.getSeq[Long](r.fieldIndex("nbrs")))
    // every leaf is one single-neighbor chunk pointing back at the hub
    val badLeaves = adj.filter($"src" =!= 0L)
      .filter($"deg" =!= 1L || size($"nbrs") =!= 1 || $"nbrs"(0) =!= 0L).count()
    val nRows = adj.count()
    adj.unpersist()
    assert(hub.length === math.ceil(leaves / 65536.0).toInt, "⌈deg/65536⌉ chunk rows")
    assert(hub.forall(_.getAs[Long]("deg") == leaves), "every chunk carries the full degree")
    assert(nbrs.forall(_.length <= 65536))
    val recombined = nbrs.flatten.toSeq
    assert(recombined.length === leaves && recombined.toSet === (1L to leaves).toSet,
      "chunks recombine to exactly the leaf set")
    assert(badLeaves === 0 && nRows === leaves + hub.length)
  }
}
