package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic gates for the graph-analytics operators ([[Graph]]):
  * closed-form fixtures for degrees/triangles/2-hop, a brute-force
  * parity sweep on a seeded random graph, and PageRank on both its
  * execution paths pinned against a driver recompute and each other
  * (including dangling-node redistribution and the dyadic bit-exactness
  * the q82 oracle relies on).
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def edgeDf(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  // K4 on {1,2,3,4} plus a pendant path 4-5-6, with noise the canonical
  // closure must absorb: duplicates, reversed duplicates, a self-loop.
  private val fixture = Seq[(Long, Long)](
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 6L),
    (2L, 1L), (3L, 1L), (1L, 2L), (5L, 5L))

  test("degrees: canonical closure (dedupe, reverse, self-loop) + counts") {
    val got = Graph.degrees(edgeDf(fixture)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 4, 5L -> 2, 6L -> 1))
  }

  test("triangles: K4 gives every member 3; pendant path members absent") {
    val got = Graph.triangles(edgeDf(fixture)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
  }

  test("triangles: star graph has none (degree orientation handles the hub)") {
    val star = (1L to 40L).map(i => (0L, i))
    assert(Graph.triangles(edgeDf(star)).collect().isEmpty)
  }

  test("triangles: brute-force parity on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val es = for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.08
    } yield (a.toLong, b.toLong)
    val adj = es.toSet
    def has(a: Long, b: Long) = adj.contains((math.min(a, b), math.max(a, b)))
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    for (a <- 0 until n; b <- (a + 1) until n; c <- (b + 1) until n)
      if (has(a, b) && has(a, c) && has(b, c)) {
        expected(a) = expected.getOrElse(a.toLong, 0L) + 1
        expected(b) = expected.getOrElse(b.toLong, 0L) + 1
        expected(c) = expected.getOrElse(c.toLong, 0L) + 1
      }
    val got = Graph.triangles(edgeDf(es)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap)
  }

  test("twoHopCounts: path graph exact; clique members have no distance-2 peers") {
    // path 1-2-3-4-5: exactly-2 sets {3},{4},{1,5},{2},{3}
    val path = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = Graph.twoHopCounts(edgeDf(path)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 1))
    // K4 alone: everything adjacent, nothing at distance exactly 2
    val k4 = Seq[(Long, Long)]((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L))
    assert(Graph.twoHopCounts(edgeDf(k4)).collect().isEmpty)
  }

  /** Driver recompute of [[Graph.pageRank]]'s documented semantics. */
  private def pageRankLocal(es: Seq[(Long, Long)], iters: Int, d: Double)
      : Map[Long, Double] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val outDeg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val byDst = es.groupBy(_._2)
    var r = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val dmass = nodes.filter(nd => !outDeg.contains(nd)).map(r).sum
      r = nodes.map { v =>
        val in = byDst.getOrElse(v, Seq.empty)
          .map { case (u, _) => r(u) / outDeg(u) }.sum
        v -> ((1.0 - d) + d * (in + dmass / nodes.size))
      }.toMap
    }
    r
  }

  /** Both execution paths of [[Graph.pageRank]]: the public entry picks
    * the driver loop for every graph here (all far below
    * [[Graph.prCollectThreshold]]); the distributed loop is forced by a
    * threshold below any edge count.
    */
  private def distributedPageRank(e: DataFrame, iters: Int,
                                  damping: Double = 0.85): DataFrame =
    Graph.pageRankWith(e, iters, damping, "src", "dst", collectThreshold = -1)

  private val pageRankPaths
      : Seq[(String, (DataFrame, Int, Double) => DataFrame)] = Seq(
    "driver" -> ((e, i, d) => Graph.pageRank(e, i, d)),
    "distributed" -> ((e, i, d) => distributedPageRank(e, i, d)))

  private def ranksOf(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pageRank: driver-recompute parity incl. dangling nodes, mass conserved") {
    val rnd = new scala.util.Random(11)
    // 40 nodes, ~3 out-edges each; nodes 35..39 dangling (no out-edges)
    val es = for {
      u <- 0L until 35L; _ <- 0 until 3
      v = rnd.nextInt(40).toLong if v != u
    } yield (u, v)
    val want = pageRankLocal(es, 10, 0.85)
    for ((path, pageRank) <- pageRankPaths) {
      val ranks = pageRank(edgeDf(es), 10, 0.85)
      val got = ranksOf(ranks)
      Graph.releaseRanks(ranks)
      assert(got.keySet == want.keySet, path)
      got.foreach { case (nd, pr) =>
        assert(math.abs(pr - want(nd)) < 1e-9,
          s"$path: node $nd: $pr vs ${want(nd)}")
      }
      // unnormalized formulation with dangling redistribution: sum == |V|
      assert(math.abs(got.values.sum - want.size) < 1e-6, path)
    }
  }

  test("pageRank: dyadic inputs (pow-2 out-degrees, damping 1/2) are bit-exact") {
    // every node has out-degree exactly 2 -> all arithmetic is exact
    val n = 64L
    val es = (0L until n).flatMap(u => Seq((u, (u * 7 + 3) % n),
      (u, (u * 13 + 5) % n))).distinct
    assert(es.groupBy(_._1).values.forall(g =>
      g.size == 1 || g.size == 2)) // powers of two
    val want = pageRankLocal(es, 4, 0.5)
    for ((path, pageRank) <- pageRankPaths) {
      val ranks = pageRank(edgeDf(es), 4, 0.5)
      val got = ranksOf(ranks)
      Graph.releaseRanks(ranks)
      assert(got.keySet == want.keySet, path)
      got.foreach { case (nd, pr) =>
        assert(pr == want(nd), s"$path: node $nd not bit-exact: $pr vs ${want(nd)}")
      }
    }
  }

  test("pageRank: driver and distributed paths agree on one multigraph") {
    import spark.implicits._
    // 300 nodes with parallel edges, self-loops, dangling nodes
    // (250..299 have no out-edges) and null endpoints both paths drop
    val rnd = new scala.util.Random(17)
    val es = (for {
      u <- 0L until 250L; _ <- 0 until 1 + rnd.nextInt(6)
    } yield (Option(u), Option(rnd.nextInt(300).toLong))) ++
      Seq((None, Some(1L)), (Some(2L), None), (None, None))
    val df = es.toDF("src", "dst")
    val driver = Graph.pageRank(df, iters = 12, damping = 0.85)
    val dist = distributedPageRank(df, iters = 12, damping = 0.85)
    val got = ranksOf(driver)
    val want = ranksOf(dist)
    Graph.releaseRanks(dist)
    assert(got.keySet == want.keySet)
    got.foreach { case (nd, pr) =>
      assert(math.abs(pr - want(nd)) < 1e-9, s"node $nd: $pr vs ${want(nd)}")
    }
  }

  test("coOccurrence: closed-form lift/PMI, input dedup, minPairCount prune") {
    import spark.implicits._
    // c1:{a,b,c}, c2:{a,b}, c3:{a}; (c1,a) duplicated — must not count
    // twice. N=3, c_a=3, c_b=2, c_c=1; pairs (a,b):2, (a,c):1, (b,c):1.
    val rows = Seq(("c1", "a"), ("c1", "a"), ("c1", "b"), ("c1", "c"),
      ("c2", "a"), ("c2", "b"), ("c3", "a")).toDF("ctx", "item")
    val got = Graph.coOccurrence(rows, "ctx", "item")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(got(("a", "b")) == ((2L, 2.0 * 3 / (3 * 2),
      math.log(2.0 * 3 / (3 * 2)))))
    assert(got(("a", "c")) == ((1L, 1.0 * 3 / (3 * 1),
      math.log(1.0 * 3 / (3 * 1)))))
    assert(got(("b", "c")) == ((1L, 1.0 * 3 / (2 * 1),
      math.log(1.0 * 3 / (2 * 1)))))
    // the prune drops singleton pairs before marginals attach
    val pruned = Graph.coOccurrence(rows, "ctx", "item", minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned == Set(("a", "b")))
  }

  test("coOccurrence: driver recompute parity on a seeded random fixture") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 400).map(_ =>
      (s"c${rnd.nextInt(40)}", s"i${rnd.nextInt(25)}"))
    val got = Graph.coOccurrence(rows.toDF("ctx", "item"), "ctx", "item",
        maxPerCtx = 8)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // driver mirror of the contract: first 8 sorted distinct items per
    // context, counts and pairs from the same capped view, lift in the
    // same multiply-then-divide order (bit-equal doubles)
    val sets = rows.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.take(8)).toMap
    val n = sets.size
    val cx = sets.values.flatten.groupBy(identity).view.mapValues(_.size)
      .toMap
    val want = sets.values.toSeq
      .flatMap(items => for { a <- items; b <- items if a < b } yield (a, b))
      .groupBy(identity).view.mapValues(_.size).toMap
      .map { case ((a, b), c) =>
        (a, b) -> (c.toLong,
          c.toDouble * n / (cx(a).toDouble * cx(b).toDouble)) }
    assert(got == want)
  }

  test("coOccurrence: the cap bounds a hub context AND keeps marginals consistent") {
    import spark.implicits._
    // cap c1 to its first 2 sorted items {a,b}: c is dropped from the
    // capped membership entirely, so c_a=3, c_b=2 and ONLY (a,b) pairs
    val rows = Seq(("c1", "a"), ("c1", "b"), ("c1", "c"),
      ("c2", "a"), ("c2", "b"), ("c3", "a")).toDF("ctx", "item")
    val got = Graph.coOccurrence(rows, "ctx", "item", maxPerCtx = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(("a", "b")))
    assert(got(("a", "b")) == ((2L, 2.0 * 3 / (3 * 2))))
    intercept[IllegalArgumentException] {
      Graph.coOccurrence(rows, "ctx", "item", maxPerCtx = 1)
    }
  }

  test("releaseRanks/releaseAllRanks free the checkpoint pins behind pageRank results") {
    val sc = spark.sparkContext
    def stored = sc.getRDDStorageInfo.map(_.id).toSet
    // a driver-path result is a local frame: nothing pinned, nothing to free
    val before0 = stored
    val local = Graph.pageRank(edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L))),
      iters = 3)
    local.count()
    assert(stored -- before0 == Set.empty,
      "a driver-path pageRank result should hold no RDD storage")
    Graph.releaseRanks(local, blocking = true)
    assert(local.count() == 3, "releasing a local result must not break it")

    val before = stored
    val r1 = distributedPageRank(
      edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L))), iters = 3)
    r1.count()
    val pinned = stored -- before
    assert(pinned.nonEmpty, "pageRank's result should be checkpoint-pinned")
    Graph.releaseRanks(r1, blocking = true)
    assert((stored & pinned).isEmpty,
      "releaseRanks left the result's checkpoint blocks pinned")
    // the session sweep covers frames the caller lost track of (the
    // bench-teardown path); it must catch a frame never released 1-by-1
    val r2 = distributedPageRank(edgeDf(Seq((1L, 2L), (2L, 1L))),
      iters = 2)
    r2.count()
    val pinned2 = stored -- before
    assert(pinned2.nonEmpty)
    Graph.releaseAllRanks(spark, blocking = true)
    assert((stored & pinned2).isEmpty,
      "releaseAllRanks left checkpoint pins behind")
  }

  test("pageRank: guards reject empty graphs and bad parameters") {
    val sc = spark.sparkContext
    for ((path, pageRank) <- pageRankPaths) {
      intercept[IllegalArgumentException] {
        pageRank(edgeDf(Seq((1L, 2L))), 0, 0.85)
      }
      intercept[IllegalArgumentException] {
        pageRank(edgeDf(Seq((1L, 2L))), 5, 1.5)
      }
      // the empty-graph guard fires after the edge frame is persisted:
      // it must release what it pinned before failing
      val before = sc.getPersistentRDDs.keySet
      val err = intercept[IllegalArgumentException] {
        pageRank(edgeDf(Seq.empty[(Long, Long)]), 1, 0.85)
      }
      assert(err.getMessage.contains("pageRank on an empty graph"), path)
      assert(sc.getPersistentRDDs.keySet -- before == Set.empty,
        s"$path: the empty-graph failure left persisted storage behind")
    }
  }
}
