package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over the materialized knowledge graph.
  *
  * The flagship pipeline ([[KgPipeline]]) EMITS a graph — (subj, pred,
  * obj) triples — and a KG-construction engine that cannot then query
  * that graph (degree profiles for hub detection, triangles for
  * alias-cluster sanity, k-hop neighborhoods for context harvesting,
  * PageRank for entity salience) stops one step short of useful. These
  * operators take a generic edge DataFrame (two long node columns), so
  * they run over KG triples (`subj`/`obj` keyed by dictionary-encoded
  * ids) and over any relational edge derivation alike.
  *
  * Scale shape shared by all four:
  *   - nodes/edges only ever shuffle as LONG keys (no string rides an
  *     exchange — encode entity uris to ids first, the q52 convention);
  *   - every aggregation is partial-agg friendly (map-side combine);
  *   - the only joins are long-keyed equi-joins; nothing is all-pairs.
  *
  * Methods: triangle enumeration is the degree-ordered wedge join of
  * Suri & Vassilvitskii (WWW 2011) / Cohen (CiSE 2009) — orienting each
  * edge from its lower-(degree, id) endpoint bounds oriented out-degree
  * by O(sqrt(m)), so wedge volume is O(m^1.5) worst case instead of
  * sum(deg^2) — the difference between a star graph costing O(m) and
  * costing O(m^2). PageRank is Page et al. (1999) in the classic
  * unnormalized Spark formulation (init 1.0, `(1-d) + d*in`), with
  * dangling mass redistributed uniformly. It picks its path from the
  * edge count it observes: up to [[prCollectThreshold]] edges the
  * iteration runs on the driver over collected long arrays; above it,
  * a distributed loop with per-iteration lineage truncation via
  * [[Lineage.chk]] (40 iterations would otherwise nest 40 plans).
  */
object Graph {

  private def canon(edges: DataFrame, src: String, dst: String): DataFrame =
    edges
      .where(col(src).isNotNull && col(dst).isNotNull && col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("a"),
              greatest(col(src), col(dst)).as("b"))
      .distinct()

  /** Undirected degree per node: distinct-neighbor count over the
    * de-duplicated, self-loop-free undirected closure of `edges`.
    * Two shuffles (edge distinct, count), both keyed on longs.
    */
  def degrees(edges: DataFrame, src: String = "src", dst: String = "dst")
      : DataFrame =
    canon(edges, src, dst)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("degree"))

  /** Per-node triangle participation counts (nodes in ≥ 1 triangle).
    *
    * Degree-ordered enumeration: orient every undirected edge from its
    * lower endpoint under the total order (degree asc, id asc). Each
    * triangle {u < v < w} in that order is then generated exactly once,
    * as the wedge (u→v, u→w) closed by the oriented edge v→w. The
    * orientation join attaches degrees (node-sized frame, long-keyed);
    * the wedge self-join is keyed on the wedge apex; the closing join
    * is keyed on the (v, w) pair — all fixed-width.
    */
  def triangles(edges: DataFrame, src: String = "src", dst: String = "dst")
      : DataFrame = {
    val und = canon(edges, src, dst)
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))

    // Orient low → high under (degree, id); carry hi's (degree, id) rank
    // so the wedge join can order v < w without re-joining degrees.
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val aIsLo = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aIsLo, col("a")).otherwise(col("b")).as("lo"),
      when(aIsLo, col("b")).otherwise(col("a")).as("hi"),
      when(aIsLo, struct(col("db").as("d"), col("b").as("i")))
        .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("hiRank"))

    val w1 = oriented.select(col("lo").as("u"), col("hi").as("v"),
      col("hiRank").as("vR"))
    val w2 = oriented.select(col("lo").as("u"), col("hi").as("w"),
      col("hiRank").as("wR"))
    val wedges = w1.join(w2, Seq("u"))
      .where(col("vR.d") < col("wR.d") ||
        (col("vR.d") === col("wR.d") && col("vR.i") < col("wR.i")))
      .select(col("u"), col("v"), col("w"))

    val closing = oriented.select(col("lo").as("v"), col("hi").as("w"))
    wedges.join(closing, Seq("v", "w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Count of nodes at undirected distance EXACTLY 2 per node (the
    * co-occurrence neighborhood: reachable through a shared neighbor,
    * not adjacent, not self). Adjacency expands once (m → 2m directed
    * rows), the mid-join is keyed on the shared neighbor, and the
    * exactly-2 discipline is one long-keyed anti-join back against
    * adjacency. At web scale the distinct on (node, peer) is the
    * dominant exchange — fixed-width, two longs.
    */
  def twoHopCounts(edges: DataFrame, src: String = "src", dst: String = "dst")
      : DataFrame = {
    val und = canon(edges, src, dst)
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .unionByName(und.select(col("b").as("x"), col("a").as("y")))
    val nn = adj.select(col("x"), col("y").as("mid"))
      .join(adj.select(col("x").as("mid2"), col("y").as("peer")),
        col("mid") === col("mid2"))
      .where(col("x") =!= col("peer"))
      .select(col("x"), col("peer"))
      .distinct()
    nn.join(adj.select(col("x").as("ax"), col("y").as("ay")),
        col("x") === col("ax") && col("peer") === col("ay"), "left_anti")
      .groupBy(col("x").as("node"))
      .agg(count(lit(1)).as("n_2hop"))
      .select(col("node"), col("n_2hop"))
  }

  /** PageRank over a DIRECTED multigraph (callers dedupe if they mean a
    * simple graph). Unnormalized classic formulation: rank init 1.0,
    * `r'(v) = (1-d) + d * (sum_in r(u)/out(u) + danglingMass / |V|)`
    * so ranks sum to |V| at every iteration. Dangling mass (nodes with
    * no out-edges) is redistributed uniformly — dropping it instead
    * deflates every rank and the fixpoint stops meaning anything.
    *
    * The execution path is chosen from the edge count observed, the
    * [[KgPipeline.canonFromEdges]] rule: the null-filtered `(s, t)`
    * frame is persisted and counted.
    *   - Up to [[prCollectThreshold]] edges, the edge set is collected
    *     as two primitive long arrays and the same power iteration runs
    *     in plain loops on the driver. A sub-threshold graph gains
    *     nothing from a cluster, while the distributed loop pays several
    *     Spark jobs per iteration. Measured on a 4-core VM at local[4],
    *     8 iterations over a 1,930-node, 238k-edge co-mention graph,
    *     edge derivation included: 70 jobs and 11.7 s on the
    *     distributed loop, 18 jobs and 4.1 s on this path (medians of
    *     three traced runs, BENCH/PAGERANK_DRIVER.md). The result is a
    *     local `(node, pr)` frame with NO checkpoint behind it, so
    *     [[releaseRanks]] has nothing to free.
    *   - Above it, the distributed loop runs over the frame already
    *     persisted; its result is checkpoint-backed and must be
    *     released.
    *
    * All arithmetic is join-order-independent WHEN the inputs make it
    * exact (see q82: power-of-two out-degrees + dyadic damping give
    * bit-identical ranks in any engine and on either path); otherwise
    * it is standard floating-point PageRank, deterministic per path but
    * compared by tolerance (GraphSpec pins both paths against a driver
    * recompute and against each other).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               src: String = "src", dst: String = "dst"): DataFrame =
    pageRankWith(edges, iters, damping, src, dst, prCollectThreshold)

  /** Above this many directed edges, [[pageRank]] runs its distributed
    * loop instead of collecting the edge set to the driver. The bound
    * is driver memory: 2^20 edges are 16 MiB as two long arrays; the
    * node index adds a 16 MiB sort buffer and 8 MiB of int edge
    * endpoints, and the rank arrays are node-sized. That is small
    * beside any driver heap, and one iteration over it is a pass over
    * a few arrays.
    */
  val prCollectThreshold: Int = 1 << 20

  /** [[pageRank]] with its collect threshold as a parameter, so tests
    * can run the distributed loop on a small graph (threshold -1).
    */
  private[graft] def pageRankWith(edges: DataFrame, iters: Int,
      damping: Double, src: String, dst: String, collectThreshold: Long)
      : DataFrame = {
    require(iters >= 1 && iters <= 200, s"iters out of range: $iters")
    require(damping >= 0.0 && damping <= 1.0, s"damping out of range: $damping")
    // The edge frame is read by nodes, outDeg, and EVERY iteration's
    // contribs join — uncached, each of those re-executes the caller's
    // whole edge derivation (for the co-mention graph: the per-file
    // explode + distinct, 10× for 8 iterations). Edge-sized, two longs:
    // the standard iterative-graph working set (GraphX caches the same).
    // HASH-PARTITIONED ON THE JOIN KEY before caching (r7, guide §2.4 /
    // GraphX's partitionBy convention): the per-iteration contribs join
    // then reuses the cache's partitioning instead of re-exchanging the
    // edge set every round — one upfront edge shuffle buys `iters`
    // avoided ones (measured: q82 3.45 -> 2.92 s at sf0.1; the outDeg
    // aggregate reuses the same partitioning for free). The driver path
    // reads it once, and its count picks the path.
    val e = edges.select(col(src).as("s"), col(dst).as("t"))
      .where(col("s").isNotNull && col("t").isNotNull)
      .repartition(col("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (e.count() <= collectThreshold) {
      try driverPageRank(e, iters, damping)
      finally e.unpersist()
    } else distributedPageRank(e, iters, damping)
  }

  /** The power iteration over the collected edge set. Nodes are indexed
    * by their sorted ids (binary search); each iteration is one pass
    * over the nodes (dangling mass, per-node share `pr/out`) and one
    * over the edges (in-sums), with the distributed loop's rules and
    * operation order per value: multigraph out-degrees, in-sum 0.0 for
    * a node with no in-edges, `(1-d) + d * (in + dmass/|V|)`.
    */
  private def driverPageRank(e: DataFrame, iters: Int, damping: Double)
      : DataFrame = {
    // packed per partition on the executors: the driver receives long
    // arrays, never one Row object per edge
    val parts = e.select(col("s"), col("t")).queryExecution.toRdd
      .mapPartitions { rows =>
        val s = Array.newBuilder[Long]
        val t = Array.newBuilder[Long]
        rows.foreach { r => s += r.getLong(0); t += r.getLong(1) }
        Iterator.single((s.result(), t.result()))
      }.collect()
    val srcIds = parts.flatMap(_._1)
    val dstIds = parts.flatMap(_._2)
    val m = srcIds.length

    val ids = new Array[Long](2 * m)
    System.arraycopy(srcIds, 0, ids, 0, m)
    System.arraycopy(dstIds, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    var n = 0
    for (id <- ids) if (n == 0 || ids(n - 1) != id) { ids(n) = id; n += 1 }
    require(n > 0, "pageRank on an empty graph")
    val nodes = java.util.Arrays.copyOf(ids, n)

    val from = new Array[Int](m)
    val to = new Array[Int](m)
    val outDeg = new Array[Int](n)
    for (k <- 0 until m) {
      from(k) = java.util.Arrays.binarySearch(nodes, srcIds(k))
      to(k) = java.util.Arrays.binarySearch(nodes, dstIds(k))
      outDeg(from(k)) += 1
    }

    val pr = Array.fill(n)(1.0)
    val share = new Array[Double](n)
    val in = new Array[Double](n)
    for (_ <- 1 to iters) {
      var dmass = 0.0
      for (i <- 0 until n)
        if (outDeg(i) == 0) dmass += pr(i)
        else share(i) = pr(i) / outDeg(i)
      java.util.Arrays.fill(in, 0.0)
      for (k <- 0 until m) in(to(k)) += share(from(k))
      val dshare = dmass / n.toDouble
      for (i <- 0 until n)
        pr(i) = (1.0 - damping) + damping * (in(i) + dshare)
    }

    val spark = e.sparkSession
    import spark.implicits._
    nodes.indices.map(i => (nodes(i), pr(i))).toDF("node", "pr")
  }

  /** The distributed loop over the persisted edge frame `e`, which it
    * unpersists. Per iteration: one long-keyed join (ranks ⋈ edges on
    * src), one partial-agg groupBy(dst), one broadcast 1-row dangling
    * aggregate; lineage truncated each round ([[Lineage.chk]]) and the
    * superseded frame released, so iteration count never inflates the
    * plan (40 iterations would otherwise nest 40 plans) or pins
    * unbounded storage. The result is checkpoint-backed and registered
    * for [[releaseRanks]] / [[releaseAllRanks]].
    */
  private def distributedPageRank(e: DataFrame, iters: Int,
                                  damping: Double): DataFrame = {
    val nodes = e.select(col("s").as("node"))
      .unionByName(e.select(col("t").as("node"))).distinct()
    val outDeg = e.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    // node, out_deg (0 for dangling) — the loop's static side; cache it,
    // it is node-sized and read twice per iteration.
    val base = nodes.join(outDeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      .cache()
    val nNodes = base.count() // materializes the cache; |V| for dangling share
    if (nNodes == 0) { base.unpersist(); e.unpersist() }
    require(nNodes > 0, "pageRank on an empty graph")

    // rank init rides on `base` directly (cached above) — round 6 paid
    // an extra checkpoint job just to materialize the constant-1.0
    // frame the first iteration immediately superseded. The loop keeps
    // round 6's checkpoint-EVERY-round cadence deliberately: this
    // round measured both alternatives VERDICT r6 #2 suggested
    // (truncate every 3rd round with the interim rounds nested, and
    // the same with interim rounds lazily cached) and both REGRESSED
    // q83 ~2x (8.3 s -> 18.8/19.7 s at sf0.1) — the merged adaptive
    // plans re-derive the dangling branch per nested round and AQE
    // re-plans every stage of the widened plan, costing more than the
    // saved per-round action. Evidence: OPTIMIZATION_r07.md §q83.
    var ranks: DataFrame =
      base.select(col("node"), col("out_deg"), lit(1.0).as("pr"))
    var lastChk: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val dangling = ranks.where(col("out_deg") === 0)
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dmass"))
      val contribs = ranks.where(col("out_deg") > 0)
        .join(e, col("node") === col("s"))
        .select(col("t").as("node"), (col("pr") / col("out_deg")).as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_sum"))
      val next = base
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("out_deg"),
          (lit(1.0 - damping) + lit(damping) *
            (coalesce(col("in_sum"), lit(0.0)) +
              col("dmass") / lit(nNodes.toDouble))).as("pr"))
      val chkd = Lineage.chk(next)
      lastChk.foreach(Lineage.release(_))
      lastChk = Some(chkd)
      ranks = chkd
    }
    val out = ranks.select(col("node"), col("pr"))
    base.unpersist() // `ranks` is checkpointed (materialized), base is dead
    e.unpersist()
    track(out)
  }

  /** Co-occurrence association over (context, item) rows — the
    * "related entities" enrichment a KG serves next to salience (q83):
    * for every item pair sharing a context (entities co-mentioned in a
    * file, products in an order), the pair count and its LIFT
    * `P(x,y) / (P(x)·P(y)) = c_xy·N / (c_x·c_y)` plus PMI (= ln lift).
    * Lift/PMI normalize away item popularity — raw pair counts only
    * ever surface the globally-frequent items.
    *
    * Per-context item sets are DEDUPED, sorted, and capped at
    * `maxPerCtx` (the q83 co-mention cap): a pathological hub context
    * would otherwise mint C(n,2) pairs — the quadratic blowup every
    * production co-occurrence job guards first. Counts and pairs both
    * come from the SAME capped view, so the probabilities stay
    * consistent under the cap. `minPairCount` prunes the long noise
    * tail BEFORE the join that attaches marginals.
    *
    * Scale shape: one distinct + one groupBy(ctx) window/aggregate
    * pass, then ONE half-matrix explode (x <= y, bounded by
    * maxPerCtx·(maxPerCtx+1)/2 per context) whose diagonal carries the
    * per-item marginals — pair counts and marginals come out of a
    * single (x, y)-keyed aggregation, reused by its three readers via
    * the exchange (the q44 convention); the context count reads the
    * pre-window distinct exchange; marginals attach via two item-keyed
    * joins after the minPairCount prune, and N is a broadcast 1-row
    * aggregate. Lift is EXACT in doubles (integer counts < 2^53, one
    * IEEE division) and therefore cross-engine hashable; PMI's `ln`
    * may differ in the last ulp across libm implementations — rank by
    * either (they are monotone in each other), hash only lift.
    */
  def coOccurrence(rows: DataFrame, ctxCol: String, itemCol: String,
                   maxPerCtx: Int = 64, minPairCount: Long = 1): DataFrame = {
    require(maxPerCtx >= 2, s"maxPerCtx must be >= 2: $maxPerCtx")
    require(minPairCount >= 1, s"minPairCount must be >= 1: $minPairCount")
    val sets = cappedSets(rows, ctxCol, itemCol, maxPerCtx)
    // Round 6 fed `sets` to THREE consumers (context count, per-item
    // marginals, pair explosion), re-running the capped-set window per
    // consumer — and a lazy cache of `sets` measured WORSE (columnar
    // encode/decode of the array column cost more than the window it
    // saved). Instead (r7, guide §1.2 "don't compute things twice"):
    //  - ONE explode pass emits the x <= y half-matrix; its DIAGONAL
    //    (x, x) appears once per capped set containing x, so marginal
    //    counts ride the SAME groupBy that counts pairs — no second
    //    explode, and the (x, y) exchange below the three readers of
    //    `grid` is computed once (ReuseExchange, the q44 convention);
    //  - the context count moves BELOW the window: the cap never drops
    //    a context (only items within one), so counting distinct ctx
    //    over the pre-window distinct frame is the same number, read
    //    off the exchange the window pass already shuffles.
    val nCtx = rows.select(col(ctxCol).as("ctx"), col(itemCol).as("item"))
      .where(col("ctx").isNotNull && col("item").isNotNull)
      .distinct()
      .agg(countDistinct(col("ctx")).as("n_ctx"))
    val grid = sets
      .select(explode(col("items")).as("x"), col("items"))
      .select(col("x"), explode(col("items")).as("y"))
      .where(col("x") <= col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("pair_count"))
    val cx = grid.where(col("x") === col("y"))
      .select(col("x").as("item"), col("pair_count").as("c"))
    val pairCounts = grid.where(col("x") < col("y"))
      .where(col("pair_count") >= minPairCount)
    pairCounts
      .join(cx.select(col("item").as("x"), col("c").as("cx")), Seq("x"))
      .join(cx.select(col("item").as("y"), col("c").as("cy")), Seq("y"))
      .crossJoin(broadcast(nCtx))
      .select(col("x"), col("y"), col("pair_count"),
        (col("pair_count").cast("double") * col("n_ctx").cast("double") /
          (col("cx").cast("double") * col("cy").cast("double"))).as("lift"))
      .withColumn("pmi", log(col("lift")))
  }

  /** The capped per-context item-set convention shared by
    * [[coOccurrence]] and q83's co-mention graph: the first `cap`
    * DISTINCT items per context in item order, as a sorted array
    * column `(ctx, items)`. The cap is applied BEFORE any per-context
    * collection: a slice-after-collect_set would buffer a hub
    * context's ENTIRE item set in the aggregation buffer (unbounded
    * OOM at 100-TB scale) just to throw most of it away — the
    * row_number window's sort spills, an agg buffer cannot. The window
    * and the groupBy share one ctx exchange.
    */
  private[graft] def cappedSets(rows: DataFrame, ctxCol: String,
                                itemCol: String, cap: Int): DataFrame =
    rows.select(col(ctxCol).as("ctx"), col(itemCol).as("item"))
      .where(col("ctx").isNotNull && col("item").isNotNull)
      .distinct()
      .withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("ctx").orderBy("item")))
      .where(col("rn") <= cap)
      .groupBy("ctx")
      .agg(sort_array(collect_list(col("item"))).as("items"))

  /** Rank frames whose backing checkpoint is not yet released, per
    * session. The distributed [[pageRank]] path's output is backed by
    * a checkpoint — reliable-checkpoint FILES when a checkpoint dir is
    * configured, pinned localCheckpoint blocks otherwise — that Spark
    * never reclaims on its own, so without a public release every such
    * call leaks one node-sized block set for the life of the session.
    * Driver-path results are local frames and are never registered.
    * Weak session keys: a stopped, dereferenced session drops its
    * entries.
    */
  // WEAK refs to the backing RDD, not the DataFrame: the RDD is the
  // correct liveness identity — a derived frame (`pageRank(...)
  // .orderBy(...)`, the q83 shape) keeps the checkpointed RDD strongly
  // reachable through its plan even after the raw result OBJECT is
  // GC'd, so an RDD-weak registry can never reclaim files a live
  // consumer still reads (a frame-weak one could — GC timing would
  // nondeterministically break re-collection). When the RDD itself is
  // unreachable, NO frame can read it: its durable checkpoint
  // directory (which Spark never deletes unless cleanCheckpoints is
  // set) is reclaimed by the next sweep, held STRONGLY as a path
  // string; its local blocks are ContextCleaner's job. All filesystem
  // deletions run OUTSIDE the registry lock — a hung remote delete
  // must not stall every other thread's pageRank.
  private final case class TrackedRanks(
      ref: java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]],
      checkpointFile: Option[String])

  private val outstandingRanks =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.ArrayBuffer[TrackedRanks]]

  private def rddsOf(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Remove entries whose RDD was GC'd; returns their durable
    * checkpoint paths for the CALLER to delete after releasing the
    * lock. Caller holds the registry lock.
    */
  private def drainDead(
      buf: scala.collection.mutable.ArrayBuffer[TrackedRanks])
      : Seq[String] = {
    val dead = scala.collection.mutable.ArrayBuffer.empty[String]
    buf.filterInPlace { t =>
      if (t.ref.get ne null) true
      else { t.checkpointFile.foreach(dead += _); false }
    }
    dead.toSeq
  }

  private def track(df: DataFrame): DataFrame = {
    val entries = rddsOf(df).map(r => TrackedRanks(
      new java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]](r),
      r.getCheckpointFile))
    val deadFiles = outstandingRanks.synchronized {
      val buf = Option(outstandingRanks.get(df.sparkSession)).getOrElse {
        val b = scala.collection.mutable.ArrayBuffer.empty[TrackedRanks]
        outstandingRanks.put(df.sparkSession, b)
        b
      }
      val d = drainDead(buf)
      buf ++= entries
      d
    }
    deadFiles.foreach(f =>
      Lineage.dropCheckpointFiles(df.sparkSession, Some(f)))
    df
  }

  /** Free the checkpoint backing a [[pageRank]] result (and any frame
    * derived from one): reliable checkpoints drop their files, local
    * checkpoints quietly unpersist their blocks. The frame is NOT
    * recomputable afterwards — release means "done with it". A
    * driver-path result has no checkpoint; releasing it does nothing.
    */
  def releaseRanks(ranks: DataFrame, blocking: Boolean = false): Unit = {
    val rdds = rddsOf(ranks)
    rdds.foreach { rdd =>
      rdd.getCheckpointFile match {
        case some @ Some(_) =>
          Lineage.dropCheckpointFiles(ranks.sparkSession, some)
        case None => Lineage.quietUnpersist(rdd, blocking)
      }
    }
    val released = rdds.toSet
    val deadFiles = outstandingRanks.synchronized {
      Option(outstandingRanks.get(ranks.sparkSession)).map { buf =>
        val d = drainDead(buf)
        buf.filterInPlace(t => !released.contains(t.ref.get))
        d
      }.getOrElse(Seq.empty)
    }
    deadFiles.foreach(f =>
      Lineage.dropCheckpointFiles(ranks.sparkSession, Some(f)))
  }

  /** Release every outstanding [[pageRank]] checkpoint of this session —
    * bench-trial / session teardown (the [[graft.queries.PipelineQueries]]
    * `releaseAll` convention). RDDs already GC'd have their durable
    * checkpoint files reclaimed here too.
    */
  def releaseAllRanks(spark: org.apache.spark.sql.SparkSession,
                      blocking: Boolean = false): Unit = {
    val entries = outstandingRanks.synchronized {
      val buf = Option(outstandingRanks.get(spark))
      val out = buf.toSeq.flatMap(_.toSeq)
      buf.foreach(_.clear())
      out
    }
    entries.foreach { t =>
      (Option(t.ref.get), t.checkpointFile) match {
        case (_, some @ Some(_)) => Lineage.dropCheckpointFiles(spark, some)
        case (Some(rdd), None) => Lineage.quietUnpersist(rdd, blocking)
        case (None, None) => () // GC'd local checkpoint: ContextCleaner's
      }
    }
  }
}
