package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the transitive
  * closure a near-dup drop rule needs (greedy drop-higher-id of each
  * pair under-drops: for edges (a,c),(b,c) with a<b<c it keeps both a
  * and b even though all three are one duplicate cluster).
  *
  * Two-tier execution, chosen by the measured edge count:
  *
  *   - **single-task union-find** when the (verified-pair) edge set
  *     fits one task — path-compressed, union-by-min, one narrow job.
  *     The near-dup pair set after exact Jaccard verification is
  *     orders of magnitude smaller than the corpus, so this is the
  *     common case even for very large corpora; the iterative
  *     alternative costs several shuffle rounds of pure overhead on a
  *     graph that fits in one executor's memory.
  *   - **alternating large-star / small-star** (Kiveris et al.,
  *     "Connected Components in MapReduce and Beyond", SoCC'14) above
  *     the threshold — each round is a groupBy + join on node id, and
  *     the edge set converges to a forest of stars rooted at each
  *     component's minimum id in O(log² n) rounds (2–3 in practice for
  *     LSH dup graphs, whose components are near-cliques). Per-round
  *     lineage is truncated with localCheckpoint so iteration cost
  *     stays linear.
  *
  * Both tiers run on executors (no driver-side collect) and produce
  * identical output — property-tested against each other.
  */
object GraphOps {

  /** Above this many edges the iterative distributed algorithm runs;
    * at or below, a single-task union-find. Memory basis (primitive
    * arrays, no boxing): 16 B/edge buffered (two long arrays) + the
    * sorted node table at ≤ 2 ids/edge × (8 B id + 4 B parent index) +
    * one 16 B/node scratch copy during dedup → ≤ 72 B/edge worst case,
    * so 5M edges peak ≈ 360 MB in one task — inside a default executor
    * budget with headroom. */
  val SingleTaskMaxEdges: Long = 5000000L

  /** Connected components of the undirected graph given by two id
    * columns. Returns one row per node appearing in any pair:
    * (node, component) where component is the minimum node id in the
    * node's component. */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 30,
      singleTaskMaxEdges: Long = SingleTaskMaxEdges): DataFrame = {
    val init = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      // LAZY checkpoint: the sizing count below is the materializing
      // action, so sizing + lineage truncation is one job
      .localCheckpoint(eager = false)
    val n = init.count()
    if (n <= singleTaskMaxEdges) singleTask(init)
    else starContraction(init, maxIter)
  }

  /** One-task path-compressed union-find (union-by-min keeps the root
    * at the component minimum). Runs as a single executor task — NOT a
    * driver collect — so it composes with the rest of the plan.
    *
    * All state is primitive: edges buffer into two long arrays, nodes
    * dedup into one sorted long array (id rank = array index, so
    * union-by-min-ID is union-by-min-INDEX), and the parent table is an
    * int index array. A boxed Map[Long,Long] here costs ~85 B/entry
    * (two boxed longs + an entry node + table slot) and was the OOM
    * hazard right at the [[SingleTaskMaxEdges]] boundary; this layout
    * is a measured ≤ 72 B/edge peak (see the constant's scaladoc). */
  private def singleTask(init: DataFrame): DataFrame = {
    val spark = init.sparkSession
    import spark.implicits._
    init.select(col("u"), col("v")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val ub = Array.newBuilder[Long]
        val vb = Array.newBuilder[Long]
        it.foreach { case (u, v) => ub += u; vb += v }
        val us = ub.result(); val vs = vb.result()
        // sorted-unique node table: binary search gives each id a rank
        val all = new Array[Long](us.length + vs.length)
        System.arraycopy(us, 0, all, 0, us.length)
        System.arraycopy(vs, 0, all, us.length, vs.length)
        java.util.Arrays.sort(all)
        var n = 0
        var i = 0
        while (i < all.length) {
          if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
          i += 1
        }
        val nodes = java.util.Arrays.copyOf(all, n)
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        var e = 0
        while (e < us.length) {
          val ru = find(java.util.Arrays.binarySearch(nodes, us(e)))
          val rv = find(java.util.Arrays.binarySearch(nodes, vs(e)))
          // ids are sorted, so the smaller index IS the smaller id
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
          e += 1
        }
        Iterator.range(0, n).map(k => (nodes(k), nodes(find(k))))
      }
      .toDF("node", "component")
  }

  private def starContraction(init: DataFrame, maxIter: Int): DataFrame = {
    val nodes = init.select(col("u").as("node"))
      .union(init.select(col("v").as("node"))).distinct()

    // large-star: every node connects its LARGER neighbors to its
    // minimum neighborhood member (incl itself)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // no distinct here: smallStar's terminal distinct dedups the round's
      // edge set, and CC is set-semantic throughout (min aggregates are
      // multiplicity-blind) — dropping it removes one shuffle per round
    }

    // small-star: every node connects its smaller neighbors (and
    // itself) to its minimum neighbor, operating on larger→smaller
    // directed edges
    def smallStar(e: DataFrame): DataFrame = {
      val d = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = d.groupBy("u").agg(min("v").as("m"))
      d.join(m, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .select(col("a").as("u"), col("b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // cheap order-insensitive digest of the edge set: candidate
    // convergence is fingerprint equality (one narrow aggregate per
    // round instead of two anti-join jobs); only a fingerprint HIT
    // pays for the exact except() confirmation
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // LAZY checkpoints throughout: the fingerprint aggregate is the
    // materializing action, so each round runs ONE job (compute+cache+
    // digest) instead of two (eager checkpoint, then digest)
    var edges = init
    var fp = fingerprint(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      val nfp = fingerprint(next)
      converged = nfp == fp &&
        next.except(edges).isEmpty && edges.except(next).isEmpty
      edges = next
      fp = nfp
      i += 1
    }
    // converged edges are (node, root) stars; roots carry themselves.
    // (groupBy-min instead of a bare join so a maxIter bailout still
    // yields one row per node)
    val labels = edges.groupBy(col("u").as("node")).agg(min("v").as("component"))
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** Bounded-iteration PageRank over a directed edge list — the
    * canonical iterative-shuffle workload (domain/link authority for
    * web-corpus curation). Simple variant: dangling-node mass is NOT
    * redistributed (r sums to < 1 when sinks exist) — the same rule
    * the oracle twin unrolls.
    *
    * Determinism (the cross-engine contract): per-edge contributions
    * round to 12 dp and accumulate in DECIMAL, so neither partial-agg
    * order nor partitioning can perturb an iteration; the damping
    * update happens in DOUBLE on the exact decimal sum and re-rounds
    * to 12 dp — every iteration's state is an exact decimal relation
    * both engines agree on bit-for-bit.
    *
    * Scale posture: state is one (node, rank) relation; each
    * iteration is one edges ⋈ ranks join on src (edges dominate) plus
    * one dst-keyed partial-aggregated shuffle of contribution rows.
    * The mode follows the node count: up to `broadcastMaxNodes` the
    * per-iteration rank and contribution relations ship as
    * broadcasts, so edges NEVER move — right whenever the node set fits an executor. Past
    * that, the joins become shuffle joins, and the edge relation is
    * hash-partitioned by src ONCE before its checkpoint (the node
    * relation by id) — `localCheckpoint` preserves outputPartitioning,
    * so every iteration's src-join and id-join reuse the stored
    * layout and the ONLY per-iteration exchange is the dst-keyed
    * contribution shuffle (ScaleSpec asserts exactly this). Rank
    * relations are lazily checkpointed per iteration — lineage stays
    * constant-depth instead of growing by two joins per round.
    */
  def pageRank(
      edgesIn: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 5,
      damping: Double = 0.85,
      broadcastMaxNodes: Long = 50000000L): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    require(iters >= 1 && damping > 0 && damping < 1)
    val base = 1.0 - damping
    val e = edgesIn
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(eager = false)
    val nodesRaw = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(eager = false)
    // ONE count over the (checkpointed) node relation serves both the
    // broadcast-vs-shuffle auto mode AND the 1/n term of every
    // iteration — the old plan recomputed the union-distinct for the
    // count and re-broadcast a 1-row n relation in all iters+1
    // crossJoins (6 broadcast-build jobs for one driver-known long)
    val nNodes = nodesRaw.count()
    val useBroadcast = nNodes <= broadcastMaxNodes
    val nodes =
      if (useBroadcast) nodesRaw
      else nodesRaw.repartition(col("id")).localCheckpoint(eager = false)
    val eDegRaw = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
    val eDeg =
      (if (useBroadcast) eDegRaw else eDegRaw.repartition(col("src")))
        .localCheckpoint(eager = false)
    def bc(df: DataFrame) = if (useBroadcast) broadcast(df) else df
    // iteration state: the rank's EXACT 12-dp value as its unscaled
    // LONG (rank <= 1, so r12 <= 10^12) — the same exact relation the
    // old DECIMAL(28,12) state held, in a representation whose
    // per-edge contribution (integer div + HALF_UP tie) runs in pure
    // long arithmetic inside whole-stage codegen. The old form's
    // DECIMAL(38,0) ratioRound did ~6 BigDecimal ops per edge per
    // iteration — the measured pageRank CPU hotspot. Value-identical:
    // HALF_UP(r12·10^12 / (deg·10^12)) = HALF_UP(r12/deg), and the
    // final double is the same q/10^12 quotient either way.
    // Broadcast mode carries the rank relation through the loop as a
    // PLAN, not a per-iteration checkpoint: each iteration's rank is
    // consumed exactly once (the next contribution's broadcast build),
    // so the nested broadcast chain executes every stage once anyway —
    // the 1 + iters checkpoint-materialization job barriers bought
    // nothing. Shuffle mode keeps the per-iteration checkpoint: it is
    // what preserves the stored hash partitioning (the one-exchange-
    // per-iteration ScaleSpec lock) and keeps lineage constant-depth.
    // Broadcast mode still cuts the chain with a lazy checkpoint after
    // every 8th iteration (never the last): the plan otherwise grows
    // one broadcast-join layer per iteration, and analysis and planning
    // of the nested plan with it. Runs of <= 8 iterations are untouched.
    def carry(df: DataFrame, iter: Int): DataFrame =
      if (!useBroadcast || (iter % 8 == 0 && iter > 0 && iter < iters))
        df.localCheckpoint(eager = false)
      else df
    var r = carry(nodes
      .select(col("id"),
        ExactRound.ratioRoundScaled(lit(1L), lit(nNodes), 12)
          .cast(org.apache.spark.sql.types.LongType).as("r12")), 0)
    graft.functions.FixedPoint.register(edgesIn.sparkSession)
    for (iter <- 1 to iters) {
      // per-edge: q = HALF_UP(r12/deg) in longs; the 12-dp double
      // q/1e12 feeds sum_fixed12's exact long fold (bit-identical to
      // the old decimal ratioRound output)
      val rem = col("r12") % col("deg")
      val q = expr("r12 div deg") +
        when(rem >= col("deg") - rem, 1L).otherwise(0L)
      val contrib = eDeg.join(bc(r), eDeg("src") === r("id"))
        .select(col("dst").as("id"),
          (q.cast(DoubleType) / lit(1e12)).as("c"))
        .groupBy(col("id"))
        .agg(graft.functions.FixedPoint.sumFixed12(col("c")).as("s"))
      // update in double on the exact fold, re-round to 12 dp, store
      // unscaled: floor(v·1e12 + 0.5) recovers the exact integer (the
      // rounded double is within ~1e-4 of it)
      val rNext = nodes.join(bc(contrib), Seq("id"), "left")
        .select(col("id"),
          floor(round(
            lit(base) / lit(nNodes) +
              lit(damping) * coalesce(col("s"), lit(0.0)),
            12) * lit(1e12) + lit(0.5))
            .cast(org.apache.spark.sql.types.LongType).as("r12"))
      // shuffle mode only: each iteration is planned for its
      // checkpoint anyway, so keeping the plan costs nothing extra. In
      // broadcast mode the un-checkpointed chain would force a full
      // re-planning of the ever-deeper nested plan per iteration just
      // for a diagnostic nobody reads in that mode (the ScaleSpec lock
      // reads the shuffle-mode plan).
      if (!useBroadcast)
        lastIterPlan = rNext.queryExecution.executedPlan
      r = carry(rNext, iter)
    }
    // HALF_UP to 8 dp on the unscaled longs (round at -4), one double
    // division at the end — same value as round(DECIMAL r, 8).cast
    r.select(col("id"),
      (round(col("r12"), -4).cast(DoubleType) / lit(1e12)).as("rank"))
  }

  /** Test hook: executedPlan of the most recent shuffle-mode
    * [[pageRank]] iteration (checkpoints hide iteration plans from the
    * returned frame — each round's plan is compiled for the checkpoint
    * anyway, so keeping it costs nothing extra). */
  @volatile private[graft] var lastIterPlan: org.apache.spark.sql.execution.SparkPlan = null

  /** Exact triangle census + global clustering coefficient via the
    * degree-ordered wedge algorithm (the MapReduce-classic "count each
    * triangle at its lowest-ordered vertex"): canonical undirected
    * edges orient from the (degree, id)-lower endpoint, wedges form by
    * self-joining the oriented out-edges on their source, and a wedge
    * closes iff the third side exists in the canonical edge list.
    *
    * Scale: the wedge fan-out is bounded by per-node OUT-degree under
    * the degree orientation — the classic Σ out-deg² ≤ O(m^1.5) bound
    * that makes exact triangle counting feasible on power-law graphs
    * where a naive neighbor self-join explodes on hub nodes; the close
    * step is one hash join against the edge list. Wedge totals come
    * from the degree relation (Σ deg(deg−1) DIV 2, exact integer DIV).
    *
    * Determinism: every count is an exact integer; the coefficient
    * 3T/wedges forms in one double divide rounded 6dp. */
  def triangleCount(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = false)
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("w"))
      .localCheckpoint(eager = false)
    val wedges = oriented.select(col("u"), col("w").as("w1"))
      .join(oriented.select(col("u"), col("w").as("w2")), "u")
      .filter(col("w1") < col("w2"))
    val tri = wedges
      .join(e.select(col("a").as("w1"), col("b").as("w2")),
        Seq("w1", "w2"))
      .agg(count(lit(1)).as("n_triangles"))
    val totals = deg.agg(count(lit(1)).as("n_nodes"),
      (coalesce(sum(col("deg")), lit(0L)) / 2).cast("long").as("n_edges"),
      coalesce(sum(expr("deg * (deg - 1) DIV 2")), lit(0L)).as("n_wedges"))
    totals.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          ExactRound.ratioRound(lit(3L) * col("n_triangles"),
            col("n_wedges"), 6)).as("clustering"))
  }

  /** Degree assortativity of an undirected graph: the Pearson
    * correlation of endpoint degrees over the symmetrized edge list —
    * positive when heavy duplicators link to heavy duplicators (the
    * crawl-cluster / syndication-hub structure signal on a near-dup
    * graph), negative for hub-and-spoke. With both orientations of
    * every edge the x and y marginals coincide, so the correlation is
    * a PURE RATIONAL of integer sums — no square root anywhere:
    * r = (m·Σxy − S²) / (m·Σxx − S²) with m = 2|E|, S = Σ(da+db),
    * Σxy = 2Σ(da·db), Σxx = Σ(da²+db²) — and the 6dp finish is the
    * exact [[ExactRound]] quotient in both engines.
    *
    * Scale: one degree aggregate, two key joins of the edge list
    * against the (much smaller) degree table, one 1-row fold —
    * no window, no all-pairs anything. */
  def degreeAssortativity(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = false)
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val ed = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val s = ed.agg(
      count(lit(1)).as("ne"),
      coalesce(sum((col("da") + col("db")).cast(dec)), lit(0L).cast(dec))
        .as("sx"),
      coalesce(sum(col("da").cast(dec) * col("db").cast(dec) * 2),
        lit(0L).cast(dec)).as("sxy"),
      coalesce(sum(col("da").cast(dec) * col("da").cast(dec)
        + col("db").cast(dec) * col("db").cast(dec)), lit(0L).cast(dec))
        .as("sxx"))
    val m = (col("ne") * 2).cast(dec)
    s.crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .select(col("n_nodes"), col("ne").as("n_edges"),
        when(m * col("sxx") - col("sx") * col("sx") > 0,
          ExactRound.ratioRound(m * col("sxy") - col("sx") * col("sx"),
            m * col("sxx") - col("sx") * col("sx"), 6))
          .as("assortativity"))
  }
}
