package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Graph kernels shared by the lane graph (`geo_zone_rank`,
  * `geo_zone_components`) and the near-dup pair graph
  * (`dedup_clusters`): one path dispatch and one connected-components
  * solver, generic in the node type (String zones, Long doc ids). */
object Graph {

  /** Edge-count bound for the single-task path — the same decision a
    * broadcast join makes: 2^20 edges ≈ 16 MB of longs, the
    * autoBroadcastJoinThreshold scale. Below it, ~2·log(diameter)
    * distributed jobs (or 10 PageRank rounds of joins) cost far more
    * in scheduling than the arithmetic: the sf0.1 pair graph is 47
    * nodes, yet the distributed loop's ~7 rounds cost ~5 s of pure
    * job scheduling, and the 72-zone rank loop 9.2 s. */
  val LocalMaxEdges: Long = 1L << 20

  /** True when `edges` should run as one task. A caller that can
    * PROVE an edge-count bound from its node universe passes it as
    * `staticMaxEdges`, so the choice runs no Spark job and building
    * the query stays plan-only (PlanSpec pins zero jobs for the geo
    * queries). Otherwise the bound is `edges.count()` — the
    * broadcast-threshold-planner analogue, one job at build time. */
  def oneTask(edges: DataFrame, localMaxEdges: Long,
      staticMaxEdges: Option[Long]): Boolean =
    staticMaxEdges.getOrElse(edges.count()) <= localMaxEdges

  /** Both directions of every `(a, b)` pair in ONE pass (a union of
    * two selects would execute the pair pipeline twice). A self pair
    * becomes an `(x, x)` edge, so its node still gets a component. */
  def symmetric(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(explode(array(
        struct(col(a).as("a"), col(b).as("b")),
        struct(col(b).as("a"), col(a).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))

  /** Connected components over a SYMMETRIC edge set (a, b) — returns
    * (n, lbl) with lbl = min node of n's component, for every node
    * appearing in the edges.
    *
    * At most `localMaxEdges` edges ([[oneTask]]): a min-label
    * union-find in ONE mapPartitions task over a coalesce(1) of the
    * edge frame — lazy, no construction-time collect.
    *
    * Beyond: min-label propagation with POINTER JUMPING
    * (Shiloach-Vishkin-style shortcutting). Each round runs
    * propagate (lbl'(n) = min(lbl(n), min over neighbors)) then
    * shortcut (lbl''(n) = lbl'(lbl'(n)) — labels are node ids, so a
    * self-join chases one pointer hop). Propagation alone needs
    * diameter rounds; the shortcut halves label-chain depth each
    * round, so convergence is O(log diameter) — the same round bound
    * as alternating large-star/small-star, with the propagate/
    * shortcut pair in place of the two star operations. A 12-round
    * cap therefore covers diameters into the thousands (spec-proven
    * on a 64-node chain) instead of the ~20 the propagate-only loop
    * managed in 10.
    *
    * Both operations only ever DECREASE labels, so the fixed point is
    * reached exactly when a round changes no label. At a propagate
    * fixed point labels are constant along every edge, i.e. equal to
    * the component min — shortcutting never changes that fixed point
    * (the min node's label is itself).
    *
    * Each round is checkpointed and its predecessor released —
    * without that, round k's convergence count re-executes rounds
    * 1..k-1 and the loop goes quadratic in stages (measured
    * 14.7 s → ~3 s at sf0.1). The driver loops; the data never
    * leaves the cluster. */
  def ccFixedPoint[T: Encoder: Ordering](edges: DataFrame,
      localMaxEdges: Long = LocalMaxEdges,
      staticMaxEdges: Option[Long] = None,
      maxRounds: Int = 12,
      log: String => Unit = System.err.println): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pair = Encoders.tuple(implicitly[Encoder[T]], implicitly[Encoder[T]])
    if (oneTask(edges, localMaxEdges, staticMaxEdges))
      return edges.select(col("a"), col("b")).as(pair)
        .coalesce(1)
        .mapPartitions(unionFind[T])(pair)
        .toDF("n", "lbl")
    // Initialization WITH the first propagation step fused in: every
    // node appears as `a` in the symmetric edge set, so one
    // aggregation seeds lbl = min(self, min neighbor) — no join, and
    // one fewer loop round.
    var labels = edges.groupBy("a")
      .agg(min("b").as("mb"))
      .select(col("a").as("n"), least(col("a"), col("mb")).as("lbl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def propagate(l: DataFrame): DataFrame = {
      val nbMin = edges
        .join(l.select(col("n").as("a"), col("lbl").as("albl")), "a")
        .groupBy(col("b").as("n")).agg(min("albl").as("nbmin"))
      l.join(nbMin, Seq("n"), "left")
        .select(col("n"),
          least(col("lbl"), coalesce(col("nbmin"), col("lbl")))
            .as("lbl"))
    }
    // lbl''(n) = lbl(lbl(n)): the invariant lbl(x) <= x means every
    // label IS a node with its own (smaller-or-equal) label to chase.
    def shortcut(l: DataFrame): DataFrame =
      l.as("x")
        .join(l.select(col("n").as("pn"), col("lbl").as("plbl")).as("p"),
          col("x.lbl") === col("pn"), "left")
        .select(col("x.n").as("n"),
          least(col("x.lbl"), coalesce(col("plbl"), col("x.lbl")))
            .as("lbl"))
    var converged = false
    var round = 0
    // Adaptive retry: one doubling of the round cap (with a logged
    // warning) before giving up — a component just past the expected
    // diameter degrades to a slower run instead of a dead query. The
    // loop below runs straight through the extension: rounds are
    // stateless beyond `labels`, so "retry" is simply more rounds.
    var cap = maxRounds
    var extended = false
    while (!converged && round < cap) {
      // localCheckpoint (eager) BOTH materializes the round and
      // TRUNCATES lineage. Truncation is load-bearing: the shortcut
      // self-join references the previous frame twice, so without it
      // the logical plan DOUBLES per round — exponential analyze/
      // codegen cost long before any data is large. On a multi-node
      // cluster prefer spark.sparkContext.setCheckpointDir + reliable
      // .checkpoint() (survives executor loss); local blocks suffice
      // for this single-JVM build.
      val next = shortcut(propagate(labels)).localCheckpoint()
      converged = next
        .join(labels.select(col("n"), col("lbl").as("old")), "n")
        .filter(col("lbl") =!= col("old")).isEmpty
      labels.unpersist(blocking = false)
      labels = next
      round += 1
      if (!converged && round == cap && !extended) {
        extended = true
        cap = maxRounds * 2
        log(s"[graft] ccFixedPoint: no convergence in " +
          s"$maxRounds rounds — extending once to $cap")
      }
    }
    require(converged,
      s"connected components did not converge in $cap " +
        "propagate+shortcut rounds (cap already doubled once from " +
        s"$maxRounds) — component label chains deeper than ~2^$cap; " +
        "raise maxRounds")
    // Returned (and possibly re-persisted by Cache) while still
    // holding the final round's blocks — an extra persist is a no-op.
    labels
  }

  /** Min-label union-find over a fully-local edge list — the
    * single-task body of [[ccFixedPoint]]. Emits every node with its
    * component minimum, sorted by node. */
  private def unionFind[T: Ordering](
      it: Iterator[(T, T)]): Iterator[(T, T)] = {
    import Ordering.Implicits._
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    it.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.sorted.iterator.map(n => (n, find(n)))
  }
}
