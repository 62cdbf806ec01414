package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * clustering step that turns pairwise near-duplicate PAIRS (minhash /
  * simhash / embedding-LSH output) into dedup CLUSTERS with a canonical
  * representative (the minimum member id).
  *
  * Algorithm: min-label propagation. Every vertex starts labeled with its
  * own id; each round every vertex takes the minimum label among itself
  * and its neighbors. After `iterations` ≥ the graph diameter the label
  * IS the component minimum. The self-loop trick keeps each round a
  * single join + aggregate consuming the previous labels exactly once
  * (vertex x's own label arrives as the message over the (x, x) edge),
  * so the composed plan grows linearly in rounds, not exponentially.
  *
  * Scale (100 TB): each round shuffles (edge endpoints × labels) once —
  * the same join+agg shape as a groupBy, no driver-side state. Near-dup
  * graphs have tiny diameter (dup clusters are short chains), so a small
  * fixed round count is exact; for adversarial diameters use [[run]],
  * which stops at the measured fixed point, or swap in the
  * large-star/small-star contraction (Kiveris et al. 2014) that
  * converges in O(log²) rounds with the same per-round join+agg shape.
  */
object ConnectedComponents {

  /** Edge count past which a DRIVER-side union-find solve is flagged
    * (VERDICT r8 #7): the driver path exists for batch-sized quotient
    * graphs; anything near this bound should be on [[runStar]].
    */
  val DriverPathWarnEdges: Long = 100000L

  /** Observability counters for [[solveAuto]]'s routing decisions —
    * specs assert the distributed fallback actually fires past the
    * bound, and a production log scraper can watch the warning count.
    */
  val starFallbacks = new java.util.concurrent.atomic.AtomicLong(0)
  val driverPathWarnings = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fixed-round min-label propagation, one lazy composed plan (the
    * hash-gate form — a fixed round count is plain unrollable SQL).
    *
    * @param vertices one column `id`; must cover every edge endpoint
    * @param edges    columns `src`, `dst` (orientation irrelevant)
    * @return (id, component) — component = min id reachable within
    *         `iterations` hops; the exact component min once
    *         `iterations` ≥ diameter
    */
  def labelPropagate(vertices: DataFrame, edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "labelPropagate: iterations must be >= 1")
    // symmetric closure + self-loops; distinct so parallel edges add no
    // duplicate messages (min is idempotent, but the dedup keeps the
    // per-round message volume ∝ |E|, not ∝ pair multiplicity)
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(vertices.select(col("id").as("src"), col("id").as("dst")))
      .distinct()
    var labels = vertices.select(col("id"), col("id").as("component"))
    (1 to iterations).foreach { _ =>
      labels = sym
        .join(labels.select(col("id").as("dst"), col("component")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("component"))
    }
    labels
  }

  /** Fixed-round min-label propagation WITH POINTER JUMPING: each
    * round is one neighbor-min step ([[labelPropagate]]'s round)
    * followed by one shortcut step — every vertex re-reads its own
    * LABEL's label (`c'(v) = c(c(v))`, well-defined because labels
    * are min-ids so `c(u) ≤ u`, and monotone for the same reason).
    * The shortcut halves remaining label-tree depth per round, so
    * convergence needs O(log diameter) rounds where the plain form
    * needs diameter — the unrollable-SQL hash-gate form for graphs
    * whose diameter a fixture can't bound (a mutual-kNN graph grew
    * past 8 plain rounds at sf0.1; 8 jump rounds cover diameters in
    * the hundreds). Exact components once converged — same min-label
    * contract as every other solver here.
    */
  def labelPropagateJump(vertices: DataFrame, edges: DataFrame,
                         rounds: Int): DataFrame = {
    require(rounds >= 1, "labelPropagateJump: rounds must be >= 1")
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(vertices.select(col("id").as("src"), col("id").as("dst")))
      .distinct()
    // each round references its `prop` TWICE (the shortcut self-join),
    // so an un-truncated lazy plan doubles per round — materialize
    // every round like runStar's (the 2^rounds analysis blowup is
    // real: the first lazy form of this function hung the sf0.01 gate)
    var labels = vertices.select(col("id"), col("id").as("component"))
    var held: DataFrame = null
    try {
      (1 to rounds).foreach { _ =>
        val prop = sym
          .join(labels.select(col("id").as("dst"), col("component")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("component")).as("component"))
        val jumped = prop
          .join(prop.select(col("id").as("component"),
            col("component").as("c2")), "component")
          .groupBy(col("id"))
          .agg(min(col("c2")).as("component"))
        val mat = Checkpoints.pin(jumped).df
        if (held != null) held.unpersist()
        held = mat
        labels = mat
      }
      Checkpoints.materialize(labels)
    } finally { if (held != null) { held.unpersist(); () } }
  }

  /** [[labelPropagate]] with the per-round neighbor-label join SALTED
    * ([[SaltedJoin]], the repo's replicate-and-salt escape hatch) —
    * for DUP-DENSE graphs where a fused component's message volume
    * concentrates onto few reducers (SCALE_SMOKE round-4:
    * `dedup_clusters` at 10× density sat AT the 2.0× worst-stage skew
    * gate; the imbalance was the propagation join's shuffle-read —
    * per-`dst` fan-in tracks component degree — not the bucket
    * stage, which [[Buckets.boundedMembers]] already caps, and not
    * the `groupBy(src).min` whose map-side partial aggregation
    * bounds reducer fan-in by mapper count). Salting spreads each
    * vertex's incoming messages over `numSalts` reducers at the cost
    * of labels ×numSalts per round.
    *
    * Row-identical to [[labelPropagate]]: each (edge, label) pair
    * meets exactly once under any salt assignment and `min` is
    * salt-invariant, so oracle hashes cannot tell the two apart —
    * the same result-unchanged contract as [[LatestPerKey.salted]].
    */
  def labelPropagateSalted(vertices: DataFrame, edges: DataFrame,
                           iterations: Int, numSalts: Int = 8): DataFrame = {
    require(iterations >= 1, "labelPropagateSalted: iterations must be >= 1")
    // Symmetric closure via map-side EXPLODE (not a self-union): the
    // upstream pair-expansion exchange is read ONCE, and the REBALANCE
    // hint lets AQE split/pack those reads to the advisory size — the
    // 10× smoke's worst stage was exactly this read (a 2× max/median
    // from packing a coarse 32-partition producer, which dup-dense
    // pair volume makes visible), not the propagation join.
    val sym = edges.hint("REBALANCE")
      .select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
      .unionByName(vertices.select(col("id").as("src"), col("id").as("dst")))
      .distinct()
    var labels = vertices.select(col("id"), col("id").as("component"))
    (1 to iterations).foreach { _ =>
      labels = SaltedJoin(sym,
          labels.select(col("id").as("dst"), col("component")),
          Seq("dst"), numSalts)
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("component"))
    }
    labels
  }

  /** Exact components with a BOUNDED driver-local union-find for small
    * graphs, falling back to [[runStar]] past the bound — the
    * broadcast-join argument applied to components: the quotient
    * graphs incremental maintenance feeds a solver are ∝ batch PAIRS
    * (a few MB), yet every distributed round pays driver/job latency
    * that dominates data volume there (the stored-labels smoke row
    * measured ~5 s of round-trips for a graph that fits in one task).
    * Below `maxCollected` total rows the graph collects (bounded
    * driver footprint, like the k-means centroid pulls), a union-find
    * solves it in one pass, and the (id, component) result returns as
    * a small frame downstream joins broadcast. Same output contract as
    * runStar: component = minimum member id; the incremental-clusters
    * gates stay oracle-verbatim through either path.
    */
  def solveAuto(vertices: DataFrame, edges: DataFrame,
                maxCollected: Long = 1000000L): DataFrame = {
    // PERSIST the edge projection for the scope of the solve (r16
    // measure-first finding): the routing count and the union-find
    // collect are two separate materializations — uncached, EACH
    // re-ran the caller's whole pair-derivation cascade (minhash
    // banding + bucket expansion for the dedup-incremental gates:
    // 1.8 s count + 1.7 s collect of identical work at sf0.1).
    // Bounded: the collect path is ≤ maxCollected rows by
    // construction; the fallback path pays one edge materialization
    // before runStar re-derives (the fallback is the rare,
    // already-expensive branch). Released when the loan ends — both exits
    // return frames with no lineage into `es` (the driver path
    // returns a local frame; runStar checkpoints).
    Checkpoints.withPersisted(
      edges.select(col("src").cast("long"), col("dst").cast("long"))) { es =>
      val ne = es.count()
      if (ne > maxCollected) { starFallbacks.incrementAndGet(); runStar(vertices, edges) }
      else {
        // VERDICT r8 #7: the driver path is for BATCH-sized quotient
        // graphs (a few MB). A future call site routing a corpus-scale
        // graph through here would silently centralize it — flag any
        // driver-side solve past 100k edges so the misuse is visible in
        // logs and counters before it becomes an OOM at a bigger SF.
        if (ne > DriverPathWarnEdges) {
          driverPathWarnings.incrementAndGet()
          System.err.println(
            s"[graft] ConnectedComponents.solveAuto: driver union-find on $ne edges " +
            s"(> $DriverPathWarnEdges) — this path is for batch-sized quotient graphs; " +
            "corpus-scale graphs belong on runStar (raise via a smaller maxCollected)")
        }
        // deduped on the driver, with no distinct() shuffle job: callers
        // pass distinct ids, so the collect is no larger than the
        // deduped array the bound below checks
        val vs = vertices.select(col("id").cast("long")).collect().map(_.getLong(0)).distinct
        if (vs.length + ne > maxCollected) { starFallbacks.incrementAndGet(); runStar(vertices, edges) }
        else {
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
            var c = x
            while (parent.getOrDefault(c, c) != c) {
              val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
            }
            r
          }
          es.collect().foreach { row =>
            val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
            if (a != b) parent.put(math.max(a, b), math.min(a, b))
          }
          // component label = MIN member id: with min-root unions the
          // root IS the minimum of every id merged through edges; ids
          // never seen in an edge label themselves
          val labels = vs.map(v => (v, find(v)))
          vertices.sparkSession.createDataFrame(labels.toSeq)
            .toDF("id", "component")
        }
      }
    }
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond") — the
    * ADVERSARIAL-DIAMETER variant: min-label propagation needs
    * diameter-many rounds (a 10⁶-hop chain means 10⁶ shuffles), while
    * star contraction converges in O(log²
    * largest-component-size) rounds with the same per-round
    * join+aggregate shape. Use when the dup-graph diameter is unknown
    * or unbounded; [[labelPropagate]] for the tiny-diameter common
    * case (one lazy hash-gateable plan), [[run]] for
    * convergence-checked propagation.
    *
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(Γ(u) ∪ {u}) — one groupBy(u) for m, one join to emit;
    *  - small-star(u): every parent v < u (and u) re-points to the
    *    minimum parent — same two-exchange shape.
    *
    * Edges stay (child, parent) with parent < child after every
    * half-round; at the fixed point the edge set is a star forest
    * (child → component min). Per round only (edge endpoints × ids)
    * shuffle; no driver-side state beyond the convergence flag. The
    * result is materialized through a reliable checkpoint and every
    * per-round cache is released before returning (the PageRank
    * lifetime contract).
    *
    * @return (id, component) for every vertex, component = the
    *         component's minimum id (exact at convergence; a
    *         maxRounds cutoff on a still-moving graph returns the
    *         current parents — callers should size maxRounds ≫
    *         log²|V|, which 50 is for any realistic graph)
    */
  def runStar(vertices: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    // canonical (child u, parent v) with v < u; parallel edges collapse
    var e = Checkpoints.pin(edges.select(
        greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    try {
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        // large-star over the symmetrized graph
        val sym = e.df.select(col("u"), col("v"))
          .unionByName(e.df.select(col("v").as("u"), col("u").as("v")))
        val lm = sym.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
        // no distinct on large (r17, one exchange fewer per round):
        // duplicate (u, m) emissions — several neighbors re-pointing v
        // at the same min — are harmless under small-star's min
        // aggregate and absorbed by the round's final distinct; the
        // per-round edge SET is unchanged
        val large = sym.join(lm, "u").filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // small-star over (child, parent) edges
        val sm = large.groupBy("u").agg(min(col("v")).as("m"))
        val small = large.join(sm, "u").filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(sm.filter(col("u") =!= col("m"))
            .select(col("u"), col("m").as("v")))
          .distinct()
        val next = Checkpoints.pin(small)
        // Convergence = set equality of two DISTINCT edge sets, checked
        // as |A| == |B| == |A ∪ B| — counts and digests come free (the
        // pin's eager job already aggregates them), so a round costs
        // ONE extra job, and only in the true endgame: && short-circuits
        // past the union while the counts OR the digests still move
        // (r17: an equal-count round with moving parents previously paid
        // the union count just to learn it hadn't converged). The union
        // count remains the exact proof; the digest only gates it.
        converged = next.rows == e.rows && next.digest == e.digest &&
          next.rows == next.df.unionByName(e.df).distinct().count()
        e.df.unpersist()
        e = next
        round += 1
      }
      val labels = vertices
        .join(e.df.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      // write+read-back materialize (r17): the bare checkpoint() ran
      // the final labels join twice (eager count + checkpoint write)
      Checkpoints.materialize(labels)
    } finally { e.df.unpersist(); () }
  }

  /** Convergence-checked variant for unknown-diameter graphs: runs one
    * propagation round at a time, materializing each round, and stops
    * when no label changed (or at `maxIterations`). Each round costs one
    * action; use this operationally, [[labelPropagate]] for one-plan
    * composition. The returned frame is PERSISTED (it is the converged
    * state — recomputing it would replay every round); the caller owns
    * the `unpersist()` when done.
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIterations: Int = 50): DataFrame =
    Checkpoints.withPersisted(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(vertices.select(col("id").as("src"), col("id").as("dst")))
      .distinct()) { sym =>
      var labels = vertices.select(col("id"), col("id").as("component")).persist()
      var round = 0
      var converged = false
      while (!converged && round < maxIterations) {
        val next = sym
          .join(labels.select(col("id").as("dst"), col("component")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("component")).as("component"))
          .persist()
        converged = next.join(labels.withColumnRenamed("component", "prev"), "id")
          .filter(col("component") =!= col("prev"))
          .isEmpty
        labels.unpersist()
        labels = next
        round += 1
      }
      labels
    }
}
