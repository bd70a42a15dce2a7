package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate PAIR list — the step
  * between pair detection (q24/q25/q26/q34) and actual corpus dedup:
  * group transitively-linked documents into one cluster, elect the
  * min-id member as canonical, keep one row per cluster.
  *
  * Two-tier algorithm:
  *
  * FAST PATH — iterative min-label propagation with pointer
  * doubling: each round every node takes the minimum label among
  * itself, its neighbors, and its label's label. Near-dup graphs are
  * overwhelmingly tiny cliques/chains, which this resolves in 2-3
  * cheap rounds (one join + one min aggregate each). The
  * convergence probe is SOUND: the update is a deterministic
  * function of the labels, so an unchanged round is a genuine fixed
  * point, and at any fixed point both endpoints of every edge share
  * a label ≥-bounded by the component min that the min node itself
  * pins — i.e. a detected fixed point IS the correct clustering.
  * What is NOT guaranteed is the SPEED of reaching it: labels can
  * anchor to local minima (e.g. a path with alternating small/large
  * ids), degenerating to one position per round, so the round budget
  * is id-order dependent.
  *
  * ESCALATION — if the budget trips before the fixed point, the
  * computation restarts on the ALTERNATING star algorithm (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC
  * 2014 — public): rounds of large-star (connect every larger
  * neighbor to the neighborhood min) + small-star (connect the
  * smaller neighbors and self to it) until the edge set is a fixed
  * point — a disjoint union of stars centered on each component's
  * min id. Convergence is O(log² n) rounds for ANY id order, so a
  * boilerplate chain with unlucky doc_ids converges instead of
  * killing a 100 TB run; the star cap is sized beyond the proven
  * bound for any realistic n and exists only as a loud backstop,
  * never as a tuning knob.
  *
  * Distribution shape (both tiers): per round, one or two min
  * aggregates plus equi-joins on the node key — no driver-side
  * graph, no collect. Every round's frame materializes with CUT
  * lineage ([[Checkpoints.stable]]): persist alone would leave the
  * LOGICAL plan doubling every round (the classic iterative-join
  * blowup), while the checkpoint truncates lineage so round N's plan
  * is flat regardless of N. The cut is deploy-aware — localCheckpoint
  * under the in-process local profile, a RELIABLE checkpoint under
  * the cluster profile, because a lineage-less local block lost with
  * a dead executor is unrecoverable (the r18 chaos finding,
  * CHAOS_r18.md).
  *
  * Stage sizing: every frame in the loop is node/edge-cardinality —
  * known-small relative to the corpus (pairs are LSH-capped
  * upstream) — so each round's shuffles are pinned to an explicit
  * small `width` rather than the session's full shuffle width. With
  * AQE coalescing off engine-wide ([[graft.SessionDefaults]]),
  * full-width tiny stages would pay ~shuffle-partitions task
  * launches per round for rows that fit in a handful of tasks. The
  * default width derives from the session's configured shuffle width
  * (max(8, shuffle.partitions / 4) — see [[defaultLoopWidth]] for why
  * not defaultParallelism), so a cluster deployment widens
  * automatically instead of inheriting the bench box's constant.
  */
object Components {

  /** The one width policy every bounded iterative loop shares (the
    * Lloyd trainers reference it too): narrow on the bench box,
    * widening with the session's configured shuffle width on a
    * deploy. Derived from `spark.sql.shuffle.partitions` — a STATIC
    * conf sized by the deployment — rather than
    * `sparkContext.defaultParallelism`, which under dynamic
    * allocation reflects however few executors happen to be
    * registered at plan-build time (a loop planned first thing after
    * startup would pin every round to the floor for its whole life).
    */
  def defaultLoopWidth(s: SparkSession): Int =
    math.max(8, graft.SessionDefaults.computeWidth(s) / 4)

  /** Diagnostics from the most recent `minLabelComponents` call on
    * the CALLING THREAD — probe/bench ATTRIBUTION only, not part of
    * the result contract: whether the fast-path budget tripped into
    * the star escalation, and how many alternating star rounds it
    * took (-1 = the fast path converged, no escalation ran;
    * meaningful only together with `lastEscalated`). ThreadLocal so
    * concurrent library callers sharing the session can't
    * cross-attribute each other's runs (r16 advice); the harness
    * reader (ComponentsSpec) calls and reads on one thread.
    */
  private val lastEscalatedTL = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val lastStarRoundsTL = ThreadLocal.withInitial[java.lang.Integer](() => -1)
  def lastEscalated: Boolean = lastEscalatedTL.get()
  def lastStarRounds: Int = lastStarRoundsTL.get()
  private def lastEscalated_=(v: Boolean): Unit = lastEscalatedTL.set(v)
  private def lastStarRounds_=(v: Int): Unit = lastStarRoundsTL.set(v)

  /** Eagerly free a SUPERSEDED round's checkpoint blocks — the loop
    * discipline now shared via [[Checkpoints.free]]: without it the
    * loop's storage footprint grows by one materialized frame per
    * round until the driver happens to GC the dead references — on an
    * adversarial-id escalation running tens of star rounds, that is
    * eviction churn exactly when memory is tightest.
    */
  private def freeCheckpoint(df: DataFrame): Unit = Checkpoints.free(df)

  /** `edges`: two numeric-id columns `i`, `j` (undirected pairs).
    * Returns `(id, component)` for every node appearing in a
    * non-degenerate edge (self-loops are ignored; a node appearing
    * ONLY in self-loops is not returned — normalized once at entry so
    * both tiers see the same node set), `component` = min node id
    * reachable.
    *
    * `iters`: FAST-PATH round budget. Exceeding it is not an error —
    * the computation escalates to star rounds (see object doc), so
    * the result is always the exact clustering; `iters` only bounds
    * how long the cheap loop is tried first.
    *
    * `width`: explicit partition count for the per-round frames (see
    * object doc); 0 (the default) derives it from the session.
    */
  def minLabelComponents(edges: DataFrame, iters: Int = 6,
                         width: Int = 0): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val w = if (width > 0) width else defaultLoopWidth(s)
    lastEscalated = false
    lastStarRounds = -1
    // Mirror each pair in ONE pass over the caller's (typically
    // expensive — LSH candidate + verify) edge plan: the explode
    // emits both directions row-by-row, where a two-branch union
    // would either re-execute the edge plan per branch or need an
    // extra staging cache just to avoid that (profiled: the staged
    // union shape cost two more materialization jobs per call).
    val und = edges
      .select(explode(array(
        struct($"i".as("a"), $"j".as("b")),
        struct($"j".as("a"), $"i".as("b")))).as("__e"))
      .select($"__e.a".as("a"), $"__e.b".as("b"))
      .filter($"a" =!= $"b") // normalize ONCE: both tiers, same node set
      .repartition(w, $"b")
      .persist()
    // Round 1, fused: labels start as the identity, so the first
    // propagation's pointer jump is a no-op and its neighbor-min is
    // a single aggregate over the (symmetric) edges — one narrow
    // exchange replaces the distinct-nodes checkpoint + a full round.
    var labels = und
      .repartition(w, $"a")
      .groupBy($"a").agg(min($"b").as("nbr_min"))
      .select($"a".as("id"), least($"a", $"nbr_min").as("comp"))
      .transform(Checkpoints.stable(_))
    // the round's CHECKPOINTED frame (labels is its projection from
    // round 2 on) — tracked so each superseded round's blocks are
    // freed eagerly instead of accumulating until driver GC
    var ckpt = labels
    var round = 1
    var converged = false
    while (round < iters && !converged) {
      // one join against the edges (neighbor min) + one join against
      // the labels themselves (pointer jump: comp2 = label(comp));
      // both branches read the same checkpointed `labels`, so the
      // per-round plan stays flat. The OLD label rides along as
      // `prev`, making the convergence probe a join-free scan of the
      // checkpoint instead of a second join per round.
      val nbrMin = und
        .join(labels.select($"id".as("b"), $"comp".as("nbr_comp")), Seq("b"))
        .repartition(w, $"a")
        .groupBy($"a").agg(min($"nbr_comp").as("nbr_min"))
      val next = labels
        .join(nbrMin.select($"a".as("id"), $"nbr_min"), Seq("id"), "left")
        .join(labels.select($"id".as("comp"), $"comp".as("comp2")),
          Seq("comp"), "left")
        .select($"id",
          least($"comp", coalesce($"nbr_min", $"comp"),
            coalesce($"comp2", $"comp")).as("comp"),
          $"comp".as("prev"))
        .repartition(w, $"id")
        .transform(Checkpoints.stable(_))
      labels = next.select($"id", $"comp")
      round += 1
      // convergence probe: one tiny existence scan per round (the q25
      // runtime-check pattern) — rounds stop as soon as labels fix.
      // Round 1 (the fused init) is never probed: any real edge
      // changes its higher endpoint there, so the earliest possible
      // fixed point is round 2.
      converged = next.filter($"comp" =!= $"prev").limit(1).count() == 0
      // `next` is materialized (eager checkpoint) and probed — the
      // previous round's blocks are dead now; free them.
      freeCheckpoint(ckpt)
      ckpt = next
    }
    // `terminal` is the CHECKPOINTED frame the returned labels read
    // from (for the converged path `labels` is its projection, so the
    // projection's analyzed plan would not match freeCheckpoint's
    // LogicalRDD case — the checkpoint frame itself is what frees).
    // Its blocks must outlive this call (the result is lazy), so it
    // cannot be freed here; a Staging scope, when one is active, frees
    // it after the caller's materializing action — otherwise it lives
    // until driver GC, the documented caller-owned residue
    // (ComponentsSpec pins that it is exactly ONE frame per call).
    val (out, terminal) =
      if (converged) (labels, ckpt)
      else {
        freeCheckpoint(ckpt) // fast-path labels are abandoned wholesale
        lastEscalated = true
        val st = starComponents(s, und, w) // id-order-resistant escalation
        (st, st)
      }
    und.unpersist()
    Staging.onScopeExit(() => freeCheckpoint(terminal))
    out
  }

  /** Alternating large-star / small-star rounds (see object doc) over
    * a symmetric edge frame `(a, b)`; returns `(id, comp)` with comp
    * = component min. Convergence is detected from the DATA (edge set
    * unchanged), so the cap never costs a converged graph anything;
    * `maxRounds` covers the proven O(log² n) bound up to n ≈ 10^13
    * (log₂² ≈ 1870) with headroom — a loud backstop, not a tuning
    * knob.
    */
  private def starComponents(s: SparkSession, und: DataFrame,
      w: Int, maxRounds: Int = 2048): DataFrame = {
    import s.implicits._
    // Symmetric, distinct, loop-free edge set; every round keeps this
    // representation. dropDuplicates after the keyed repartition runs
    // exchange-free (HashPartitioning(a) satisfies the (a,b) dedup).
    def canon(df: DataFrame): DataFrame = df
      .filter($"a" =!= $"b")
      .repartition(w, $"a")
      .dropDuplicates(Seq("a", "b"))
    var cur = canon(und).transform(Checkpoints.stable(_))
    var curCount = cur.count()
    var round = 0
    var converged = curCount == 0 // edge-less input: nothing to do
    while (round < maxRounds && !converged) {
      // LARGE-STAR: reducer at `a` over its full neighborhood emits
      // (b, min(a, N(a))) for every LARGER neighbor b.
      val mL = cur.groupBy($"a")
        .agg(least($"a", min($"b")).as("m"))
      val lsHalf = cur.filter($"b" > $"a").join(mL, Seq("a"))
        .select($"b".as("x"), $"m".as("y"))
      val ls = canon(
        lsHalf.select($"x".as("a"), $"y".as("b"))
          .unionByName(lsHalf.select($"y".as("a"), $"x".as("b"))))
        .transform(Checkpoints.stable(_))
      // SMALL-STAR: orient each edge to its larger endpoint; reducer
      // at `a` over its smaller neighbors S(a) emits (v, min(S(a)))
      // for v ∈ S(a) ∪ {a}.
      val oriented = ls.filter($"b" < $"a")
      val mS = oriented.groupBy($"a").agg(min($"b").as("m"))
      val ssHalf = oriented.join(mS, Seq("a"))
        .select($"b".as("x"), $"m".as("y"))
        .unionByName(mS.select($"a".as("x"), $"m".as("y")))
      val ss = canon(
        ssHalf.select($"x".as("a"), $"y".as("b"))
          .unionByName(ssHalf.select($"y".as("a"), $"x".as("b"))))
        .transform(Checkpoints.stable(_))
      // ss is materialized; the large-star intermediate is dead.
      freeCheckpoint(ls)
      // Fixed point: the round left the edge set unchanged. Count
      // compare first (one cheap aggregate per round — the previous
      // round's count is carried); equal counts plus an empty
      // one-sided difference imply set equality, and the anti-join is
      // exchange-free (both sides share the (a)-keyed partitioning).
      val nNew = ss.count()
      converged = curCount == nNew &&
        ss.join(cur, Seq("a", "b"), "left_anti").limit(1).count() == 0
      freeCheckpoint(cur) // the convergence probe was its last reader
      cur = ss
      curCount = nNew
      round += 1
    }
    require(converged,
      s"star rounds did not converge in $maxRounds — raise maxRounds")
    lastStarRounds = round
    // At the fixed point every component is a star centered on its
    // min id: oriented edges are (leaf, center); centers map to
    // themselves.
    val oriented = cur.filter($"b" < $"a")
    val out = oriented.select($"a".as("id"), $"b".as("comp"))
      .unionByName(
        oriented.select($"b".as("id"), $"b".as("comp"))
          .repartition(w, $"id").dropDuplicates(Seq("id")))
      .transform(Checkpoints.stable(_))
    freeCheckpoint(cur) // out is materialized; the edge set is dead
    out
  }
}
