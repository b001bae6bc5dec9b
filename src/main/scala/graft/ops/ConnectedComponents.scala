package graft.ops

import graft.ops.Lineage._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components for dedup cluster formation.
  *
  * Two pieces, both linear in the input:
  *
  *   1. [[starEdges]] — turn "these rows share a blocking key" into an edge
  *      set WITHOUT materializing the clique: every member of a key group
  *      links to the group's min node id (both directions). Identical
  *      connectivity to the k(k-1) all-pairs form at 2(k-1) rows per
  *      k-member group — the difference between linear and quadratic on
  *      the heavy-tailed group sizes dedup data actually has.
  *   2. [[run]] — min-label propagation with pointer halving to a fixpoint.
  *      Each round is one shuffle-on-id join + min-aggregate + one
  *      parent-lookup join; labels only decrease, so a one-row SUM probe
  *      detects the fixpoint with exactly one driver barrier per round.
  *      Pointer halving (jump to the label of my label) collapses chains
  *      in O(log diameter) rounds instead of O(diameter).
  *
  * At 100 TB the identical loop runs with large-star/small-star
  * alternation and durable per-round checkpointing; here per-round
  * localCheckpoint serves the same lineage-truncation role.
  */
object ConnectedComponents {

  /** Edges linking every member of a multi-member key group to the group's
    * min `idCol` — the star form of the group clique. Null keys never form
    * groups (matching SQL equi-join semantics on the clique form). Output
    * is symmetric (src,dst)+(dst,src) so min labels can flow both
    * member->root and root->member.
    */
  def starEdges(members: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val m = members.select(col(idCol).as("__id"), col(keyCol).as("__k"))
      .filter(col("__k").isNotNull)
    // ONE key exchange (round-17, guide §2.4): the group min and size come
    // from a whole-partition window over the same key shuffle the old
    // groupBy+join form paid three exchanges for (roots aggregate, the
    // member side of the join, the join itself). Row-identical output:
    // min/count over the full key partition, then the same filters.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__k")
    // both directions come out of ONE generator over the windowed frame
    // (round-17): the previous `stars.union(stars.reversed)` duplicated
    // the whole window subtree per branch — with two key columns that
    // meant FOUR concurrent window-exchange map stages per derivation
    // (AQE plans each union branch as its own stage chain), each
    // re-reading the cache and re-running the window. One explode emits
    // the same row multiset with half the subtrees.
    m
      .withColumn("__root", min("__id").over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") >= 2 && col("__id") =!= col("__root"))
      .select(explode(array(
        struct(col("__id").as("src"), col("__root").as("dst")),
        struct(col("__root").as("src"), col("__id").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
  }

  /** Loop shuffle width: ~1 M edge rows (tens of MB) per partition, from
    * the measured edge count ([[Par.withShufflePartitions]]). Every
    * exchange, localCheckpoint and cut-reader stage in the loop inherits
    * the session width, so at the core-count default each of the O(log d)
    * rounds scheduled 32-task stages over kilobytes. Results do not depend
    * on the width: labels are keyed min-aggregates and every consumer
    * totally orders its output. */
  private val EdgesPerPartition = 1L << 20

  /** Fixpoint min-label propagation over `edges` (long src/dst, symmetric).
    *
    * @param nodes one row per node; `idCol` must be a long
    * @return (labels dataframe [idCol, component], rounds to converge)
    */
  def run(nodes: DataFrame, edges: DataFrame, idCol: String,
          maxRounds: Int = 20): (DataFrame, Int) = {
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    // eager cache fill: round 0's plan references the propagate subtree
    // TWICE (the pointer-halving self-join), and both copies materialize
    // as concurrent AQE stages — with a lazy persist each would compute
    // the edge derivation before either fills the cache. The count also
    // sizes the loop's shuffle partitions (EdgesPerPartition).
    val nEdges = e.count()
    Par.withShufflePartitions(nodes.sparkSession, nEdges, EdgesPerPartition) {
    var labels = nodes.select(col(idCol), col(idCol).as("component"))
    // only checkpoints THIS loop created are ever released — the initial
    // labels frame derives from the caller's `nodes` plan, and walking it
    // could unpersist a checkpoint-backed input mid-job (truncated
    // lineage = unrecoverable)
    var ownCheckpoint: DataFrame = null
    // Convergence probe: each round carries the node's PREVIOUS label
    // through the propagation so count_if(component != old) is a one-row
    // agg on the round's own output — exactly ONE driver barrier per
    // round, and (unlike a sum-of-labels probe) immune to Long overflow
    // at any node count.
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      val viaEdges = e
        .join(labels, e("dst") === labels(idCol))
        .select(e("src").as(idCol), col("component"),
          lit(null).cast("long").as("__old"))
      val propagated = labels
        .select(col(idCol), col("component"), col("component").as("__old"))
        .unionByName(viaEdges)
        .groupBy(idCol)
        .agg(min(col("component")).as("component"), max(col("__old")).as("__old"))
      // pointer halving: jump to the label OF my label (components are
      // themselves node ids and labels only decrease, so the lookup always
      // improves-or-holds)
      val parents = propagated
        .select(col(idCol).as("__pid"), col("component").as("__pcomp"))
      // localCheckpoint (lazy — the probe below materializes it) cuts
      // the round's lineage to a LogicalRDD. Without this the self-join
      // doubles the logical plan EVERY round and analyzer/optimizer time
      // grows exponentially — measured 3 s -> 11 s -> stuck by round 5 on
      // 5000 rows. With it, per-round plan size (and driver time) is
      // constant; this is the per-round-checkpoint discipline any
      // iterative-graph job needs at 100 TB (there, checkpoint() to
      // storage so a lost executor doesn't replay the whole loop).
      val next = propagated
        .join(parents, propagated("component") === parents("__pid"))
        .select(col(idCol), col("__pcomp").as("component"), col("__old"))
        .cutLineage(false)
      val nChanged = next
        .agg(count_if(col("component") =!= col("__old"))).first().getLong(0)
      changed = nChanged > 0
      // the new checkpoint fully materialized (the probe ran), so the
      // PREVIOUS round's checkpoint blocks are dead weight — release them
      // now instead of waiting for the ContextCleaner to notice
      if (ownCheckpoint ne null) releaseCheckpoint(ownCheckpoint)
      ownCheckpoint = next
      labels = next.select(col(idCol), col("component"))
      rounds += 1
    }
    e.unpersist()
    (labels, rounds)
    }
  }

  /** Unpersist the cached RDDs behind a localCheckpoint'd frame —
    * localCheckpoint caches its RDD outside the dataset cache manager, so
    * `Dataset.unpersist` cannot release it. Now the shared
    * [[Lineage.releaseCut]] (round 15: the graph-query loops adopted the
    * same eager-release discipline); the caller-safety contract lives on
    * its scaladoc. [[run]] tracks its own cuts in `ownCheckpoint`;
    * [[alternatingComponents]]' edge frame is loop-checkpointed before
    * any release. */
  private def releaseCheckpoint(df: DataFrame): Unit = Lineage.releaseCut(df)

  /** Large-star/small-star alternation (the two-phase MapReduce CC of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the at-100 TB variant [[run]]'s docs point to. Where
    * [[run]] carries a LABEL table through the rounds (edge set constant,
    * labels shrink), alternation rewrites the EDGE SET itself toward the
    * star form, which bounds per-round state by the current edge count
    * and converges in O(log² n) rounds on any graph shape — the property
    * that matters when components are deep chains rather than the
    * shallow key-group unions dedup produces.
    *
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its neighborhood (round-local, per-node);
    *  - small-star: every node folds its smaller-or-equal neighbors onto
    *    that minimum.
    *
    * Both phases are one groupBy-min + one join over the edge list; per
    * round the set is canonicalized/distinct'd and localCheckpoint'd
    * (same lineage-truncation discipline as [[run]]; durable
    * checkpoint() at real scale). Convergence probe: (count, xor-hash)
    * signature — one tiny job per round.
    *
    * Terminal state: every edge is (componentMin, member). Labels follow
    * by one left join; isolated nodes label themselves.
    */
  def alternatingComponents(nodes: DataFrame, edges: DataFrame, idCol: String,
                            maxRounds: Int = 30): (DataFrame, Int) = {
    var e = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
      .cutLineage(false)
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), coalesce(sum(xxhash64(col("a"), col("b"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(e)
    // the signature's count is the measured edge cardinality — size the
    // loop's shuffle partitions from it (see EdgesPerPartition)
    Par.withShufflePartitions(nodes.sparkSession, sig._1, EdgesPerPartition) {
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      // large-star: m(u) = min(N(u) ∪ {u}); (v, m(u)) for v > u.
      // m <= u < v, so (m, v) is already canonical.
      val mins = sym.groupBy("src")
        .agg(min("dst").as("minNbr"))
        .select(col("src"), least(col("src"), col("minNbr")).as("m"))
      val large = sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("m").as("a"), col("dst").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // small-star over large's output: u's smaller neighbors N, m =
      // min(N); (v, m) for v ∈ N ∪ {u}, v ≠ m. m < v always: canonical.
      // Both directions from ONE generator (round-17 continuation, guide
      // §1.2): `large` is un-cut and carries a distinct, so the union
      // form re-ran its reduce-side dedup per branch EVERY round.
      val symL = large
        .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      val smaller = symL.filter(col("dst") < col("src"))
      val smins = smaller.groupBy("src").agg(min("dst").as("m"))
      val small = smaller.join(smins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("m").as("a"), col("dst").as("b"))
        .unionAll(smins.select(col("m").as("a"), col("src").as("b")))
        .distinct()
        .cutLineage(false)
      val nextSig = signature(small)
      stable = nextSig == sig
      sig = nextSig
      releaseCheckpoint(e) // materialized replacement exists; free the old blocks
      e = small
      rounds += 1
    }
    // min-agg (not a raw join): at the fixpoint each member carries one
    // star edge, but if maxRounds cut the loop short a member may still
    // hold several — min keeps the label well-defined either way
    val roots = e.groupBy(col("b").as(idCol)).agg(min("a").as("__root"))
    val labels = nodes.select(col(idCol))
      .join(roots, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__root"), col(idCol)).as("component"))
    (labels, rounds)
    }
  }
}
