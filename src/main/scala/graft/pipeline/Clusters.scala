package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn near-dup PAIRS (the output of
  * every [[Dedup]] strategy) into connected components, so a corpus
  * keeps ONE representative per duplicate cluster instead of dropping
  * only directly-linked pairs. Absent in the reference (which never
  * goes beyond scan/filter — SURVEY §2); in a real training-data
  * pipeline this is the step between candidate pairs and the deduped
  * corpus: near-dup similarity is not transitive, so A~B and B~C with
  * A!~C must still collapse to one kept document.
  *
  * Algorithm: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — the standard shared-nothing CC algorithm. Each round is
  * two narrow shuffles over (long, long) edge rows; convergence is
  * O(log^2 n) rounds worst-case and 2-3 rounds on real dup graphs
  * (near-cliques of diameter <= 2). Chosen over single-label
  * min-propagation (rounds = graph DIAMETER — a pathological dup
  * chain of truncations makes that O(n)) and over driver-side
  * union-find (collects every edge — dead at 100 TB, where the pair
  * set can be a double-digit percentage of the corpus).
  *
  * Scale notes (100 TB):
  *   - state between rounds is ONLY the edge set — no adjacency lists
  *     are ever materialized per node (no collect_list: a hot node —
  *     one document duplicated a million times — would buffer an
  *     unbounded group). Neighborhood minima come from a map-side-
  *     combined groupBy.min, O(1) agg state per key;
  *   - each round `localCheckpoint`s the new edge set: iterative plans
  *     otherwise double in depth per round, and round k would replay
  *     every prior round's shuffles k times (checkpointing is how
  *     GraphFrames' CC survives iteration too);
  *   - the loop stops on an exact, node-local test: the edges are
  *     final exactly when every node is a LEAF (one neighbor, and it
  *     is smaller) or a CENTRE (every neighbor is larger) — a star
  *     forest centred on each component's minimum, the fixed point of
  *     the two star ops. One map-side-combined groupBy over the
  *     checkpoint tests it before every round, so no round only
  *     confirms the last: an input already at the fixed point
  *     (disjoint near-dup pairs) runs zero rounds, a 64-node chain 6.
  */
object Clusters {

  /** Connected components over undirected near-dup pairs.
    *
    * Input: one row per pair (src, dst) — direction and duplicates
    * irrelevant; self-loops dropped. Output: `(id, cluster)` for every
    * node that appears in a pair, where `cluster` is the component's
    * minimum id (roots label themselves). Nodes in no pair are not
    * emitted — [[dedupByCluster]] treats them as singleton keepers.
    * At most `maxIter` rounds run; if the edges are still not a star
    * forest after that many, it throws `IllegalStateException`.
    */
  def dupClusters(pairs: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    // canonical directed edges u > v (the star ops preserve this
    // orientation: every emitted target is a strict neighborhood min)
    var e = pairs
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    def bidirected(df: DataFrame): DataFrame =
      df.unionByName(df.select(col("v").as("u"), col("u").as("v")))
    // a node violates the star forest iff it has a smaller neighbor
    // and more than one neighbor (edges are distinct)
    def starForest(df: DataFrame): Boolean =
      bidirected(df).groupBy("u")
        .agg(min(col("v")).as("mn"), count(lit(1)).as("n"))
        .where(col("mn") < col("u") && col("n") > 1)
        .isEmpty

    var rounds = 0
    while (!starForest(e)) {
      if (rounds >= maxIter)
        throw new IllegalStateException(
          s"connected components are not a star forest after $maxIter " +
            "rounds — raise maxIter")
      // LARGE-STAR: for each node u, link every strictly-LARGER
      // neighbor to m = min(N(u) ∪ {u}). Runs on the bidirected view
      // so both endpoints contribute their neighborhoods.
      val bi = bidirected(e)
      val mins = bi.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = bi.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      // SMALL-STAR: edges now point strictly downward (u > v); for
      // each u, link u and every neighbor except the minimum to
      // mn = min(N(u)). v > mn holds for the kept neighbors, so the
      // downward orientation is preserved.
      val mins2 = ls.groupBy("u").agg(min(col("v")).as("mn"))
      val ss = ls.join(mins2, "u")
        .where(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .unionByName(mins2.select(col("u"), col("mn").as("v")))
        .distinct()
      e = ss.localCheckpoint(true)
      rounds += 1
    }
    // fixed point is a star per component: one (member, root) edge per
    // non-root member, root = component minimum; roots label themselves
    e.select(col("u").as("id"), col("v").as("cluster"))
      .unionByName(
        e.select(col("v").as("id"), col("v").as("cluster")).distinct())
  }

  /** Keep one representative per duplicate cluster: the minimum-id
    * member survives, every other cluster member is dropped, and
    * documents that appear in no pair pass through untouched. The
    * doomed set is an equi anti-join on the id — NOT a broadcast: on
    * a heavily-duplicated corpus (web crawls run 30-50% near-dup) the
    * doomed side is a large fraction of the corpus.
    */
  def dedupByCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 25): DataFrame = {
    val doomed = dupClusters(pairs, srcCol, dstCol, maxIter)
      .where(col("id") =!= col("cluster"))
      .select(col("id"))
    docs.join(doomed, docs(idCol) === doomed("id"), "left_anti")
  }
}
