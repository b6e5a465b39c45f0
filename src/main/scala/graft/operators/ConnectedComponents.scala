package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation — the clustering stage of
  * a dedup pipeline: near-dup PAIRS (q_sim_jaccard / q_dedup_minhash
  * output) become duplicate GROUPS, from which one canonical document per
  * group survives.
  *
  * Each vertex starts labeled with its own id; every iteration each vertex
  * takes the minimum label among itself and its neighbors, so the minimum
  * id of a component floods outward and the fixpoint labels every vertex
  * with its component's smallest id — a unique, deterministic clustering
  * (no dependence on join or partition order). The loop stops on the
  * first round in which no label drops — exactly the fixpoint; rounds are
  * O(graph diameter), and near-dup graphs are near-cliques (diameter 2-3)
  * so a handful of passes suffice.
  *
  * Every iteration is one shuffle join (edges ⋈ labels) plus a min
  * aggregation — the map-side-combinable shape that scales out; lineage is
  * cut per iteration with localCheckpoint so plans don't grow with the
  * iteration count (on a cluster, prefer a reliable checkpoint dir). The
  * GraphX/Pregel formulation is the same computation; this one stays in
  * DataFrames so Catalyst/AQE plan each step. The star-contraction
  * variants of Kiveris et al., "Connected Components in MapReduce and
  * Beyond" (SoCC 2014) trade fewer rounds for more complex steps — worth
  * it only when graph diameter is large, which near-dup graphs aren't.
  */
object ConnectedComponents {

  /** Component label (smallest reachable vertex id) for every vertex.
    *
    * Cost shape: initialisation plus one round per flooding step, and the
    * round that changes nothing ends the loop — a graph already at its
    * fixpoint after initialisation (every near-dup clique) runs one round.
    * Each round is one label frame, a lazy localCheckpoint whose shuffle
    * stages run as their own jobs under AQE, plus one change-count probe
    * that materializes it; nothing else touches the driver. Only vertices
    * incident to an edge enter the loop (isolated vertices can never
    * change label — they rejoin at the end), so round cost tracks the
    * EDGE set, not the vertex set: on a 100 TB corpus where near-dups are
    * a small fraction, the loop runs over that fraction while the
    * untouched majority is a single final join away.
    *
    * @param vertices one row per vertex
    * @param idCol    vertex id column (numeric; min must be meaningful)
    * @param edges    undirected edges, one row per pair
    * @return (id, component) — component = min id of the vertex's component
    * @throws IllegalStateException if the fixpoint is not reached within
    *         maxIter — unconverged labels are WRONG labels and must never
    *         be mistaken for a result (tight near-dup graphs have diameter
    *         2-3; loose-threshold similarity graphs measure ~17 at sf0.1,
    *         hence the 64 default; hitting it means the input is not a
    *         similarity graph at all)
    */
  def minLabel(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 64): DataFrame = {
    // Edge GENERATION is usually the expensive part (a similarity pair
    // join) and every round re-reads the edges, so they are cut ONCE.
    // localCheckpoint, not persist (the StarContraction lesson): caching
    // pins the pair join's shuffle layout before AQE can right-size it,
    // so every round's map stages would schedule a shuffle-width fan of
    // near-empty tasks over a demo-scale edge set; the checkpoint stores
    // the AQE-FINAL layout (compact when small, proportionally wide at
    // 100 TB) and still runs the pair pipeline ONCE.
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .localCheckpoint(eager = false)
    try {
      // sym is NOT its own checkpoint: it is two map-side scans of the
      // checkpointed directed edges — a second materialization would pay
      // a full write of 2|E| rows up front to save per-round reads that
      // are already local
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      // Initialisation: each active vertex's first label is min(self,
      // neighbors), computed directly from the edge list — no separate
      // distinct-vertices pass (the min-agg dedups endpoint repetition for
      // free, so a distinct would be a wasted shuffle). No probe of its
      // own: round 1's probe materializes it in the same pass.
      var labels = sym.select(col("b").as("id"), col("a").as("component"))
        .unionByName(sym.select(col("a").as("id"), col("a").as("component")))
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .localCheckpoint(eager = false)
      val idType = labels.schema("component").dataType
      var converged = false
      var iter = 1
      // Rounds run at the caller's shuffle width: AQE coalesces the
      // KB-sized round shuffles and turns the edge join into a broadcast
      // at runtime, and each checkpoint keeps that coalesced layout.
      // Round count IS the graph's min-flooding distance. A label-only
      // pointer jump (min(own, label(label))) was tried and reverted: it
      // cannot cross plateau minima (the local best vertex's label is
      // itself), so it saved zero rounds and paid one extra shuffle per
      // round. The sub-O(diameter) alternative is [[StarContraction]],
      // which rewrites the EDGE set per round — strictly more shuffles
      // per round; not worth it below diameters in the hundreds.
      while (!converged && iter < maxIter) {
        // each vertex's previous label rides the round's aggregate (only
        // the `labels` branch carries it), so the fixpoint test is a
        // count of labels that dropped: no label arithmetic, which
        // would overflow on 64-bit hashed ids
        val next = sym.join(labels, col("a") === col("id"))
          .select(col("b").as("id"), col("component"),
            lit(null).cast(idType).as("prev"))
          .unionByName(labels.select(col("id"), col("component"),
            col("component").as("prev")))
          .groupBy(col("id"))
          .agg(min(col("component")).as("component"), min(col("prev")).as("prev"))
          .localCheckpoint(eager = false)
        val changed = next.filter(col("component") < col("prev")).count()
        // `next` is materialized by the probe, so the superseded round's
        // checkpoint blocks can be released NOW instead of waiting for a
        // GC-driven ContextCleaner pass
        CheckpointRelease.release(labels)
        converged = changed == 0L
        labels = next
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIter iterations — " +
            "labels are not a fixpoint; raise maxIter only if the graph " +
            "genuinely has that diameter")
      // isolated vertices: own id is the component; edge-incident vertices
      // take the converged label (left join: labels ⊆ vertices)
      vertices.select(col(idCol).as("id")).as("v")
        .join(labels.as("l"), col("v.id") === col("l.id"), "left")
        .select(col("v.id").as("id"),
          coalesce(col("l.component"), col("v.id")).as("component"))
    } finally CheckpointRelease.release(e)
  }
}
