package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by ALTERNATING STAR CONTRACTION — Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond" (SoCC 2014) — the diameter-proof alternative to
  * [[ConnectedComponents.minLabel]]'s O(diameter) min-flooding:
  *
  *  - **large-star**: every node connects its strictly-LARGER neighbors
  *    to the minimum of its closed neighborhood;
  *  - **small-star**: every node connects its not-larger neighbors (and
  *    itself) to that minimum.
  *
  * Each operation is one groupBy (per-node min) + one re-emit of the
  * node's adjacency — exactly the map-combinable shuffle shape the
  * min-label rounds use — but the paper proves the edge set contracts to
  * component stars in O(log² n) alternations REGARDLESS of diameter,
  * where min-flooding needs O(diameter) rounds. On near-dup similarity
  * graphs (diameter 2–3) min-label wins on constant factors; on
  * long-chain graphs (citation trails, temporal follows) star
  * contraction is the one that terminates in sane round counts. Both are
  * exposed; StarContractionSpec pins them EQUAL on randomized graphs.
  *
  * Fixpoint: large-star then small-star leave a stable edge set exactly
  * when every edge already points node → component-min (a star). The
  * convergence probe tests that SHAPE directly — every source exactly
  * once and never a destination (see `starViolations` below for the
  * two-way soundness argument) — which detects the fixpoint one full
  * alternation earlier than round-9's "did the edge sum stop
  * decreasing" probe, which needed a confirming alternation to observe
  * stability.
  */
object StarContraction {

  /** Component label (smallest reachable vertex id) for every vertex —
    * the same contract as [[ConnectedComponents.minLabel]]. */
  def components(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 32): DataFrame =
    componentsCounted(vertices, idCol, edges, srcCol, dstCol, maxIter)._1

  /** [[components]] plus the ALTERNATION COUNT it converged in — the
    * observable StarContractionSpec's scale test pins against the
    * O(log² n) budget (the driver-side loop state is this one integer;
    * edges never leave the cluster side). */
  private[graft] def componentsCounted(vertices: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 32): (DataFrame, Int) = {
    // localCheckpoint, not persist: caching pins the upstream pair join's
    // 32-wide shuffle layout before AQE can right-size it
    // (canChangeCachedPlanOutputPartitioning is off by default), so every
    // alternation-0 stage schedules a shuffle-width fan of near-empty
    // tasks (measured: 4.0 s alternation 0 vs 0.9 s for the IDENTICAL
    // plan on alternation 1, whose input is a checkpoint); the checkpoint
    // stores the AQE-FINAL layout — compact for a demo slice,
    // proportionally wide for a 100 TB pair set — so the loop's first
    // alternation reads the same shape the later ones do.
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u") =!= col("v")).localCheckpoint(eager = false)
    try {
      val n = e0.count() // materialize once; the loop re-reads the checkpoint

      // one star operation: per node u over its closed neighborhood,
      // m = min(u, min(neighbors)); re-emit (n, m) for the selected
      // neighbor subset. `largeStar` keeps strictly-larger neighbors,
      // `smallStar` the rest plus u itself. NO per-op distinct: the
      // min-agg is duplicate-blind, so duplicate (u, v) emissions only
      // cost re-shuffled rows — one dedup per ALTERNATION (below)
      // bounds them, where a dedup per OP paid a full extra shuffle
      // twice per alternation for the same bound (round-9 verdict #1).
      def star(sym: DataFrame, large: Boolean): DataFrame = {
        val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        val joined = sym.join(m, "u")
        val kept =
          if (large) joined.filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
          else joined.filter(col("v") <= col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .unionAll(m.select(col("u"), col("m").as("v")))
        kept.filter(col("u") =!= col("v"))
      }

      def sym(e: DataFrame): DataFrame =
        e.unionAll(e.select(col("v").as("u"), col("u").as("v")))

      // STAR CERTIFICATE probe — the alternation's output (deduped, and by
      // small-star construction all edges point high→low) is the fixpoint
      // iff it is a disjoint union of stars: every source appears EXACTLY
      // once and never as a destination. Soundness both ways: a star set
      // is trivially stable under both ops; conversely every op preserves
      // the ORIGINAL graph's component partition (Kiveris et al. §3), so
      // any star-shaped state's stars are exactly the components with the
      // component min at each center. Testing the SHAPE therefore detects
      // the fixpoint one full alternation earlier than the round-9
      // sum-stability probe, which had to re-run the (2-star, 4-shuffle)
      // alternation once more just to observe "nothing changed" — on the
      // corpus gate that confirm pass was ~25% of the loop.
      def starViolations(e: DataFrame): Long =
        e.select(col("u").as("n"), lit(1L).as("s"), lit(0L).as("d"))
          .unionAll(e.select(col("v").as("n"), lit(0L).as("s"), lit(1L).as("d")))
          .groupBy(col("n"))
          .agg(sum(col("s")).as("sc"), sum(col("d")).as("dc"))
          .agg(coalesce(sum(when(col("sc") > 1 ||
            (col("sc") > 0 && col("dc") > 0), 1L).otherwise(0L)), lit(0L)))
          .head().getLong(0)

      var converged = false
      var iter = 0
      // ADAPTIVE codegen: each alternation is a fresh ~6-stage plan whose
      // generated classes Janino compiles once (~1 s, measured: first
      // alternation 2.5 s vs 0.7 s for the identical later ones, and
      // NO_CODEGEN cut exactly the difference). Below ~10M edges the
      // compile strictly dominates interpreted execution, so run the LOOP
      // interpreted; a 100 TB pair set keeps codegen — there the compile
      // amortizes over real row volume. The override lives in a CLONED
      // session (round-10 ADVICE: mutating the shared session's confs
      // made concurrent queries run interpreted and let concurrent
      // components() calls race on save/restore) — newSession() shares
      // the SparkContext (so the checkpointed blocks are visible) but
      // owns its SQLConf, so nothing leaks and nothing needs restoring.
      val sess = vertices.sparkSession
      val interpretLoop = n < 10000000L
      val loopSess = if (!interpretLoop) sess else {
        val s = sess.newSession()
        // a sub-10M-edge graph's per-round frames are KBs: the session's
        // full shuffle width just schedules fans of near-empty tasks
        // (measured at 32: alt-0 1.63 s vs 1.19 s at 4 for the identical
        // plan) — 8 partitions keep the loop's task count proportional;
        // the ≥10M path stays in the caller's session at its width
        s.conf.set("spark.sql.shuffle.partitions",
          math.min(8, sess.conf.get("spark.sql.shuffle.partitions", "32").toInt).toString)
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        s
      }
      // re-root the checkpointed edge RDD in the loop session (rows are
      // two longs; the Row conversion is interpreted-loop-sized by
      // construction). Its own localCheckpoint makes the conversion run
      // ONCE — alternation 0 scans its input four times (two sym views ×
      // agg+join), and without the cut each scan would re-convert.
      var cur =
        if (interpretLoop)
          loopSess.createDataFrame(e0.rdd, e0.schema)
            .localCheckpoint(eager = false) // materialized by alt-0's probe
        else e0
      while (!converged && iter < maxIter) {
        val next = star(sym(star(sym(cur), large = true)), large = false)
          .distinct() // ONE dedup per alternation, folded into the probe job
          .localCheckpoint(eager = false) // materialized by the probe
        val viol = starViolations(next)
        // the superseded alternation's checkpoint blocks are released
        // deterministically — across the bench suite the un-GC'd rounds
        // otherwise accumulate executor memory (round-9 ADVICE)
        CheckpointRelease.release(cur)
        converged = viol == 0L
        cur = next
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"star contraction did not converge in $maxIter alternations")
      // re-root the fixpoint back in the CALLER's session before the
      // final join (star edges are component-count-sized, so the Row
      // conversion is negligible; cross-session plan mixing is not a
      // contract Spark makes)
      val stars =
        if (interpretLoop) sess.createDataFrame(cur.rdd, cur.schema)
        else cur
      // fixpoint edges are (node, component-min) stars; roots map to
      // themselves, isolated vertices likewise
      (vertices.select(col(idCol).as("id")).as("vx")
        .join(stars.select(col("u").as("id"), col("v").as("c")).as("st"),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("c"), col("id")).as("component")),
        iter)
    } finally { CheckpointRelease.release(e0) }
  }
}
