package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.CacheScope.TrackedDataFrame

/** Distributed CONNECTED COMPONENTS over an edge list — the shared
  * fixpoint kernel behind transitive fuzzy grouping
  * ([[Fuzzy.groupConnected]]) and duplicate-cluster assignment
  * ([[Dedup.duplicateClusters]]).
  *
  * Min-label propagation with pointer jumping: labels start at own
  * id; each round (1) lowers a node's label to the min over its
  * neighbors' labels (one edges⋈labels shuffle), then (2)
  * short-circuits chains by following the new label's own label (one
  * labels⋈labels shuffle) — the path-halving step that turns
  * O(diameter) rounds into O(log diameter), the published
  * MapReduce-CC shape (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SOCC'14). Every round localCheckpoints the
  * narrow (id,label) table, so the plan never grows with iteration
  * count. Labels only decrease and are bounded below by the component
  * min, so the fixpoint is exact: at convergence both endpoints of
  * every edge carry equal labels, and that label is the component's
  * minimum id.
  */
object Components {

  /** @param nodes single-column frame of node ids (column `idCol`);
    *              isolated nodes (no edges) keep their own id as label
    * @param edges two-column frame (`srcCol`, `dstCol`) of UNDIRECTED
    *              edges — symmetrization happens inside
    * @return (idCol, `component`) — component = min node id reachable
    */
  def connected(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 30): DataFrame = {
    // REBALANCE before persisting: the edge set is rescanned EVERY
    // round, and without it the cache inherits whatever partitioning
    // the pair pipeline left (e.g. a reused id-hash exchange that AQE
    // cannot coalesce) — one size-based exchange here buys right-sized
    // cached partitions for every round at any scale
    val sym = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .unionByName(edges.select(col(dstCol).as("__a"), col(srcCol).as("__b")))
      .hint("rebalance")
      .persistTracked() // reused every round
    var labels = graft.CacheScope.localCheckpointTruncated(nodes
      .select(col(idCol).as("__id"), col(idCol).as("__lbl")))
    var converged = false
    var it = 0
    val lblType = labels.schema("__lbl").dataType
    val sc = nodes.sparkSession.sparkContext
    val ambientDesc = sc.getLocalProperty("spark.job.description")
    while (!converged && it < maxIters) {
      sc.setJobDescription(
        (if (ambientDesc == null) "" else ambientDesc + " / ") +
          s"cc round $it")
      // min-over-neighbors FUSED with the own-label floor: the
      // neighbor contributions and the labels themselves union into
      // ONE groupBy(min), so the round pays a single aggregation
      // shuffle instead of the former groupBy + labels⋈nbrMin join
      // (one exchange and one join fewer per round). __prev rides
      // along through the labels leg (exactly one row per id there,
      // max over a single non-null value is that value) so
      // convergence stays a FILTER on the round's own checkpointed
      // output.
      val stepped = sym.join(labels, col("__b") === col("__id"))
        .select(col("__a").as("__id"), col("__lbl"),
          lit(null).cast(lblType).as("__prev"))
        .unionByName(labels.select(col("__id"), col("__lbl"),
          col("__lbl").as("__prev")))
        .groupBy(col("__id"))
        .agg(min(col("__lbl")).as("__lbl"), max(col("__prev")).as("__prev"))
        // an edge endpoint outside `nodes` has no labels-leg row
        // (null __prev): drop it, as the former labels-side left join
        // did — membership is the nodes frame's contract
        .filter(col("__prev").isNotNull)
        .select(col("__id"), col("__prev"), col("__lbl"))
      // pointer jump: lbl ← label(lbl). Every label value is itself a
      // node id (labels are only ever ids propagated by min), so the
      // lookup always resolves; the left join + coalesce is belt for
      // the empty-graph edge case.
      val jumpMap = stepped
        .select(col("__id").as("__jid"), col("__lbl").as("__jlbl"))
      // constraint-truncated checkpoint: the per-round constraint
      // expressions would otherwise compound across rounds (see
      // CacheScope.localCheckpointTruncated)
      val jumped = graft.CacheScope.localCheckpointTruncated(stepped
        .join(jumpMap, col("__lbl") === col("__jid"), "left")
        .select(col("__id"), col("__prev"),
          least(col("__lbl"), coalesce(col("__jlbl"), col("__lbl"))).as("__lbl")))
      // the eager checkpoint truncated the lineage, so the previous
      // round's blocks are unreachable: free them now, not at GC
      graft.CacheScope.unpersistCheckpoint(labels)
      converged = jumped.filter(col("__lbl") < col("__prev")).isEmpty
      labels = jumped.select(col("__id"), col("__lbl"))
      it += 1
    }
    sc.setJobDescription(ambientDesc)
    require(converged,
      s"Components.connected: no fixpoint after $maxIters rounds — " +
        "the graph is pathologically deep; raise maxIters only if the " +
        "component structure is genuinely expected")
    labels.select(col("__id").as(idCol), col("__lbl").as("component"))
  }

  /** Relabel maps above this row count fall back from a forced
    * broadcast to a shuffled join (same guard family as
    * `Dict.MaxLiteralRows` / `Rules.MaxBroadcastGroups`). */
  val MaxBroadcastRemap = 1000000

  /** INCREMENTAL connected components — fold one ingest cycle's delta
    * into an existing labeling without recomputing the corpus.
    *
    * `baseLabels` is a prior [[connected]] fixpoint over the base
    * graph (so `componentCol` = min node id of each base component);
    * `newNodes`/`deltaEdges` are the cycle's additions (new–new and
    * new–base edges; edges between existing base nodes belong to the
    * base graph by construction of an append-only corpus). The
    * algorithm is component CONTRACTION: map every delta endpoint to
    * its base component label (new ids map to themselves), run the
    * [[connected]] fixpoint on that REDUCED graph — whose size is
    * proportional to the delta and the components it touches, never
    * the corpus — then push the (old label → new label) remap back
    * over the base labeling with one broadcast-guarded join.
    *
    * Exactness: every base label is the min id of its base component,
    * and the reduced fixpoint takes mins over those labels and raw
    * new ids, so the composed label is the min id over the MERGED
    * component — precisely what [[connected]] from scratch over
    * (base ∪ new) produces (oracle-gated by q_incremental_cc; the
    * two-cycle equivalence is spec-checked in DedupSpec).
    *
    * 100 TB shape: the corpus-sized `baseLabels` is touched by
    * exactly two narrow passes — the endpoint-mapping join against
    * the (small) delta edges, and the final remap join whose build
    * side holds one row per CHANGED component label, broadcast when
    * under [[MaxBroadcastRemap]] and shuffled (answers unchanged)
    * when a pathological batch merges more than that.
    */
  def connectedIncremental(
      baseLabels: DataFrame, idCol: String, componentCol: String,
      newNodes: DataFrame,
      deltaEdges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 30,
      maxBroadcastRemap: Int = MaxBroadcastRemap): DataFrame = {
    val p = incrementalParts(baseLabels, idCol, componentCol, newNodes,
      deltaEdges, srcCol, dstCol, maxIters, maxBroadcastRemap)
    val baseOut = p.lbl
      .join(p.remapSide, col("__bcomp") === col("__from"), "left")
      .select(col("__bid").as(idCol),
        coalesce(col("__to"), col("__bcomp")).as(componentCol))
    baseOut.unionByName(p.newOut)
  }

  /** The incremental fold's DELTA: one row per document whose label
    * CHANGES this cycle — the new nodes plus exactly the base rows in
    * touched components. MERGE-ing it into a stored labeling (`idCol`
    * matched → set `componentCol`; unmatched → insert) yields
    * precisely [[connectedIncremental]]'s output — this is the
    * persistence form a 100 TB deployment wants: per-cycle WRITE ∝
    * delta + touched components, never ∝ corpus (the
    * whole-corpus-rewrite cost [[graft.streaming.Streams
    * .clusterStream]]'s labels-as-table mode eliminates).
    */
  def connectedIncrementalDelta(
      baseLabels: DataFrame, idCol: String, componentCol: String,
      newNodes: DataFrame,
      deltaEdges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 30,
      maxBroadcastRemap: Int = MaxBroadcastRemap): DataFrame = {
    val p = incrementalParts(baseLabels, idCol, componentCol, newNodes,
      deltaEdges, srcCol, dstCol, maxIters, maxBroadcastRemap)
    // INNER join: only rows whose component label moved
    val baseChanged = p.lbl
      .join(p.remapSide, col("__bcomp") === col("__from"))
      .select(col("__bid").as(idCol), col("__to").as(componentCol))
    baseChanged.unionByName(p.newOut)
  }

  private final case class IncrementalParts(
      lbl: DataFrame, remapSide: DataFrame, newOut: DataFrame)

  private def incrementalParts(
      baseLabels: DataFrame, idCol: String, componentCol: String,
      newNodes: DataFrame,
      deltaEdges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int, maxBroadcastRemap: Int): IncrementalParts = {
    val lbl = baseLabels
      .select(col(idCol).as("__bid"), col(componentCol).as("__bcomp"))
      .persistTracked() // endpoint mapping + final remap both scan it
    val mapped = deltaEdges
      .select(col(srcCol).as("__s"), col(dstCol).as("__t"))
      .join(lbl.select(col("__bid").as("__sid"), col("__bcomp").as("__scomp")),
        col("__s") === col("__sid"), "left")
      .join(lbl.select(col("__bid").as("__tid"), col("__bcomp").as("__tcomp")),
        col("__t") === col("__tid"), "left")
      .select(coalesce(col("__scomp"), col("__s")).as("__ca"),
        coalesce(col("__tcomp"), col("__t")).as("__cb"))
      .hint("rebalance") // size-based partitions for the per-round scans
      .persistTracked() // reduced-graph edges: reused every CC round
    val rnodes = mapped.select(col("__ca").as("__n"))
      .unionByName(mapped.select(col("__cb").as("__n")))
      .unionByName(newNodes.select(col(idCol).as("__n")))
      .distinct()
    val reduced = connected(rnodes, "__n", mapped, "__ca", "__cb", maxIters)
      .persistTracked()
    // one row per label that actually moved — delta-sized, not corpus
    val remap = reduced.filter(col("__n") =!= col("component"))
      .select(col("__n").as("__from"), col("component").as("__to"))
      .persistTracked()
    val remapSide =
      if (remap.limit(maxBroadcastRemap + 1).count() <= maxBroadcastRemap)
        broadcast(remap)
      else remap
    // isolated new nodes are in rnodes (own id = own label); the
    // coalesce is belt for an empty reduced graph
    val newOut = newNodes.select(col(idCol))
      .join(reduced, col(idCol) === col("__n"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as(componentCol))
    IncrementalParts(lbl, remapSide, newOut)
  }
}
