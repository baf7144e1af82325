package graft.core

/** Per-relationship-type cardinalities sealed at a full snapshot
  * write: `count` edges of the type, over `srcCount` distinct source
  * and `dstCount` distinct destination nodes — enough to estimate the
  * average fan-out of a traversal in either direction
  * (count/srcCount forward, count/dstCount backward). The distinct
  * counts are HyperLogLog approximations ([[GraphStats]] is an
  * OPTIMIZER input, never a semantic one): exact distincts would add
  * a full extra shuffle per save at 100 TB for precision join
  * ordering cannot use.
  *
  * `maxOut`/`maxIn` are different in kind: the EXACT largest number
  * of edges of the type leaving (entering) any one node, counted by
  * the full write over the sealed edges. They are upper bounds the
  * compiler may prove row counts with, so they are valid only while
  * the sealed edges are still the edges: None ("unknown") wherever
  * that cannot be shown — live stats, legacy 3-number entries, and
  * any type a delta adds edges to ([[GraphStats.bumped]]). Deletes
  * only lower degrees and keep them. */
final case class RelTypeStats(count: Long, srcCount: Long, dstCount: Long,
    maxOut: Option[Long] = None, maxIn: Option[Long] = None)

/** Graph-wide cardinality statistics — the cost-model input for
  * statistics-driven pattern-join ordering (SURVEY §4's planned
  * custom optimizer task; the reference's Cypher planner is
  * cost-based on exactly these label/relType counts). Sealed by a
  * full snapshot write from the data being written, carried through
  * incremental saves (the base is untouched), refreshed by
  * compaction, and OVERLAID with live-delta counts session-side
  * (GraftSession.statsFor) so the estimates track an ingest-heavy
  * session between saves.
  *
  * Estimates, not truths: a stale or approximate entry can only make
  * a plan slower, never wrong — the compiler re-applies every
  * predicate regardless of join order. The one exception is the
  * per-type degree maxima ([[RelTypeStats]]), which are exact upper
  * bounds valid only for the sealed edges: the compiler bounds a
  * measured frontier with them to skip re-running its probe, so
  * every path that can add edges marks them unknown. */
final case class GraphStats(
    nodeCount: Long,
    edgeCount: Long,
    labels: Map[String, Long],
    relTypes: Map[String, RelTypeStats]) {

  /** Overlay live/on-disk delta counts: every non-tombstone delta row
    * ADDS to its label/type (an upper bound — replacement rows count
    * again), tombstones subtract one. Bias toward over-counting is
    * the safe direction for an ordering heuristic: it can only make a
    * label look less selective than it is. A type with positive adds
    * loses its degree maxima: the added rows may raise any node's
    * degree, and the maxima must stay exact upper bounds. */
  def bumped(labelAdds: Map[String, Long], typeAdds: Map[String, Long],
      nodeAdd: Long, edgeAdd: Long): GraphStats =
    GraphStats(
      math.max(0L, nodeCount + nodeAdd),
      math.max(0L, edgeCount + edgeAdd),
      (labels.keySet ++ labelAdds.keySet).map(l =>
        l -> math.max(0L, labels.getOrElse(l, 0L) + labelAdds.getOrElse(l, 0L))).toMap,
      (relTypes.keySet ++ typeAdds.keySet).map { t =>
        val base = relTypes.getOrElse(t, RelTypeStats(0L, 0L, 0L))
        val add = typeAdds.getOrElse(t, 0L)
        val bumped = base.copy(count = math.max(0L, base.count + add))
        t -> (if (add > 0) bumped.copy(maxOut = None, maxIn = None) else bumped)
      }.toMap)
}
