package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list, via the
  * alternating large-star / small-star algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", ACM SoCC 2014).
  *
  * This is the clustering step of a near-duplicate pipeline: LSH
  * banding (q47) emits candidate PAIRS, but deduplication needs the
  * transitive closure — one canonical document per duplicate CLUSTER,
  * where A~B and B~C put A and C in the same cluster even when A and
  * C never collide directly.
  *
  * Why this algorithm at 100 TB:
  *  - Each round is a few keyed shuffles (a per-node window min and
  *    a `distinct`) — no adjacency list is ever collected into a
  *    single row, so a supernode with 10⁸ duplicate neighbors
  *    (boilerplate pages) cannot OOM one executor the way a
  *    `collect_set`-based label propagation would.
  *  - Convergence is O(log² n) rounds on any graph (proved in the
  *    paper), vs O(diameter) for plain min-label propagation — a
  *    chain of pairwise-similar documents (common with templated
  *    text) has diameter O(n).
  *  - Every round ends in `localCheckpoint`, truncating the lineage
  *    so the plan does not grow with the iteration count.
  *
  * Output: one row per node appearing in `edges`, with `component` =
  * the smallest node id in its connected component (a deterministic
  * canonical representative).
  *
  * Reference analog: none — the reference deduplicates only via
  * ReplacingMergeTree exact-key folding
  * (dbms/src/DataStreams/ReplacingSortedBlockInputStream.cpp); the
  * transitive near-dup clustering is part of this library's
  * training-pipeline surface.
  */
object ConnectedComponents {
  /** @param edges    undirected edge list (self-loops ignored)
    * @param srcCol   source node column (castable to long)
    * @param dstCol   destination node column (castable to long)
    * @param maxIter  safety bound on rounds; O(log² n) are needed, so
    *                 25 covers any realistic graph (2^~5 chain depth
    *                 per round). Hitting the bound throws rather than
    *                 returning unconverged clusters.
    */
  def apply(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    // Checkpoint the INPUT edge list: `edges` is typically an
    // expensive subtree (a similarity pair join), and without the
    // checkpoint it re-executes for the emptiness probe, for round 1,
    // AND for the `nodes` side of the final join — three full passes
    // of the pair source. Lazy: the first action (the emptiness
    // probe) materializes it.
    val in = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .localCheckpoint(eager = false)
    // nodes from the RAW input: a node appearing only in a self-loop
    // still gets a (node, node) output row
    val nodes = in.select(col("u")).union(in.select(col("v"))).distinct()
    var e = in.where(col("u") =!= col("v")).distinct()

    var it = 0
    var prev: (Long, Long) = (-1L, -1L)
    var converged = e.isEmpty
    // Rounds run with AQE OFF at a partition count taken from the
    // materialized input checkpoint. Under AQE every round's signature
    // action fans out into one Spark job PER EXCHANGE (the stage
    // materializations: large-star window, small-star window, distinct,
    // final agg — 5-6 jobs/round measured at sf0.1, 36 jobs per q99
    // invocation), and at the benchmarked scale the operator is
    // job-floor-bound, not data-bound. With a fixed partition count the
    // whole round is ONE job with all stages. The count is NOT a local
    // constant: it is the AQE-coalesced partitioning of the edge input
    // itself (available for free on the checkpointed RDD), so it grows
    // with the data exactly as AQE sized the input. What AQE-off costs
    // inside the loop: runtime re-coalescing as the edge set shrinks —
    // nothing else (rounds are windows/aggregates; AQE skew splitting
    // applies only to joins, and there are none since the window-min
    // restructure). Session confs are restored before the final join
    // below is planned, so the caller's plans are untouched.
    val sess = in.sparkSession
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = sess.conf.get("spark.sql.shuffle.partitions", "200")
    val roundParts = math.max(in.rdd.getNumPartitions, 1)
    try {
      sess.conf.set("spark.sql.adaptive.enabled", "false")
      sess.conf.set("spark.sql.shuffle.partitions", roundParts.toString)
      while (!converged && it < maxIter) {
        // LAZY checkpoint: the signature action right below
        // materializes the round's edges INTO the checkpoint blocks —
        // one Spark job per round instead of two (eager=true ran the
        // round once for the checkpoint and again for the signature;
        // at the benchmarked scale each round is job-floor-bound, so
        // the extra job per round was ~40% of the operator's wall
        // time). The lineage is truncated identically once the action
        // has run.
        e = smallStar(largeStar(e)).localCheckpoint(eager = false)
        // cheap order-insensitive fixpoint signature: edge count + xor
        // of per-edge hashes (the edge set is distinct, so xor cannot
        // cancel duplicates)
        val sig = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"))
          .head()
        val s = (sig.getLong(0), if (sig.isNullAt(1)) 0L else sig.getLong(1))
        converged = s == prev
        prev = s
        it += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIter rounds")
      // fixpoint = star forest: every edge is (node, component-min).
      // Roots and isolated input nodes map to themselves. The min-agg
      // is belt-and-braces: at a true fixpoint each node carries at
      // most one star edge.
      //
      // Assembled and EAGERLY materialized inside the fixed-partition
      // window: the output is one row per node — the algorithm's own
      // result, bounded by the edge list — and materializing it here
      // (a) runs the 3-exchange assembly as ONE job instead of one
      // AQE stage job per exchange, and (b) hands the caller a leaf,
      // so a consumer joining clusters back onto its fact table plans
      // a small flat subtree instead of re-walking the loop lineage.
      nodes.join(
        e.groupBy(col("u")).agg(min(col("v")).as("component")),
        Seq("u"), "left")
        .select(col("u").as("node"),
          coalesce(col("component"), col("u")).as("component"))
        .localCheckpoint(eager = true)
    } finally {
      sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
      sess.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  /** Large-star: every node u connects its strictly-larger neighbors
    * to m(u) = min(Γ(u) ∪ {u}). Doubling step — long chains halve.
    *
    * m(u) comes from a WINDOW min over the u-partition — ONE keyed
    * exchange, where a per-u groupBy joined back would pay two
    * exchanges of the undirected edge list plus a sort-merge join per
    * round. A supernode's partition buffers through
    * ExternalAppendOnlyUnsafeRowArray (spills to disk) — no collected
    * adjacency list. */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    und.withColumn("m", least(min(col("v")).over(w), col("u")))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: every node u connects its smaller-or-equal neighbors
    * (and itself) to their minimum — flattens local stars. Same
    * window min as [[largeStar]]; the per-u (u, m) star edges are
    * emitted once per input row, and the duplicates collapse in the
    * final distinct. */
  private def smallStar(e: DataFrame): DataFrame = {
    // orient every edge toward the smaller endpoint: (hi, lo) —
    // largeStar's output is already oriented, so this is a free
    // codegen projection, kept for call-order safety
    val or = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val withM = or.withColumn("m", min(col("v")).over(w))
    withM.select(col("v").as("u"), col("m").as("v"))
      .union(withM.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }
}
