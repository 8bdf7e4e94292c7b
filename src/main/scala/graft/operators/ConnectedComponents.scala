package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge set — the transitive
  * closure of the near-dup pair relation (VERDICT r2 task 4): pairwise LSH
  * output (q37) says "a≈b, b≈c", a corpus audit needs the *cluster*
  * {a, b, c} with a canonical representative and a size.
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round, a node's label becomes the minimum over its own and its
  * neighbors' labels (one shuffle), then labels are contracted one level
  * (`label ← label(label)`, a second shuffle) — the pointer-jumping step
  * collapses label chains, giving O(log diameter) rounds instead of
  * O(diameter), the difference between 6 and 60 shuffles on a long path at
  * 100 TB. Per round: two equi-join shuffles + one aggregation, all
  * key-partitioned — no driver-side graph state; the driver sees only a
  * per-round label-sum scalar.
  *
  * Lineage is CUT every round (each iteration plans against the previous
  * round's persisted RDD, not its logical plan): the round plan references
  * the labels four times, so composing plans would grow 4^rounds and OOM
  * the driver around round 15 — the classic iterative-DataFrame trap. The
  * cut is a LogicalRDD over the plan's own InternalRows, so it converts no
  * rows.
  *
  * Convergence (r18 optimization): labels only DECREASE and the node set
  * is fixed after the seed, so "no label changed" ⟺ "Σ label unchanged".
  * The old per-round changed-count was a third keyed JOIN (next ⋈ cur) +
  * filter + count; the sum is ONE aggregation over the just-persisted
  * round — exact in DECIMAL(38,0) (labels ≤ 2^63, rows ≤ ~1e13 before the
  * sum could even approach 10^38). Fixpoint and output are IDENTICAL: the
  * loop exits on exactly the same round as the changed-count form
  * (ConnectedComponentsSpec pins label equality on chain/star/merge
  * shapes; every CC-consuming oracle is unchanged). The result also no
  * longer pays a final copy: the label column is named `cluster_id` from
  * the seed and the last round's persisted frame IS the returned one
  * (one fewer full-table conversion + persist + count per call — CC runs
  * ~11× per bench sweep across q70/q128/q275/q279/q291/q292/q294).
  *
  * Labels are bounded below by the component minimum, so the fixpoint
  * (every node labeled with its component's min id) is reached within
  * maxIter rounds; capped LSH buckets (Dedup.LshBucketCap) keep real
  * cluster diameters tiny.
  */
object ConnectedComponents {

  /** `edges`: two columns (src, dst), undirected (symmetrized internally).
    * Returns (id, cluster_id) for every node incident to an edge, where
    * cluster_id = the minimum node id in the component. The result is
    * persisted (its own cache, all internals released); the caller
    * unpersists it when done. */
  def components(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // small-plan view of a persisted DF: downstream rounds read its RDD,
    // not its (growing) logical plan. The cut is a LogicalRDD over the
    // plan's own InternalRows (PlanUtil.cutLineage): a createDataFrame(
    // df.rdd, schema) cut pays an InternalRow→Row→InternalRow round-trip
    // of the whole table per round per consumer (41 task-s of q279's cold
    // profile), and erases the partitioning the edge-set optimization
    // below depends on.
    def cut(df: DataFrame): DataFrame = org.apache.spark.sql.graft.PlanUtil.cutLineage(df)

    // exact Σ cluster_id of a persisted round — the monotone convergence
    // statistic (None on an empty label table; equal Nones terminate)
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val r = df.agg(sum(col("cluster_id").cast(DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) None else Some(r.getDecimal(0))
    }

    // materialize the edge set ONCE before symmetrizing: the union
    // references it twice, which would re-execute the (expensive) pair
    // pipeline feeding this operator twice
    val e = edges.toDF("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    // persist the symmetrized edge set PRE-PARTITIONED on src. Every
    // round's hop joins sym on src — without the repartition the cached
    // edge set re-exchanges once per round (rounds × the biggest table in
    // the loop); with it, the one-time exchange here is reused by the seed
    // aggregation AND every hop join (cutLineage preserves the cached
    // plan's hashpartitioning, so EnsureRequirements plans the sym side
    // exchange-free). Skew note: a partition holds whole src groups, but
    // group sizes are bounded by the callers' bucket caps (LshBucketCap
    // and friends), the same bound the per-round aggregation relies on.
    val sym0 = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sym = cut(sym0)

    // seed at min(id, min neighbor) — round 1's hop result computed from
    // the aggregate alone (no join), so the loop starts one round ahead;
    // sym is symmetrized, so every incident node appears as src
    var cur = sym.groupBy(col("src").as("id")).agg(min("dst").as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("cluster_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var curSum = labelSum(cur) // materializes the seed
    e.unpersist()
    var curView = cut(cur)

    var iters = 0
    var done = false
    while (!done && iters < maxIter) {
      // hop: min label over self and neighbors. Persisted: the pointer
      // jump below references it TWICE (probe and build side), and the
      // lineage-cut label table can't be exchange-reused across those two
      // subplans — without the persist the join+union+agg runs twice per
      // round.
      val hop = sym.join(curView, sym("src") === curView("id"))
        .select(col("dst").as("id"), col("cluster_id"))
        .union(curView)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pointer jump: contract one level of label indirection
      val next = hop.as("h")
        .join(hop.select(col("id").as("jid"), col("cluster_id").as("jlabel")).as("j"),
          col("h.cluster_id") === col("jid"), "left")
        .select(col("h.id").as("id"),
          least(col("h.cluster_id"),
            coalesce(col("jlabel"), col("h.cluster_id"))).as("cluster_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      val nextSum = labelSum(next) // materializes the round
      hop.unpersist()
      cur.unpersist()
      cur = next
      curView = cut(next)
      done = nextSum == curSum
      curSum = nextSum
      iters += 1
    }
    sym0.unpersist()
    cur
  }
}
