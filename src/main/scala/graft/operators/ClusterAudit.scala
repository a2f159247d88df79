package graft.operators

import graft.functions.GraphKernels
import graft.operators.ConnectedComponents.CodePointOrder
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Post-clustering cluster-quality audit: per-cluster cohesion census and
  * opt-in WEAK-BRIDGE REPAIR over the accepted-edge graph.
  *
  * Why it exists: transitive clustering is precision's weak point at
  * scale — ONE accepted cross-entity pair merges two whole entities, and
  * the pairwise false-positive cost of that merge is |A|·|B|, not 1. The
  * pair-local conflict veto (reference AMPI.scala:280,293 →
  * PairScoring.exclusiveConflict) cannot see it, because each pair is
  * judged alone; structurally, though, a false merge is visible in the
  * CLUSTER graph as a near-threshold BRIDGE — or a parallel BUNDLE of
  * near-threshold edges — between two dense subgraphs (the skew-scale
  * probe measured exactly this tail: 2 mixed clusters of 190k entities,
  * each glued by accepted cross-entity pairs —
  * BENCH/round5_skew_scale.json). The repair kernel contracts ≥-strong
  * cores and cuts bridge BUNDLES of the contracted graph
  * ([[GraphKernels.weakCutRepair]]), so k parallel weak edges — invisible
  * to single-edge Tarjan bridges — still fall when nothing strong vouches
  * for the merge.
  *
  * Scale shape: ONE equi-join of the ≥-threshold pairs to the assignments
  * (on doc_id_a — both endpoints share the cluster by CC construction),
  * one cogroup shuffle keyed by cluster_id over multi-doc clusters only,
  * and a per-cluster pure kernel ([[GraphKernels]]). Per-cluster work is
  * bounded: entity-sized graphs, sub-quadratic edge sets under the block
  * cap, and an explicit `maxClusterEdges` guard that reports (never
  * silently processes) a pathological mega-cluster. Everything else —
  * counters, re-labeled assignments — is one aggregation over the
  * (changed-clusters-only) kernel output.
  */
object ClusterAudit {

  final case class AuditConfig(
      /** edge acceptance — MUST match the pipeline's scoreThreshold */
      threshold: Double = 0.60,
      /** a bridge at or above this score is trusted structure, never cut:
        * chain/refinement recovery inside capped hot blocks is
        * bridge-shaped by design and its same-entity edges score high,
        * while false merges ride near-threshold pairs */
      strongScore: Double = 0.75,
      /** cut only when BOTH sides keep at least this many docs — a weak
        * edge attaching one noisy doc to its own entity is recall the
        * scorer barely held, not a false merge */
      minSideDocs: Int = 2,
      /** per-cluster kernel guard: clusters with more accepted edges are
        * reported over_cap and passed through unmodified */
      maxClusterEdges: Int = 1000000,
      /** greedy-cut guard per cluster (loud in counters, never silent) */
      maxCutsPerCluster: Int = 10000)

  /** One census row per multi-doc cluster (singletons have no edges and
    * no failure modes). `over_cap` rows carry streaming-computable stats
    * with bridge fields = -1 (not computed).
    */
  final case class CohesionRow(cluster_id: String, n_docs: Int, n_edges: Long,
                               min_score: Double, avg_score: Double, density: Double,
                               n_bridges: Int, n_weak_bridges: Int, n_weak_bundles: Int,
                               connected: Boolean, over_cap: Boolean)

  /** Kernel output of the repair pass — three row shapes, discriminated by
    * null pattern, all keyed by the audited cluster:
    *  - assignment rows (`doc_id`, `cluster_id_new` set): every doc of a
    *    cluster that received ≥ 1 cut, with its post-repair cluster id
    *    (= min doc_id of its side);
    *  - cut rows (`cut_a` < `cut_b` set): one per cut pair, in the scored
    *    table's canonical doc_id_a < doc_id_b orientation;
    *  - marker rows (flags set): over-cap or (defensively) disconnected
    *    clusters, reported and left untouched.
    */
  final case class RepairOut(cluster_id_old: String,
                             doc_id: String, cluster_id_new: String,
                             cut_a: String, cut_b: String,
                             over_cap: Boolean, disconnected: Boolean)

  final case class RepairResult(
      /** full assignments with repaired clusters re-labeled (min doc_id
        * per side); untouched clusters ride through unchanged */
      assignments: DataFrame,
      /** only the re-labeled rows (doc_id, cluster_id) — every doc of every
        * cut cluster; the delta-commit `adds` side */
      changedAssignments: DataFrame,
      /** the pre-repair cluster_ids of the cut clusters — the delta-commit
        * keyed-`removes` side */
      changedClusters: DataFrame,
      /** the cut pairs (doc_id_a < doc_id_b) — the evidence rows the audit
        * retracts from the scored set */
      cutPairs: DataFrame,
      counters: Map[String, Long],
      private val kernelRows: DataFrame) {
    /** Release the persisted kernel output backing `assignments`/
      * `cutPairs` once they are materialized (or abandoned) — after
      * release they recompute the kernel pass from source.
      */
    def release(): Unit = kernelRows.unpersist()
  }

  /** The ≥-threshold edge relation keyed by cluster: (cluster_id,
    * doc_id_a, doc_id_b, score). One endpoint join suffices — CC put both
    * endpoints of every accepted edge in the same cluster.
    */
  def clusterEdges(assignments: DataFrame, scoredPairs: DataFrame,
                   threshold: Double): DataFrame =
    scoredPairs.where(col("score") >= threshold)
      .join(assignments.select(col("doc_id").as("doc_id_a"), col("cluster_id")), "doc_id_a")
      .select(col("cluster_id"), col("doc_id_a"), col("doc_id_b"), col("score"))

  /** Members of clusters that have at least one accepted edge (the only
    * clusters with auditable structure).
    */
  private def multiDocMembers(assignments: DataFrame, edges: DataFrame): DataFrame =
    assignments.join(edges.select("cluster_id").distinct(), Seq("cluster_id"), "left_semi")
      .select(col("cluster_id"), col("doc_id"))

  /** Materialize one cluster's graph out of the cogroup iterators.
    * Returns None when the edge cap tripped (edges drained but discarded).
    */
  private def materialize(ms: Iterator[(String, String)],
                          es: Iterator[(String, String, String, Double)],
                          maxEdges: Int):
      Option[(Array[String], Array[(Int, Int)], Array[Double])] = {
    val nodesB = mutable.ArrayBuffer.empty[String]
    ms.foreach(m => nodesB += m._2)
    val edgesB = mutable.ArrayBuffer.empty[(String, String, Double)]
    var overCap = false
    while (es.hasNext) {
      val e = es.next()
      if (edgesB.length < maxEdges) edgesB += ((e._2, e._3, e._4)) else overCap = true
    }
    if (overCap) return None
    // node universe = members ∪ edge endpoints (defensive: a foreign
    // endpoint must not crash the audit), indexed in Spark's doc_id order
    // (code points, not UTF-16) so kernel labels are order-isomorphic to
    // min-doc_id cluster ids
    val names = (nodesB ++ edgesB.flatMap(e => Seq(e._1, e._2))).distinct
      .sorted(CodePointOrder).toArray
    val idx = names.zipWithIndex.toMap
    Some((names,
      edgesB.map(e => (idx(e._1), idx(e._2))).toArray,
      edgesB.map(_._3).toArray))
  }

  /** Per-cluster cohesion census (one pass, no mutation). */
  def cohesion(assignments: DataFrame, scoredPairs: DataFrame,
               cfg: AuditConfig = AuditConfig()): Dataset[CohesionRow] = {
    val spark = assignments.sparkSession
    import spark.implicits._
    val edges = clusterEdges(assignments, scoredPairs, cfg.threshold)
    val mKV = multiDocMembers(assignments, edges).as[(String, String)].groupByKey(_._1)
    val eKV = edges.as[(String, String, String, Double)].groupByKey(_._1)
    mKV.cogroup(eKV) { (cid, ms, es) =>
      // ONE streaming drain of the edge iterator: count/min/sum accumulate
      // over EVERY edge while at most maxClusterEdges are buffered for the
      // kernel — an over-cap mega-hub cluster costs a bounded buffer plus
      // scalars, never an O(edges) materialization on one task (the repair
      // pass has the same shape via materialize())
      val nodesB = mutable.ArrayBuffer.empty[String]
      ms.foreach(m => nodesB += m._2)
      val edgesB = mutable.ArrayBuffer.empty[(String, String, Double)]
      var nEdges = 0L
      var minScore = Double.MaxValue
      var sumScore = 0.0
      while (es.hasNext) {
        val e = es.next()
        nEdges += 1
        if (e._4 < minScore) minScore = e._4
        sumScore += e._4
        if (edgesB.length < cfg.maxClusterEdges) edgesB += ((e._2, e._3, e._4))
      }
      if (nEdges > cfg.maxClusterEdges)
        Iterator.single(CohesionRow(cid, nodesB.length, nEdges,
          minScore, sumScore / nEdges, -1.0, -1, -1, -1,
          connected = true, over_cap = true))
      else if (nEdges == 0) Iterator.empty
      else {
        val names = (nodesB ++ edgesB.flatMap(e => Seq(e._1, e._2))).distinct.sorted.toArray
        val idx = names.zipWithIndex.toMap
        val earr = edgesB.map(e => (idx(e._1), idx(e._2))).toArray
        val sarr = edgesB.map(_._3).toArray
        val s = GraphKernels.clusterStats(names.length, earr, sarr, cfg.strongScore,
          cfg.minSideDocs)
        Iterator.single(CohesionRow(cid, s.nDocs, s.nEdges, s.minScore, s.avgScore,
          s.density, s.nBridges, s.nWeakBridges, s.nWeakBundles, s.connected,
          over_cap = false))
      }
    }
  }

  /** The repair kernel pass (see [[RepairOut]]); emits rows ONLY for
    * clusters that changed or tripped a guard — clean clusters cost
    * nothing downstream.
    */
  private[graft] def repairRows(assignments: DataFrame, scoredPairs: DataFrame,
                                cfg: AuditConfig): Dataset[RepairOut] = {
    val spark = assignments.sparkSession
    import spark.implicits._
    val edges = clusterEdges(assignments, scoredPairs, cfg.threshold)
    val mKV = multiDocMembers(assignments, edges).as[(String, String)].groupByKey(_._1)
    val eKV = edges.as[(String, String, String, Double)].groupByKey(_._1)
    mKV.cogroup(eKV) { (cid, ms, es) =>
      materialize(ms, es, cfg.maxClusterEdges) match {
        case None =>
          Iterator.single(RepairOut(cid, null, null, null, null,
            over_cap = true, disconnected = false))
        case Some((names, earr, sarr)) if earr.nonEmpty =>
          val n = names.length
          // a disconnected cluster means assignments and scored pairs
          // drifted (should be impossible on this engine's histories) —
          // report, never "repair" what CC never merged
          val comp0 = GraphKernels.components(n, earr, _ => false)
          if (comp0.exists(_ != comp0(0)))
            Iterator.single(RepairOut(cid, null, null, null, null,
              over_cap = false, disconnected = true))
          else {
            val r = GraphKernels.weakCutRepair(n, earr, sarr,
              cfg.strongScore, cfg.minSideDocs, cfg.maxCutsPerCluster)
            if (r.cutEdges.isEmpty) Iterator.empty
            else {
              val minName = new Array[String](n)
              var i = 0
              while (i < n) {
                val c = r.labels(i)
                if (minName(c) == null || CodePointOrder.lt(names(i), minName(c)))
                  minName(c) = names(i)
                i += 1
              }
              val assigns = (0 until n).iterator.map(i =>
                RepairOut(cid, names(i), minName(r.labels(i)), null, null,
                  over_cap = false, disconnected = false))
              val cuts = r.cutEdges.iterator.map { e =>
                val (u, v) = earr(e)
                // oriented like candidatePairs (doc_id_a < doc_id_b in
                // Spark's order), or the keyed scored_pairs retraction and
                // the tombstone would match nothing
                val (a, b) = if (CodePointOrder.lt(names(u), names(v))) (names(u), names(v))
                             else (names(v), names(u))
                RepairOut(cid, null, null, a, b, over_cap = false, disconnected = false)
              }
              assigns ++ cuts
            }
          }
        case _ => Iterator.empty
      }
    }
  }

  /** Run the repair: returns the full re-labeled assignments, the cut
    * pairs, and counters. The kernel output (changed clusters only) is
    * persisted for its multiple consumers and released before return.
    */
  def repair(assignments: DataFrame, scoredPairs: DataFrame,
             cfg: AuditConfig = AuditConfig()): RepairResult = {
    val rows = repairRows(assignments, scoredPairs, cfg).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val agg = rows.agg(
      coalesce(count_distinct(when(col("doc_id").isNotNull, col("cluster_id_old"))), lit(0L)),
      coalesce(sum(when(col("doc_id").isNotNull &&
        col("cluster_id_new") =!= col("cluster_id_old"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("cut_a").isNotNull, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("over_cap"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("disconnected"), 1L).otherwise(0L)), lit(0L)),
      coalesce(count_distinct(when(col("doc_id").isNotNull, col("cluster_id_new"))), lit(0L))
    ).collect()(0)
    val counters = Map(
      "audit_clusters_cut" -> agg.getLong(0),
      "audit_docs_reassigned" -> agg.getLong(1),
      "audit_bridges_cut" -> agg.getLong(2),
      "audit_clusters_over_cap" -> agg.getLong(3),
      "audit_clusters_disconnected" -> agg.getLong(4),
      "audit_clusters_after_cut" -> agg.getLong(5))

    val changed = rows.where(col("doc_id").isNotNull)
      .select(col("doc_id"), col("cluster_id_new").as("cluster_id"),
        col("cluster_id_old"))
    val changedClusters = changed.select(col("cluster_id_old").as("cluster_id")).distinct()
    // changed clusters are few by construction (each needed a qualifying
    // weak bridge); broadcast the anti-join side while it is genuinely
    // dimension-sized (within DriverBound), else let it shuffle
    val ccJ = DriverBound.broadcastWithin(changedClusters, counters("audit_clusters_cut"))
    val changedRows = changed.select(col("doc_id"), col("cluster_id"))
    val repaired = assignments.join(ccJ, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id")) // join keys lead otherwise
      .unionByName(changedRows)
    val cutPairs = rows.where(col("cut_a").isNotNull)
      .select(col("cut_a").as("doc_id_a"), col("cut_b").as("doc_id_b"))
    RepairResult(repaired, changedRows, changedClusters, cutPairs, counters, rows)
  }
}
