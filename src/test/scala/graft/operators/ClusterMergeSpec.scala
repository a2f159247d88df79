package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ClusterMergeSpec extends SparkSpec {
  import spark.implicits._

  private def assign(rows: (String, String)*): DataFrame =
    rows.toDF("doc_id", "cluster_id")
  /** scored rows in the pipeline's full committed schema shape (the merge
    * operator preserves it verbatim through promotion) */
  private def pairs(rows: (String, String, Double)*): DataFrame =
    rows.map { case (a, b, s) => (a, b, 0L, s, s, s, s, true, false) }
      .toDF("doc_id_a", "doc_id_b", "block_key", "sim_text", "sim_media",
        "sim_align", "score", "media_usable", "vetoed")

  /** One entity split across two clusters: dense intra edges, two
    * independent near-miss cross edges — the false-split shape.
    */
  private def splitCase = (
    assign(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1")),
    pairs(("a1", "a2", 0.9), ("b1", "b2", 0.9),
      ("a2", "b1", 0.57), ("a1", "b2", 0.54)))

  test("merge joins a corroborated near-miss split and promotes the evidence") {
    val (a, p) = splitCase
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_qualified") == 1L)
    assert(r.counters("merge_clusters_merged") == 2L)
    assert(r.counters("merge_components") == 1L)
    assert(r.counters("merge_docs_relabeled") == 2L) // the b side moves
    assert(r.counters("merge_pairs_promoted") == 2L)
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got == Map("a1" -> "a1", "a2" -> "a1", "b1" -> "a1", "b2" -> "a1"))
    // promoted rows: same pairs, score lifted to promoteScore, channels kept
    val prom = r.promotedPairs.select("doc_id_a", "doc_id_b", "score", "sim_text")
      .as[(String, String, Double, Double)].collect().toSet
    assert(prom == Set(("a2", "b1", 0.75, 0.57), ("a1", "b2", 0.75, 0.54)))
    // ledger keeps the ORIGINAL rows verbatim
    val led = r.promotionLedger.select("doc_id_a", "doc_id_b", "score")
      .as[(String, String, Double)].collect().toSet
    assert(led == Set(("a2", "b1", 0.57), ("a1", "b2", 0.54)))
    // changed rows cover every doc of both merged clusters; removes side
    // carries both old ids
    assert(r.changedAssignments.count() == 4L)
    assert(r.changedClusters.as[String].collect().toSet == Set("a1", "b1"))
    r.release()
  }

  test("a single near-miss edge is below evidence and never merges") {
    val a = assign(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"))
    val p = pairs(("a1", "a2", 0.9), ("b1", "b2", 0.9), ("a2", "b1", 0.59))
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_qualified") == 0L)
    assert(r.counters("merge_pairs_below_evidence") == 1L)
    assert(r.assignments.as[(String, String)].collect().toSet ==
      a.as[(String, String)].collect().toSet)
    assert(r.promotedPairs.isEmpty)
    r.release()
  }

  test("a standing tombstone between the clusters vetoes the merge (cut-audit anti-oscillation)") {
    val (a, p) = splitCase
    // the cut audit severed a3<->b9 across this boundary earlier; the pair
    // itself is gone from the scored set but the tombstone stands
    val ts = Seq(("a1", "b9"), ("a9", "b1")).toDF("doc_id_a", "doc_id_b")
    // only a1..a2/b1..b2 are assigned; give the tombstone real endpoints
    val a2 = assign(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"),
      ("b9", "b1"), ("a9", "a1"))
    val r = ClusterMerge.merge(a2, p, tombstones = Some(ts))
    assert(r.counters("merge_cluster_pairs_qualified") == 0L)
    assert(r.counters("merge_vetoed_tombstone") == 1L)
    assert(r.assignments.as[(String, String)].collect().toSet ==
      a2.as[(String, String)].collect().toSet)
    r.release()
  }

  test("a hard-conflict-vetoed cross pair vetoes the merge (M7 at cluster scope)") {
    val a = assign(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"))
    val base = pairs(("a1", "a2", 0.9), ("b1", "b2", 0.9),
      ("a2", "b1", 0.57), ("a1", "b2", 0.54))
    val veto = Seq(("a1", "b1", 0L, 0.8, 0.8, 0.8, 0.0, true, true))
      .toDF("doc_id_a", "doc_id_b", "block_key", "sim_text", "sim_media",
        "sim_align", "score", "media_usable", "vetoed")
    val r = ClusterMerge.merge(a, base.unionByName(veto))
    assert(r.counters("merge_cluster_pairs_qualified") == 0L)
    assert(r.counters("merge_vetoed_conflict") == 1L)
    assert(r.assignments.as[(String, String)].collect().toSet ==
      a.as[(String, String)].collect().toSet)
    r.release()
  }

  test("an accepted cross-cluster edge merges unconditionally without re-promoting (drift rule)") {
    val a = assign(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"))
    // the shape a crashed merge repair leaves: promoted (>= threshold)
    // cross edges durable, assignments not yet re-labeled
    val p = pairs(("a1", "a2", 0.9), ("b1", "b2", 0.9), ("a2", "b1", 0.75))
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_drift") == 1L)
    assert(r.counters("merge_cluster_pairs_qualified") == 1L)
    assert(r.counters("merge_pairs_promoted") == 0L)
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got == Map("a1" -> "a1", "a2" -> "a1", "b1" -> "a1", "b2" -> "a1"))
    r.release()
  }

  test("merges are transitive across cluster pairs and label to the global min doc_id") {
    val a = assign(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"),
      ("c1", "c1"), ("c2", "c1"))
    val p = pairs(("a1", "a2", 0.9), ("b1", "b2", 0.9), ("c1", "c2", 0.9),
      ("a2", "b1", 0.57), ("a1", "b2", 0.54), // a<->b qualifies
      ("b2", "c1", 0.58), ("b1", "c2", 0.55)) // b<->c qualifies
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_qualified") == 2L)
    assert(r.counters("merge_clusters_merged") == 3L)
    assert(r.counters("merge_components") == 1L)
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got.values.toSet == Set("a1"))
    r.release()
  }

  test("a 1+1+1 shatter heals via triangle-closure witnesses (one edge per pair)") {
    val a = assign(("a1", "a1"), ("a2", "a2"), ("a3", "a3"))
    // each fragment pair has exactly ONE possible cross pair — per-pair
    // multiplicity can never reach 2, but each pair has the third fragment
    // as a common band-neighbor
    val p = pairs(("a1", "a2", 0.55), ("a1", "a3", 0.56), ("a2", "a3", 0.57))
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_qualified") == 3L)
    assert(r.counters("merge_components") == 1L)
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1"))
    assert(r.counters("merge_pairs_promoted") == 3L)
    r.release()
  }

  test("witness-degree cap: over-cap hubs stop witnessing, direct evidence survives") {
    // a 1+1+1 shatter triangle (heals only via witnesses) next to a direct
    // 2-edge split (heals on its own evidence)
    val a = assign(("x1", "x1"), ("x2", "x2"), ("h1", "h1"),
      ("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"))
    val p = pairs(("x1", "x2", 0.55), ("x1", "h1", 0.55), ("x2", "h1", 0.55),
      ("a1", "a2", 0.9), ("b1", "b2", 0.9), ("a2", "b1", 0.57), ("a1", "b2", 0.54))
    // default cap (64): nothing trips, triangle closes via witnesses
    val r0 = ClusterMerge.merge(a, p)
    assert(r0.counters("merge_witness_hubs_capped") == 0L)
    assert(r0.counters("merge_cluster_pairs_qualified") == 4L)
    r0.release()
    // cap 1: every triangle member has band degree 2 and is excluded from
    // the witness role — the triangle pairs fall below evidence (their
    // DIRECT edges still count, just no longer corroborated), the 2-edge
    // split still merges, and the capped hubs are counted loudly
    val r1 = ClusterMerge.merge(a, p,
      cfg = ClusterMerge.MergeConfig(maxWitnessDegree = 1))
    assert(r1.counters("merge_witness_hubs_capped") == 3L)
    assert(r1.counters("merge_cluster_pairs_qualified") == 1L)
    assert(r1.counters("merge_pairs_below_evidence") == 3L)
    val got = r1.assignments.as[(String, String)].collect().toMap
    assert(got("b2") == "a1" && got("x1") == "x1" && got("x2") == "x2" && got("h1") == "h1")
    r1.release()
  }

  test("a lone junk edge between two corroborated pairs does not bridge them (witness safety)") {
    // {A,B} and {X,Y} are each real 2-edge splits; one junk band edge A-X.
    // A and X both have high band degree, but the (A,X) pair itself has one
    // edge and NO common neighbor — it must not qualify.
    val a = assign(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"),
      ("x1", "x1"), ("x2", "x1"), ("y1", "y1"), ("y2", "y1"))
    val p = pairs(
      ("a1", "a2", 0.9), ("b1", "b2", 0.9), ("x1", "x2", 0.9), ("y1", "y2", 0.9),
      ("a1", "b1", 0.57), ("a2", "b2", 0.55), // A<->B corroborated
      ("x1", "y1", 0.58), ("x2", "y2", 0.56), // X<->Y corroborated
      ("a1", "x1", 0.59))                     // the junk bridge
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_qualified") == 2L)
    assert(r.counters("merge_components") == 2L)
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got("a1") == "a1" && got("b2") == "a1")
    assert(got("x1") == "x1" && got("y2") == "x1")
    assert(got("a1") != got("x1"), "the junk bridge must not merge the two entities")
    r.release()
  }

  test("multiplicity without coverage does not merge (the junk-hub shape from the 571k census)") {
    // two FULL 3-doc clusters of different entities sharing 2 coincidental
    // near-misses: multiplicity (2 >= minEvidence) is met, but 2 of 9
    // possible cross pairs is coverage 0.22 — the exact shape that would
    // have committed 19 false merges on the skew corpus without the
    // coverage dial (BENCH/BASELINE.md merge census).
    val a = assign(("a1", "a1"), ("a2", "a1"), ("a3", "a1"),
      ("b1", "b1"), ("b2", "b1"), ("b3", "b1"))
    val p = pairs(("a1", "a2", 0.9), ("a1", "a3", 0.9), ("b1", "b2", 0.9),
      ("b1", "b3", 0.9), ("a1", "b2", 0.58), ("a3", "b1", 0.55))
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_qualified") == 0L)
    assert(r.counters("merge_pairs_below_coverage") == 1L)
    assert(r.counters("merge_pairs_below_evidence") == 0L)
    assert(r.assignments.as[(String, String)].collect().toSet ==
      a.as[(String, String)].collect().toSet)
    assert(r.promotedPairs.isEmpty)
    r.release()
  }

  test("a full near-threshold split of two 3-doc fragments covers its opportunity and merges") {
    // 3+3 fragments of ONE entity where 5 of the 9 cross pairs land in the
    // band: coverage 0.56 >= 0.5 and multiplicity 5 >= 2 — qualifies.
    val a = assign(("a1", "a1"), ("a2", "a1"), ("a3", "a1"),
      ("b1", "b1"), ("b2", "b1"), ("b3", "b1"))
    val cross = Seq(("a1", "b1", 0.58), ("a1", "b2", 0.57), ("a2", "b1", 0.55),
      ("a2", "b3", 0.56), ("a3", "b2", 0.59))
    val p = pairs(Seq(("a1", "a2", 0.9), ("a1", "a3", 0.9), ("b1", "b2", 0.9),
      ("b1", "b3", 0.9)) ++ cross: _*)
    val r = ClusterMerge.merge(a, p)
    assert(r.counters("merge_cluster_pairs_qualified") == 1L)
    assert(r.counters("merge_pairs_below_coverage") == 0L)
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got.values.toSet == Set("a1"))
    assert(r.counters("merge_pairs_promoted") == 5L)
    r.release()
  }

  test("maxPromotePerPair caps promotions at the top scores; the rest are counted") {
    val a = assign(("a1", "a1"), ("a2", "a1"), ("a3", "a1"),
      ("b1", "b1"), ("b2", "b1"), ("b3", "b1"))
    val cross = for { x <- Seq("a1", "a2", "a3"); y <- Seq("b1", "b2", "b3") }
      yield (x, y, 0.51 + 0.01 * (x.hashCode % 3 + y.hashCode % 3).abs)
    val p = pairs(Seq(("a1", "a2", 0.9), ("a1", "a3", 0.9), ("b1", "b2", 0.9),
      ("b1", "b3", 0.9)) ++ cross: _*)
    val r = ClusterMerge.merge(a, p, cfg = ClusterMerge.MergeConfig(maxPromotePerPair = 2))
    assert(r.counters("merge_pairs_promoted") == 2L)
    assert(r.counters("merge_band_edges_not_promoted") == 7L)
    // promoted are the two highest band scores (deterministic tiebreak)
    val promScores = r.promotionLedger.select("score").as[Double].collect().sorted
    val allScores = cross.map(_._3).sorted.reverse.take(2).sorted
    assert(promScores.toSeq == allScores)
    r.release()
  }

  test("the cut audit leaves a merged cluster alone: promoted bundles are strong structure") {
    val (a, p) = splitCase
    val m = ClusterMerge.merge(a, p)
    // post-merge scored set = original minus ledger plus promoted rows
    val scoredAfter = p.join(m.promotionLedger.select("doc_id_a", "doc_id_b"),
        Seq("doc_id_a", "doc_id_b"), "left_anti")
      .unionByName(m.promotedPairs)
    val audit = ClusterAudit.repair(m.assignments, scoredAfter.select("doc_id_a", "doc_id_b", "score"))
    assert(audit.counters("audit_clusters_cut") == 0L)
    assert(audit.counters("audit_bridges_cut") == 0L)
    audit.release()
    m.release()
  }

  test("census reports qualifying and vetoed pairs read-only") {
    val (a, p) = splitCase
    val cen = ClusterMerge.census(a, p).collect()
    assert(cen.length == 1)
    val row = cen(0)
    assert(row.getAs[String]("cluster_a") == "a1" && row.getAs[String]("cluster_b") == "b1")
    assert(row.getAs[Long]("n_band_edges") == 2L)
    assert(row.getAs[Boolean]("qualifies"))
    assert(math.abs(row.getAs[Double]("max_score") - 0.57) < 1e-12)
  }
}
