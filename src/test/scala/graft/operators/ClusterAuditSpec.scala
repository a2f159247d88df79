package graft.operators

import graft.SparkSpec
import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.pipeline.EntityResolution
import graft.synth.{DocGen, GenConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ClusterAuditSpec extends SparkSpec {
  import spark.implicits._

  private def assign(rows: (String, String)*): DataFrame =
    rows.toDF("doc_id", "cluster_id")
  private def pairs(rows: (String, String, Double)*): DataFrame =
    rows.toDF("doc_id_a", "doc_id_b", "score")

  /** Two dense 3-doc groups glued by one near-threshold bridge — the false
    * merge shape; everything in one cluster "a1" as CC would leave it.
    */
  private def mergedCase = (
    assign(("a1", "a1"), ("a2", "a1"), ("a3", "a1"),
           ("b1", "a1"), ("b2", "a1"), ("b3", "a1")),
    pairs(("a1", "a2", 0.9), ("a1", "a3", 0.9), ("a2", "a3", 0.9),
          ("b1", "b2", 0.9), ("b1", "b3", 0.9), ("b2", "b3", 0.9),
          ("a3", "b1", 0.65)))

  test("repair cuts the weak bridge of a false merge and re-labels both sides by min doc_id") {
    val (a, p) = mergedCase
    val r = ClusterAudit.repair(a, p)
    assert(r.counters("audit_clusters_cut") == 1L)
    assert(r.counters("audit_bridges_cut") == 1L)
    assert(r.counters("audit_clusters_after_cut") == 2L)
    assert(r.counters("audit_docs_reassigned") == 3L) // the b side moves
    assert(r.counters("audit_clusters_over_cap") == 0L)
    assert(r.counters("audit_clusters_disconnected") == 0L)
    assert(r.cutPairs.as[(String, String)].collect().toSeq == Seq(("a3", "b1")))
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1"))
    r.release()
  }

  test("repair cuts a PARALLEL-weak-edge false merge (invisible to single-bridge detection)") {
    val a = assign(("a1", "a1"), ("a2", "a1"), ("a3", "a1"),
                   ("b1", "a1"), ("b2", "a1"), ("b3", "a1"))
    // two dense triangles glued by TWO near-threshold cross edges — each
    // keeps the other's endpoints connected, so no single edge is a bridge
    val p = pairs(("a1", "a2", 0.9), ("a1", "a3", 0.9), ("a2", "a3", 0.9),
      ("b1", "b2", 0.9), ("b1", "b3", 0.9), ("b2", "b3", 0.9),
      ("a3", "b1", 0.65), ("a1", "b3", 0.63))
    val coh = ClusterAudit.cohesion(a, p).collect()
    assert(coh(0).n_weak_bridges == 0 && coh(0).n_weak_bundles == 1)
    val r = ClusterAudit.repair(a, p)
    assert(r.counters("audit_clusters_cut") == 1L)
    assert(r.counters("audit_bridges_cut") == 2L) // both bundle edges fall
    assert(r.counters("audit_clusters_after_cut") == 2L)
    assert(r.cutPairs.as[(String, String)].collect().toSet ==
      Set(("a3", "b1"), ("a1", "b3")))
    val got = r.assignments.as[(String, String)].collect().toMap
    assert(got == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1"))
    r.release()
  }

  test("a strong bridge and a weak pendant are both kept (no-op, nothing changes)") {
    // strong bridge: same shape, bridge at 0.80 >= strongScore 0.75
    val (a, _) = mergedCase
    val strongP = pairs(("a1", "a2", 0.9), ("a1", "a3", 0.9), ("a2", "a3", 0.9),
      ("b1", "b2", 0.9), ("b1", "b3", 0.9), ("b2", "b3", 0.9), ("a3", "b1", 0.80))
    val r1 = ClusterAudit.repair(a, strongP)
    assert(r1.counters("audit_bridges_cut") == 0L && r1.counters("audit_clusters_cut") == 0L)
    assert(r1.assignments.as[(String, String)].collect().toSet ==
      a.as[(String, String)].collect().toSet)
    r1.release()
    // weak pendant: one noisy doc attached by a single 0.62 edge
    val a2 = assign(("c1", "c1"), ("c2", "c1"), ("c3", "c1"), ("c4", "c1"))
    val p2 = pairs(("c1", "c2", 0.9), ("c1", "c3", 0.9), ("c2", "c3", 0.9), ("c3", "c4", 0.62))
    val r2 = ClusterAudit.repair(a2, p2)
    assert(r2.counters("audit_bridges_cut") == 0L)
    r2.release()
  }

  test("cohesion census: bridge structure, density, over-cap and disconnected reporting") {
    val (a, p) = mergedCase
    val rows = ClusterAudit.cohesion(a, p).collect()
    assert(rows.length == 1)
    val c = rows(0)
    assert(c.cluster_id == "a1" && c.n_docs == 6 && c.n_edges == 7)
    assert(c.n_bridges == 1 && c.n_weak_bridges == 1 && c.n_weak_bundles == 1)
    assert(c.connected && !c.over_cap)
    assert(math.abs(c.density - 7.0 / 15.0) < 1e-12)
    assert(math.abs(c.min_score - 0.65) < 1e-12)
    // over-cap: same cluster with a 3-edge kernel cap
    val capped = ClusterAudit.cohesion(a, p,
      ClusterAudit.AuditConfig(maxClusterEdges = 3)).collect()
    assert(capped.length == 1 && capped(0).over_cap && capped(0).n_bridges == -1)
    // a drifted (disconnected) cluster is reported, never modified
    val aD = assign(("d1", "d1"), ("d2", "d1"), ("d3", "d1"), ("d4", "d1"))
    val pD = pairs(("d1", "d2", 0.9), ("d3", "d4", 0.9))
    assert(!ClusterAudit.cohesion(aD, pD).collect()(0).connected)
    val rD = ClusterAudit.repair(aD, pD)
    assert(rD.counters("audit_clusters_disconnected") == 1L)
    assert(rD.counters("audit_clusters_cut") == 0L)
    assert(rD.assignments.as[(String, String)].collect().toSet ==
      aD.as[(String, String)].collect().toSet)
    rD.release()
  }

  test("over-cap clusters pass through the repair unmodified, loudly counted") {
    val (a, p) = mergedCase
    val r = ClusterAudit.repair(a, p, ClusterAudit.AuditConfig(maxClusterEdges = 3))
    assert(r.counters("audit_clusters_over_cap") == 1L)
    assert(r.counters("audit_bridges_cut") == 0L)
    assert(r.assignments.as[(String, String)].collect().toSet ==
      a.as[(String, String)].collect().toSet)
    r.release()
  }

  test("repair is a no-op on a clean pipeline run and preserves the gates") {
    val cfg = GenConfig(numEntities = 50, docsPerEntity = 3, seed = 42L)
    val docs = DocGen.docs(spark, cfg).toDF().cache()
    val gold = DocGen.gold(spark, cfg).toDF().cache()
    val res = EntityResolution.run(spark, docs)
    val r = ClusterAudit.repair(res.assignments, res.scoredPairs)
    assert(r.counters("audit_bridges_cut") == 0L,
      s"clean 3-doc clusters must never satisfy both-sides>=2: ${r.counters}")
    assert(Eval.clusterEquality(r.assignments, gold))
    r.release()
    res.release()
    docs.unpersist(); gold.unpersist()
  }

  test("increments honor standing tombstones: insert cannot re-derive, heal cannot resurrect") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tombstone-incr").toString
    val cfg = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 7L)
    val res = EntityResolution.run(spark, DocGen.docs(spark, cfg).toDF(),
      runDir = Some(dir), runId = "base")
    res.assignments.count()
    // entity 0's docs; the pair (a,b) must exist in the committed scored
    // set for the test to mean anything
    val (a, b, c) = ("d000000000000", "d000000000001", "d000000000002")
    assert(!res.scoredPairs.where(col("doc_id_a") === a && col("doc_id_b") === b).isEmpty)
    res.release()
    // tombstone (a,b) exactly as auditRepair commits it: keyed-remove
    // delta on scored_pairs + the standing tombstone stage (counters
    // carried forward like the verb does)
    val tomb = Seq((a, b)).toDF("doc_id_a", "doc_id_b")
    val scored0 = Snapshots.loadCommitted(spark, dir, "scored_pairs").get
    Snapshots.commitDelta(spark, scored0.limit(0).repartition(1),
      Some((tomb, Seq("doc_id_a", "doc_id_b"))), dir, "scored_pairs", "t",
      Snapshots.lastCounters(dir, "scored_pairs") + ("audit_cut_pairs" -> 1L),
      Snapshots.lastRows(dir, "scored_pairs").get - 1L)
    Snapshots.commit(spark, tomb, dir, EntityResolution.StageAuditTombstones, "t",
      Map("tombstoned_pairs" -> 1L))
    // the real verb also commits LOCKSTEP no-op deltas on the untouched
    // stages (cluster_assignments last) — without them the simulated
    // history is a drift state the increment verbs now refuse loudly
    Seq("blocking", EntityResolution.StageBlockHot, EntityResolution.StageMediaDf,
        EntityResolution.StageDocFeatures, "cluster_assignments").foreach { s =>
      Snapshots.commitDelta(spark,
        Snapshots.loadCommitted(spark, dir, s).get.limit(0).repartition(1), None,
        dir, s, "t", Snapshots.lastCounters(dir, s),
        Snapshots.lastRows(dir, s).getOrElse(0L))
    }
    // INSERT: a revised entity-0 doc under a NEW id touches entity 0's
    // blocks, putting (a,b) in the increment's touched-pair universe — the
    // tombstone must keep it out of the re-derived fresh pairs
    val add = DocGen.docsRevised(spark, cfg, 1).map(_.copy(doc_id = "zz_arrival")).toDF()
    val inc = EntityResolution.addDocuments(spark, add, dir, runId = "incr")
    inc.assignments.count()
    assert(!inc.scoredPairs.where(col("doc_id_a") === "zz_arrival" ||
      col("doc_id_b") === "zz_arrival").isEmpty,
      "sanity: the arrival must have touched entity 0's blocks and scored")
    assert(inc.scoredPairs.where(col("doc_id_a") === a && col("doc_id_b") === b).isEmpty,
      "insert increment re-derived a tombstoned pair")
    inc.release()
    // REMOVAL: take out c and the arrival — a and b become each other's
    // only potential neighbors, so splice healing would re-score (a,b);
    // the tombstone must block the resurrection and the entity genuinely
    // splits
    val rm = EntityResolution.removeDocuments(spark,
      Seq(c, "zz_arrival").toDF("doc_id"), dir, runId = "rm")
    val asg = rm.assignments.where(col("doc_id").isin(a, b))
      .select("doc_id", "cluster_id").as[(String, String)].collect().toMap
    assert(asg(a) != asg(b), s"removal healing resurrected a tombstoned pair: $asg")
    assert(rm.scoredPairs.where(col("doc_id_a") === a && col("doc_id_b") === b).isEmpty)
    rm.release()
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("auditRepair orders doc ids like Spark: cut pair retracted, each side labeled by its Spark min") {
    // ids mixing a supplementary character (U+1F600, a UTF-16 surrogate
    // pair) with U+FF21: Java's String `<` compares UTF-16 code units and
    // puts the surrogate first; Spark compares UTF-8 bytes (code points)
    // and puts U+FF21 first — the order candidatePairs orients pairs by
    val (p, q) = ("\uFF21", "\uD83D\uDE00")
    val (p1, q1, q2) = (p + "1", q + "1", q + "2") // side A, Spark min p1
    val (p2, q3, q4) = (p + "2", q + "3", q + "4") // side B, Spark min p2
    assert(Seq(q1, p2).toDF("id").agg(min("id")).as[String].head() == p2,
      "fixture: Spark must order U+FF21 before U+1F600")
    val dir = java.nio.file.Files.createTempDirectory("graft-audit-order").toString
    Snapshots.commit(spark, Seq(("k1", p1)).toDF("block_key", "doc_id"), dir, "blocking",
      "base", Map("blocking_rows" -> 1L))
    // pairs oriented doc_id_a < doc_id_b in Spark's order; the weak
    // bridge joins q1 (side A) and p2 (side B): (p2, q1)
    Snapshots.commit(spark, pairs((p1, q1, 0.9), (p1, q2, 0.9), (q1, q2, 0.9),
      (p2, q3, 0.9), (p2, q4, 0.9), (q3, q4, 0.9), (p2, q1, 0.65)),
      dir, "scored_pairs", "base", Map("docs_scored_against" -> 6L))
    Snapshots.commit(spark, assign(Seq(p1, q1, q2, p2, q3, q4).map(_ -> p1): _*),
      dir, "cluster_assignments", "base", Map("cc_iterations" -> 1L))

    val res = EntityResolution.auditRepair(spark, dir)
    assert(res.counters("audit_committed") == 1L && res.counters("audit_cut_pairs_removed") == 1L)
    assert(res.scoredPairs.where(col("doc_id_a") === p2 && col("doc_id_b") === q1).isEmpty,
      "the cut bridge must be retracted from the resolved scored set")
    assert(res.scoredPairs.count() == 6L)
    assert(Snapshots.loadCommitted(spark, dir, EntityResolution.StageAuditTombstones).get
      .as[(String, String)].collect().toSeq == Seq((p2, q1)), "tombstone must match the pair")
    val got = res.assignments.as[(String, String)].collect().toMap
    assert(got == Map(p1 -> p1, q1 -> p1, q2 -> p1, p2 -> p2, q3 -> p2, q4 -> p2),
      s"each side must be labeled by its min in Spark order: $got")
    res.release()
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("auditRepair verb: commits deltas + tombstones, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-audit-verb").toString
    val (a, p) = mergedCase
    // a committed fake base run: the verb reads scored_pairs +
    // cluster_assignments (+ blocking for the returned Result)
    val blocking = Seq(("k1", "a1")).toDF("block_key", "doc_id")
    Snapshots.commit(spark, blocking, dir, "blocking", "base", Map("blocking_rows" -> 1L))
    Snapshots.commit(spark, p, dir, "scored_pairs", "base",
      Map("docs_scored_against" -> 6L))
    Snapshots.commit(spark, a, dir, "cluster_assignments", "base",
      Map("cc_iterations" -> 1L))

    val res = EntityResolution.auditRepair(spark, dir)
    assert(res.counters("audit_committed") == 1L)
    assert(res.counters("audit_cut_pairs_removed") == 1L)
    // resolved relations reflect the repair
    val got = res.assignments.as[(String, String)].collect().toMap
    assert(got("b1") == "b1" && got("b2") == "b1" && got("a1") == "a1")
    assert(res.scoredPairs.where(col("doc_id_a") === "a3" && col("doc_id_b") === "b1").isEmpty,
      "cut pair must be retracted from the resolved scored set")
    val ts = Snapshots.loadCommitted(spark, dir, EntityResolution.StageAuditTombstones)
    assert(ts.isDefined && ts.get.count() == 1L)
    assert(Snapshots.lastCommitted(dir, "cluster_assignments").contains(1L))
    // one record: the audit wrote scored_pairs, the tombstones and the
    // assignments, and carried blocking forward at its id (no no-op delta)
    val rec = Snapshots.record(dir)
    assert(rec.written == Set("scored_pairs", EntityResolution.StageAuditTombstones,
      "cluster_assignments"), s"audit record: $rec")
    assert(rec.stages("blocking") == 0L && Snapshots.lastCommitted(dir, "blocking").contains(0L))

    // idempotent: the cut bridge is gone; nothing new commits
    val res2 = EntityResolution.auditRepair(spark, dir)
    assert(res2.counters("audit_committed") == 0L)
    assert(Snapshots.lastCommitted(dir, "cluster_assignments").contains(1L))
    assert(Snapshots.record(dir).version == rec.version, "an audit that cuts nothing publishes nothing")

    // a later history that brings the cut pair back into scored_pairs and
    // the assignments (here: both stages re-committed at their pre-audit
    // relations) — the re-run re-cuts the same pair and the tombstone
    // commit must DEDUP against the standing record, keeping rows/counters
    // exact
    Seq("scored_pairs", "cluster_assignments").foreach(s =>
      Snapshots.commit(spark, Snapshots.loadSnapshot(spark, dir, s, 0L), dir, s, "rollback",
        Snapshots.counters(dir, s, 0L)))
    val res3 = EntityResolution.auditRepair(spark, dir)
    assert(res3.counters("audit_committed") == 1L, "the re-run must re-cut")
    val ts3 = Snapshots.loadCommitted(spark, dir, EntityResolution.StageAuditTombstones).get
    assert(ts3.count() == 1L, "re-tombstoning the same pair must not duplicate it")
    assert(Snapshots.lastCounters(dir, EntityResolution.StageAuditTombstones)
      .get("tombstoned_pairs").contains(1L))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}
