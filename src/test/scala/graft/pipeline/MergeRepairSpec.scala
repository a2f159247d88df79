package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.operators.ClusterMerge
import graft.synth.{DocGen, GenConfig}
import org.apache.spark.sql.functions._

/** EntityResolution.mergeRepair end-to-end: an over-tight threshold splits
  * entities; the merge audit finds the corroborated near-miss bundles,
  * promotes them, and commits the merges — composing with resume,
  * increments, the cut audit, and crash recovery.
  *
  * Threshold choice: on the seed-42 corpus same-entity pairs score in
  * [0.62, 1.0] and cross-entity pairs ≤ 0.41 (ScoreDistProbe), so a 0.75
  * threshold rejects the ~5% same-entity tail (splitting some entities,
  * mostly 2+1) while the [0.60, 0.75) merge band contains ONLY same-entity
  * evidence — every induced split is recoverable and no false merge is
  * reachable.
  */
class MergeRepairSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(numEntities = 300, docsPerEntity = 3, seed = 42)
  private lazy val docs = DocGen.docs(spark, cfg).toDF().cache()
  private lazy val gold = DocGen.gold(spark, cfg).toDF().cache()

  private val tightPipe = EntityResolution.PipelineConfig(scoreThreshold = 0.75)
  private val tightMerge = ClusterMerge.MergeConfig(
    threshold = 0.75, mergeFloor = 0.60, promoteScore = 0.80)

  private def stages(dir: String) =
    Seq("blocking", "scored_pairs", "cluster_assignments",
      EntityResolution.StageBlockHot, EntityResolution.StageDocFeatures,
      EntityResolution.StageMediaDf)

  test("mergeRepair heals threshold-induced splits to F1 = 1.0 and exact cluster equality") {
    val tmp = Files.createTempDirectory("graft-merge").toString
    val base = EntityResolution.run(spark, docs, tightPipe, runDir = Some(tmp), runId = "base")
    val labeled = EntityResolution.labeledPairs(base.blocking, gold).cache()
    val before = Eval.pairwiseF1(base.assignments, labeled)
    base.release(keepAssignments = true)
    assert(before.recall < 1.0, "the tight threshold should induce splits")
    assert(before.precision == 1.0)

    val res = EntityResolution.mergeRepair(spark, tmp, tightMerge)
    assert(res.counters("merge_committed") == 1L)
    assert(res.counters("merge_cluster_pairs_qualified") > 0L)
    assert(res.counters("merge_vetoed_conflict") == 0L)
    val after = Eval.pairwiseF1(res.assignments, labeled)
    assert(after.f1 == 1.0, s"post-merge F1 ${after.f1} != 1.0")
    assert(Eval.clusterEquality(res.assignments, gold), "post-merge clusters != gold")

    // promoted pairs are durably >= threshold in the committed scored set
    val scored = Snapshots.loadCommitted(spark, tmp, "scored_pairs").get
    val nPromotedCommitted = scored.where(col("score") === 0.80).count()
    assert(nPromotedCommitted == res.counters("merge_pairs_promoted"))
    // the ledger preserves the original sub-threshold scores
    val ledger = Snapshots.loadCommitted(spark, tmp, EntityResolution.StageMergePromotions).get
    assert(ledger.count() == res.counters("merge_pairs_promoted"))
    assert(ledger.where(col("score") >= 0.75).isEmpty)

    // lockstep: every stage advanced to the same snapshot id
    val ids = stages(tmp).map(s => Snapshots.lastCommitted(tmp, s).get)
    assert(ids.toSet.size == 1, s"stages at unequal ids: $ids")

    // idempotent: the second merge audit finds nothing and commits nothing
    val res2 = EntityResolution.mergeRepair(spark, tmp, tightMerge)
    assert(res2.counters("merge_committed") == 0L)
    assert(Snapshots.lastCommitted(tmp, "cluster_assignments").get == ids.head)

    // time travel still reads the pre-merge clustering
    val preMerge = Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", ids.head - 1)
    assert(Eval.pairwiseF1(preMerge, labeled).f1 == before.f1)
    labeled.unpersist()
  }

  test("mergeRepair is a strict no-op on a healthy clustering (precision safety)") {
    val tmp = Files.createTempDirectory("graft-merge-noop").toString
    val base = EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "base")
    base.release(keepAssignments = true)
    val res = EntityResolution.mergeRepair(spark, tmp)
    assert(res.counters("merge_committed") == 0L)
    assert(res.counters("merge_cluster_pairs_qualified") == 0L)
    assert(Snapshots.lastCommitted(tmp, "cluster_assignments").get == 0L)
    assert(Eval.clusterEquality(res.assignments, gold))
  }

  test("an insert increment honors the merged history (promotions survive; no re-split)") {
    val tmp = Files.createTempDirectory("graft-merge-incr").toString
    val base = EntityResolution.run(spark, docs, tightPipe, runDir = Some(tmp), runId = "base")
    base.release(keepAssignments = true)
    EntityResolution.mergeRepair(spark, tmp, tightMerge)
    val mergedAssign = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
      .as[(String, String)].collect().toMap

    val addCfg = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 4242)
    val newDocs = DocGen.docs(spark, addCfg)
      .map(d => d.copy(doc_id = "n" + d.doc_id)).toDF()
    val inc = EntityResolution.addDocuments(spark, newDocs, tmp, tightPipe, runId = "incr")
    val afterAssign = inc.assignments.as[(String, String)].collect().toMap
    inc.release()
    // every merged doc keeps its merged cluster: the increment derives
    // accepted edges from the committed scored set, which holds the
    // promoted pairs at >= threshold
    val drifted = mergedAssign.filter { case (d, c) => afterAssign.get(d).exists(_ != c) }
    assert(drifted.isEmpty, s"increment re-split merged docs: ${drifted.take(5)}")
  }

  test("crash between the scored_pairs commit and the assignments commit recovers via the drift rule") {
    val tmp = Files.createTempDirectory("graft-merge-crash").toString
    val base = EntityResolution.run(spark, docs, tightPipe, runDir = Some(tmp), runId = "base")
    base.release(keepAssignments = true)
    // simulate the crash: promote the evidence in scored_pairs exactly as
    // mergeRepair's first commit does, then "crash" (no other commits)
    val assign0 = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    val scored0 = Snapshots.loadCommitted(spark, tmp, "scored_pairs").get
    val m = ClusterMerge.merge(assign0, scored0, None, tightMerge)
    val promoted = m.promotedPairs.localCheckpoint(true)
    val nProm = promoted.count()
    assert(nProm > 0)
    Snapshots.commitDelta(spark, promoted,
      Some((promoted.select("doc_id_a", "doc_id_b"), Seq("doc_id_a", "doc_id_b"))),
      tmp, "scored_pairs", "merge-crashed",
      Map("merge_promoted_pairs" -> nProm),
      Snapshots.lastRows(tmp, "scored_pairs").getOrElse(0L))
    m.release()
    // the re-run finds accepted cross-cluster edges, merges them
    // unconditionally, and promotes nothing further
    val res = EntityResolution.mergeRepair(spark, tmp, tightMerge)
    assert(res.counters("merge_cluster_pairs_drift") > 0L)
    assert(res.counters("merge_pairs_promoted") == 0L)
    assert(res.counters("merge_committed") == 1L)
    val labeled = EntityResolution.labeledPairs(
      Snapshots.loadCommitted(spark, tmp, "blocking").get, gold).cache()
    assert(Eval.pairwiseF1(res.assignments, labeled).f1 == 1.0)
    assert(Eval.clusterEquality(res.assignments, gold))
    labeled.unpersist()
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    scala.util.Using.resource(java.nio.file.Files.walk(s))(_.forEach { p =>
      val d = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(p, d)
    })
  }

  test("watermark-scoped mergeRepair == full mergeRepair on a touched subset") {
    val tmpA = Files.createTempDirectory("graft-merge-scopeA").toString
    val base = EntityResolution.run(spark, docs, tightPipe, runDir = Some(tmpA), runId = "base")
    base.release(keepAssignments = true)
    // first merge audit heals the induced splits and stamps the watermark
    EntityResolution.mergeRepair(spark, tmpA, tightMerge)
    // an arrival batch whose entities the tight threshold splits again —
    // the touched subset the scoped cadence point must judge
    val addCfg = GenConfig(numEntities = 100, docsPerEntity = 3, seed = 777)
    val newDocs = DocGen.docs(spark, addCfg)
      .map(d => d.copy(doc_id = "m" + d.doc_id)).toDF()
    EntityResolution.addDocuments(spark, newDocs, tmpA, tightPipe, runId = "incr").release()
    // identical committed history for the full-pass twin (plain file copy)
    val tmpB = Files.createTempDirectory("graft-merge-scopeB").toString + "/run"
    copyDir(tmpA, tmpB)
    val scoped = EntityResolution.mergeRepair(spark, tmpA, tightMerge,
      runId = "m2", incremental = true)
    val full = EntityResolution.mergeRepair(spark, tmpB, tightMerge, runId = "m2full")
    assert(scoped.counters("merge_incremental") == 1L)
    assert(!scoped.counters.contains("merge_scope_full_fallback"),
      "scoped pass unexpectedly fell back to full")
    assert(scoped.counters("merge_scope_clusters") > 0L)
    assert(full.counters("merge_cluster_pairs_qualified") > 0L,
      "twin corpus produced no splits — the comparison would be vacuous")
    assert(scoped.counters("merge_cluster_pairs_qualified") ==
      full.counters("merge_cluster_pairs_qualified"))
    assert(scoped.counters("merge_committed") == full.counters("merge_committed"))
    val a = Snapshots.loadCommitted(spark, tmpA, "cluster_assignments").get
      .as[(String, String)].collect().toMap
    val b = Snapshots.loadCommitted(spark, tmpB, "cluster_assignments").get
      .as[(String, String)].collect().toMap
    assert(a == b, "scoped and full merge audits committed different clusterings")
    val sa = Snapshots.loadCommitted(spark, tmpA, "scored_pairs").get
      .select("doc_id_a", "doc_id_b", "score").as[(String, String, Double)].collect().toSet
    val sb = Snapshots.loadCommitted(spark, tmpB, "scored_pairs").get
      .select("doc_id_a", "doc_id_b", "score").as[(String, String, Double)].collect().toSet
    assert(sa == sb, "scoped and full merge audits committed different scored sets")
  }

  test("scoped mergeRepair idle cadence: zero touched clusters, zero commits") {
    val tmp = Files.createTempDirectory("graft-merge-idle").toString
    val base = EntityResolution.run(spark, docs, tightPipe, runDir = Some(tmp), runId = "base")
    base.release(keepAssignments = true)
    EntityResolution.mergeRepair(spark, tmp, tightMerge) // heals + stamps (pre-commit id)
    // first scoped pass re-judges the just-merged clusters (the merge's own
    // relabel delta sits above its pre-commit watermark) and finds them at
    // fixpoint
    val r1 = EntityResolution.mergeRepair(spark, tmp, tightMerge,
      runId = "s1", incremental = true)
    assert(r1.counters("merge_incremental") == 1L)
    assert(r1.counters("merge_scope_clusters") > 0L)
    assert(r1.counters("merge_committed") == 0L)
    val idsBefore = stages(tmp).map(s => Snapshots.lastCommitted(tmp, s))
    // second scoped pass is the steady-state idle cadence point: nothing
    // moved since, so the scope is EMPTY and the cost is one log scan
    val r2 = EntityResolution.mergeRepair(spark, tmp, tightMerge,
      runId = "s2", incremental = true)
    assert(r2.counters("merge_scope_clusters") == 0L)
    assert(r2.counters("merge_committed") == 0L)
    assert(stages(tmp).map(s => Snapshots.lastCommitted(tmp, s)) == idsBefore,
      "idle scoped merge must not grow the history")
  }

  test("scoped mergeRepair without a watermark falls back to full loudly") {
    val tmp = Files.createTempDirectory("graft-merge-fb").toString
    val base = EntityResolution.run(spark, docs, tightPipe, runDir = Some(tmp), runId = "base")
    base.release(keepAssignments = true)
    val r = EntityResolution.mergeRepair(spark, tmp, tightMerge,
      runId = "m1", incremental = true)
    assert(r.counters("merge_scope_full_fallback") == 1L)
    assert(r.counters("merge_committed") == 1L, "the fallback must still heal")
    assert(Eval.clusterEquality(r.assignments, gold))
  }

  test("the cut audit on a merged history cuts nothing (promoted bundles are strong)") {
    val tmp = Files.createTempDirectory("graft-merge-audit").toString
    val base = EntityResolution.run(spark, docs, tightPipe, runDir = Some(tmp), runId = "base")
    base.release(keepAssignments = true)
    EntityResolution.mergeRepair(spark, tmp, tightMerge)
    val idBefore = Snapshots.lastCommitted(tmp, "cluster_assignments").get
    val audit = EntityResolution.auditRepair(spark, tmp,
      graft.operators.ClusterAudit.AuditConfig(threshold = 0.75, strongScore = 0.75))
    assert(audit.counters("audit_clusters_cut") == 0L)
    assert(Snapshots.lastCommitted(tmp, "cluster_assignments").get == idBefore)
  }
}
