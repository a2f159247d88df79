package graft.pipeline

import graft.SparkSpec
import graft.ckpt.Snapshots
import graft.model.Doc
import graft.operators.ClusterAudit
import graft.streaming.StreamingIngest
import graft.synth.{DocGen, GenConfig}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Incremental (scoped) auditRepair: the cadence audit examines only
  * clusters touched since the last audit's watermark, so its cost follows
  * the arrival rate — and it must find exactly what a full audit finds
  * (untouched clusters are at their per-cluster cut fixpoint).
  */
class IncrementalAuditSpec extends SparkSpec {

  private def textDoc(id: String, text: String) =
    Doc(id, text.split(" ").zipWithIndex.map { case (t, i) =>
      graft.model.Span("text", t, "", i) })

  /** The StreamingIngestSpec false-merge recipe: two strong triangles glued
    * by a weak 3-edge cross bundle hanging off x0 (see that spec for why
    * the shared tokens sit late in the text).
    */
  private def plantedMerge: Seq[Doc] =
    Seq("quince", "grape", "plum").zipWithIndex.map { case (t, i) =>
      textDoc(s"x$i", s"liberty alpha apple banana cherry nut oat pear $t") } ++
    Seq("teff", "fonio", "emmer").zipWithIndex.map { case (t, i) =>
      textDoc(s"y$i", s"liberty melon nut oat pear quince rye spelt $t") }

  test("incremental audit: scoped to touched clusters, equivalent to full, O(0) when idle") {
    import spark.implicits._
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.55)
    val acfg = ClusterAudit.AuditConfig(threshold = cfg.scoreThreshold)
    val baseCfg = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 42L)
    val tmp = Files.createTempDirectory("graft-incr-audit").toString
    EntityResolution.run(spark, DocGen.docs(spark, baseCfg).toDF(), cfg,
      runDir = Some(tmp), runId = "base").release()

    // no watermark yet: an incremental audit falls back to full, loudly
    val a0 = EntityResolution.auditRepair(spark, tmp, acfg, runId = "a0", incremental = true)
    assert(a0.counters("audit_scope_full_fallback") == 1L, s"first audit must run full: ${a0.counters}")
    assert(a0.counters("audit_committed") == 0L, "clean base must need no cuts")
    // the base run published record 1; the audit stamps the version it saw
    assert(EntityResolution.AuditWatermark.read(tmp).contains(1L),
      s"watermark must stamp even without cuts: ${EntityResolution.AuditWatermark.read(tmp)}")

    // the false merge ARRIVES via ingest (batch 0); an unrelated batch follows
    assert(StreamingIngest.ingestBatch(spark, plantedMerge.toDF(), tmp, batchId = 0L, cfg)
      .isInstanceOf[StreamingIngest.Ingested])
    val merged = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(merged.where(col("doc_id").startsWith("x") || col("doc_id").startsWith("y"))
      .select("cluster_id").distinct().count() == 1,
      "fixture: the weak bundle must merge x and y on arrival")
    val z = Seq(textDoc("z0", "zebra yak xenon walrus vole umbra tern snail rook"),
      textDoc("z1", "zebra yak xenon walrus vole umbra tern snail rat"))
    assert(StreamingIngest.ingestBatch(spark, z.toDF(), tmp, batchId = 1L, cfg)
      .isInstanceOf[StreamingIngest.Ingested])

    // the scoped audit sees the arrived merge and cuts it; scope counters
    // prove it never looked at the untouched base clusters
    val a1 = EntityResolution.auditRepair(spark, tmp, acfg, runId = "a1", incremental = true)
    assert(a1.counters("audit_incremental") == 1L, s"must run scoped: ${a1.counters}")
    assert(a1.counters("audit_committed") == 1L && a1.counters("audit_bridges_cut") >= 2L,
      s"scoped audit must cut the arrived bundle: ${a1.counters}")
    val totalClusters = a1.assignments.select("cluster_id").distinct().count()
    assert(a1.counters("audit_scope_clusters") < totalClusters,
      s"scope (${a1.counters("audit_scope_clusters")}) must be smaller than the corpus ($totalClusters)")
    val cut = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(cut.where(col("doc_id").startsWith("x") || col("doc_id").startsWith("y"))
      .select("cluster_id").distinct().count() == 2, "x and y must be split")

    // equivalence: a FULL audit right after finds nothing the scoped one missed
    val a2 = EntityResolution.auditRepair(spark, tmp, acfg, runId = "a2")
    assert(a2.counters("audit_committed") == 0L,
      s"full audit must agree with the scoped one: ${a2.counters}")

    // idle cadence: nothing arrived since, so the scope is EMPTY — the
    // recurring cost a healthy stream pays is zero clusters, not O(corpus)
    val a3 = EntityResolution.auditRepair(spark, tmp, acfg, runId = "a3", incremental = true)
    assert(a3.counters("audit_incremental") == 1L &&
      a3.counters("audit_scope_clusters") == 0L && a3.counters("audit_committed") == 0L,
      s"idle incremental audit must scope to zero clusters: ${a3.counters}")

    // compaction is storage-level: it must NOT widen the scope or force a
    // full fallback
    EntityResolution.compactRun(spark, tmp, runId = "cmp")
    val a4 = EntityResolution.auditRepair(spark, tmp, acfg, runId = "a4", incremental = true)
    assert(a4.counters("audit_incremental") == 1L && a4.counters("audit_scope_clusters") == 0L,
      s"compaction must stay out of the audit scope: ${a4.counters}")

    // repair only sweeps unpublished garbage: no record changes, so the
    // watermark stays valid and the next incremental audit stays scoped
    val mark = EntityResolution.AuditWatermark.read(tmp)
    Snapshots.repair(tmp)
    assert(EntityResolution.AuditWatermark.read(tmp) == mark, "repair must keep the watermark")
    val a5 = EntityResolution.auditRepair(spark, tmp, acfg, runId = "a5", incremental = true)
    assert(a5.counters("audit_incremental") == 1L && a5.counters("audit_scope_clusters") == 0L,
      s"post-repair incremental audit must stay scoped: ${a5.counters}")
    // a watermark of the pre-record layout (a snapshot id under the old
    // key) reads as absent: the next incremental audit falls back to full
    Files.writeString(java.nio.file.Paths.get(tmp, "_audit_watermark"), """{"audited_through":3}""")
    val a6 = EntityResolution.auditRepair(spark, tmp, acfg, runId = "a6", incremental = true)
    assert(a6.counters("audit_scope_full_fallback") == 1L,
      s"an old-layout watermark must fall back to full: ${a6.counters}")
  }
}
