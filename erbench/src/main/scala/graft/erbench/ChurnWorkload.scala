package graft.erbench

import graft.ckpt.Snapshots
import graft.operators.{ClusterAudit, ClusterMerge}
import graft.pipeline.EntityResolution
import graft.pipeline.EntityResolution.PipelineConfig
import graft.streaming.StreamingIngest
import graft.synth.DocGen
import org.apache.spark.sql.functions.{col, concat, lit}

/** `churn`: the deployment verbs on a committed base. Setup writes the
  * base corpus, the stream micro-batch and the revisions, then commits the
  * base with `EntityResolution.run`. One timed cycle then runs, in order:
  *
  *  1. `StreamingIngest.ingestBatch` of one micro-batch, 1% of the base
  *  2. `removeDocuments` of every streamed doc (the add→remove round trip,
  *     whose assignment diff against the base must be 0)
  *  3. traced runs only: `replaceDocuments` with `DocGen.docsRevised`
  *     revisions
  *  4. a full `auditRepair`, then a full `mergeRepair`
  *  5. their idle `incremental = true` passes
  *  6. `compactRun`, then `expireRun`
  *
  * The replace verb alone costs about a third of the cycle; timed in every
  * run it would push the benchmark's runs past their time budget on a busy
  * host, so only the traced runs measure it (as the `replace.*` layer).
  */
object ChurnWorkload {
  val Entities = 200
  /** entities in the stream micro-batch: 6 docs, 1% of the base */
  val BatchEntities = 2
  /** base entities whose docs are replaced by revisions (5% of the base) */
  val ReviseEntities = 10

  def run(ctx: ErBench.Ctx): Unit = {
    val spark = ctx.spark
    val gen = ErBench.genConfig(Entities, ctx.seed)
    val pipe = PipelineConfig()
    val dir = ctx.path("run")
    val base = ctx.path("base")
    val revised = ctx.path("revised")
    val stream = ctx.path("stream")

    def writeInputs(): Unit = {
      ErBench.writeDocs(DocGen.docs(spark, gen).toDF(), base)
      // fresh entities, ids prefixed so they never collide with the base
      val g = ErBench.genConfig(BatchEntities, ctx.seed * 1000 + 17)
      ErBench.writeDocs(DocGen.docs(spark, g).toDF()
        .withColumn("doc_id", concat(lit("n"), col("doc_id"))), stream)
      ErBench.writeDocs(DocGen.docsRevised(spark, gen,
        ReviseEntities.toLong * gen.docsPerEntity).toDF(), revised)
    }
    (1 to ErBench.SetupReps).foreach(_ => ctx.setup(writeInputs()))
    ctx.inputBytes = Seq(base, stream, revised).map(ErBench.dirBytes).sum
    // the committed base: one sample, added to the median setup sample
    val t0 = System.nanoTime()
    EntityResolution.run(spark, spark.read.parquet(base), pipe, runDir = Some(dir)).release()
    ctx.facts("setup.base_run_s") = (System.nanoTime() - t0) / 1e9
    val baseAssignId = Snapshots.lastCommitted(dir, "cluster_assignments").get

    var depthMax = 0
    def noteDepth(): Unit = depthMax = math.max(depthMax, Seq("blocking", "scored_pairs",
      "cluster_assignments").map(Snapshots.chainDepth(dir, _)).max)

    ctx.op("churn.cycle") {
      // no cadence: audit, merge and compaction run as their own verbs below
      val outcome = ctx.op("ingest.batch") {
        StreamingIngest.ingestBatch(spark, spark.read.parquet(stream), dir, 0L, pipe,
          compactEvery = 0)
      }
      noteDepth()
      outcome match {
        case StreamingIngest.Ingested(docs, fresh, _, _, _) =>
          ctx.tracer.annotate("ingest.batch", "docs" -> docs.toDouble, "pairs_fresh" -> fresh.toDouble)
        case StreamingIngest.Skipped =>
          sys.error("the stream micro-batch was skipped")
      }

      ctx.op("remove") {
        EntityResolution.removeDocuments(spark, spark.read.parquet(stream).select("doc_id"), dir, pipe)
          .release()
      }
      noteDepth()
      val diff = untimed(ctx) {
        val before = Snapshots.loadSnapshot(spark, dir, "cluster_assignments", baseAssignId)
        val after = Snapshots.loadCommitted(spark, dir, "cluster_assignments").get
        before.exceptAll(after).count() + after.exceptAll(before).count()
      }
      ctx.facts("remove.roundtrip_diff") = diff.toDouble
      ctx.check("roundtrip_diff", diff.toDouble, "== 0", diff == 0L)

      if (ctx.traced) {
        ctx.op("replace") {
          EntityResolution.replaceDocuments(spark, spark.read.parquet(revised), dir, pipe).release()
        }
        noteDepth()
      }

      val acfg = ClusterAudit.AuditConfig(threshold = pipe.scoreThreshold)
      val mcfg = ClusterMerge.MergeConfig(threshold = pipe.scoreThreshold)
      val audit = ctx.op("audit") { EntityResolution.auditRepair(spark, dir, acfg) }
      ctx.facts("audit.edges_cut") = audit.counters.getOrElse("audit_cut_pairs", 0L).toDouble
      val merge = ctx.op("merge") { EntityResolution.mergeRepair(spark, dir, mcfg) }
      val seen = merge.counters.getOrElse("merge_cluster_pairs_seen", 0L)
      ctx.facts("merge.qualified_ratio") =
        if (seen == 0) 0.0 else merge.counters.getOrElse("merge_cluster_pairs_qualified", 0L).toDouble / seen
      noteDepth()
      ctx.op("audit.idle") { EntityResolution.auditRepair(spark, dir, acfg, incremental = true) }
      ctx.op("merge.idle") { EntityResolution.mergeRepair(spark, dir, mcfg, incremental = true) }
      noteDepth()

      val beforeCompact = ErBench.files(dir)
      ctx.op("snapshots.compact") { EntityResolution.compactRun(spark, dir) }
      val afterCompact = ErBench.files(dir)
      ctx.facts("snapshots.compact_bytes_rewritten") =
        afterCompact.filter { case (f, _) => !beforeCompact.contains(f) }.values.sum.toDouble
      ctx.op("snapshots.expire") { EntityResolution.expireRun(dir) }
      val afterExpire = ErBench.files(dir)
      ctx.facts("snapshots.expire_bytes_freed") =
        afterCompact.filter { case (f, _) => !afterExpire.contains(f) }.values.sum.toDouble
    }
    ctx.facts("snapshots.chain_depth_max") = depthMax.toDouble
    ctx.runDirBytes = ErBench.dirBytes(dir)
    ctx.facts("snapshots.bytes_written") = ctx.runDirBytes.toDouble
    ctx.facts("snapshots.files_written") = ErBench.files(dir).size.toDouble

    // the streamed docs are gone and revisions keep their entity, so the
    // base gold describes the final corpus
    ErBench.checkF1(ctx, dir, DocGen.gold(spark, gen).toDF())
  }

  /** Work inside the timed cycle that is not part of it (a check between
    * two verbs): runs under its own span, which the summary subtracts.
    */
  def untimed[A](ctx: ErBench.Ctx)(body: => A): A = ctx.tracer.span("untimed")(body)
}
