package graft.erbench

import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.operators.{Blocking, ConnectedComponents, PairScoring}
import graft.pipeline.EntityResolution
import graft.pipeline.EntityResolution.PipelineConfig
import graft.synth.DocGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** `batch`: committed `EntityResolution.run` passes over one pre-written
  * uniform corpus. Blocking, candidate pairs, scoring and CC do the work;
  * the insert path is idle.
  *
  * Untraced: at least `MinRuns` passes, more while `seconds` have not
  * elapsed: the first pass is JIT-cold, as for a one-shot batch job, the
  * second warm, and the median of the two is their mean. Two passes
  * average the host's speed over about 30 s; a third would not fit the run
  * budget on a busy host. Traced: one warm-up pass, the pipeline decomposed layer by
  * layer under spans, then one untraced reference pass, with a drift guard
  * that the decomposition reproduces the reference's outputs. The
  * reference runs last, so JIT warm-up can only inflate the measured
  * tracing overhead, never hide it.
  */
object BatchWorkload {
  val Entities = 400
  val MinRuns = 2

  def run(ctx: ErBench.Ctx): Unit = {
    val spark = ctx.spark
    val gen = ErBench.genConfig(Entities, ctx.seed)
    val corpus = ctx.path("corpus")
    (1 to ErBench.SetupReps).foreach(_ => ctx.setup(ErBench.writeDocs(DocGen.docs(spark, gen).toDF(), corpus)))
    ctx.inputBytes = ErBench.dirBytes(corpus)
    val pipe = PipelineConfig()

    def pass(i: Int): String = {
      val dir = ctx.path(s"run-$i")
      ctx.op("batch.run") {
        EntityResolution.run(spark, spark.read.parquet(corpus), pipe, runDir = Some(dir)).release()
      }
      if (i > 0) ErBench.deleteTree(ctx.path(s"run-${i - 1}"))
      dir
    }

    val t0 = System.nanoTime()
    val lastDir =
      if (!ctx.traced) {
        var i = 0
        var dir = ""
        while (i < MinRuns || (System.nanoTime() - t0) / 1e9 < ctx.seconds) { dir = pass(i); i += 1 }
        dir
      } else {
        pass(0)
        val traced = ctx.path("traced")
        val nCands = tracedRun(ctx, spark.read.parquet(corpus), pipe, traced)
        val ref = pass(1)
        driftGuard(ctx, ref, traced, nCands)
        layerFacts(ctx, traced, DocGen.gold(spark, gen).toDF(), pipe, nCands)
        traced
      }
    ctx.runDirBytes = ErBench.dirBytes(lastDir)

    val gold = DocGen.gold(spark, gen).toDF()
    ErBench.checkF1(ctx, lastDir, gold)
    val violations = Eval.spanInvariantViolations(DocGen.docs(spark, gen).toDF(), spark.read.parquet(corpus))
    ctx.check("span_invariant_violations", violations.toDouble, "== 0", violations == 0L)
  }

  /** `EntityResolution.run(runDir = Some(dir))` decomposed into its layer
    * calls, in its order, each stage output materialized inside its own
    * span so the stage's jobs are booked to it; commits get their own
    * `snapshots.commit` spans. Returns the candidate-pair count.
    */
  def tracedRun(ctx: ErBench.Ctx, docs: DataFrame, cfg: PipelineConfig, dir: String): Long = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val runId = "run0"
    // the verb's own join preference (EntityResolution.beginFastJoins)
    val prevJoin = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try ctx.op("batch.traced") {
      val toked = Blocking.tokenized(docs).persist(StorageLevel.MEMORY_AND_DISK)
      val out = tr.span("blocking") {
        val o = Blocking.blockTokenizedFull(toked, cfg.numBands, cfg.rowsPerBand,
          cfg.maxBlockSize, cfg.tokenBands, withHotRows = true)
        o.rows.persist().count()
        o
      }
      val blockingPath = tr.span("snapshots.commit") {
        val c = Snapshots.commit(spark, out.rows, dir, "blocking", runId, out.counters)
        out.hotRows.foreach { h =>
          Snapshots.commit(spark, h.select(col("block_key"), col("doc_id")),
            dir, EntityResolution.StageBlockHot, runId, Map("hot_rows" -> h.count()))
          h.unpersist()
        }
        c.path
      }
      out.rows.unpersist()
      ctx.facts("blocking.hot_keys") = out.counters.getOrElse("capped_block_keys", 0L).toDouble
      val blocking = spark.read.parquet(blockingPath)

      val (cands, nCands) = tr.span("candidates") {
        val c = Blocking.candidatePairs(blocking).persist()
        (c, c.count())
      }

      val (scored, feats, nDocs) = tr.span("scoring") {
        val n = toked.count()
        val f = PairScoring.featuresTokenized(toked, n, cfg.scoring)
        val s = PairScoring.scoreFeatures(spark, f.feats, cands, cfg.scoring).toDF().persist()
        s.count()
        (s, f, n)
      }
      val scoredPath = tr.span("snapshots.commit") {
        val c = Snapshots.commit(spark, scored, dir, "scored_pairs", runId,
          Map("docs_scored_against" -> nDocs))
        for (mtok <- feats.mediaTokenCache) {
          val stored = PairScoring.storedFeatures(toked, mtok, cfg.scoring)
            .join(Blocking.docRefine(toked), "doc_id")
            .select("doc_id", "refine0", "refine1", "txt", "tok_ids", "m_ids", "x_ids")
          Snapshots.commit(spark, stored, dir, EntityResolution.StageDocFeatures, runId,
            Map("n_docs" -> nDocs))
          feats.dfRel.foreach(d => Snapshots.commit(spark, d, dir, EntityResolution.StageMediaDf,
            runId, Map("n_docs" -> nDocs)))
        }
        c.path
      }
      scored.unpersist(); cands.unpersist(); toked.unpersist(); feats.release()

      val cc = tr.span("cc") {
        val edges = spark.read.parquet(scoredPath)
          .where(col("score") >= cfg.scoreThreshold)
          .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
        val allIds = Snapshots.loadCommitted(spark, dir, EntityResolution.StageDocFeatures).get
          .select(col("doc_id"))
        val r = ConnectedComponents.assignAllTracked(spark, allIds, edges, cfg.maxCcIter,
          pairsPreDeduped = true)
        r.assignments.persist().count()
        r
      }
      tr.annotate("cc", "iterations" -> cc.iterations.toDouble)
      tr.span("snapshots.commit") {
        Snapshots.commit(spark, cc.assignments, dir, "cluster_assignments", runId,
          Map("cc_iterations" -> cc.iterations.toLong))
      }
      cc.assignments.unpersist()
      cc.releaseCheckpoints(spark)
      nCands
    } finally spark.conf.set("spark.sql.join.preferSortMergeJoin", prevJoin)
  }

  /** The decomposition must describe the same pipeline: same candidate
    * count, scored pairs and cluster assignments as `EntityResolution.run`
    * over the same corpus.
    */
  def driftGuard(ctx: ErBench.Ctx, refDir: String, tracedDir: String, nCands: Long): Unit = {
    val spark = ctx.spark
    def stage(dir: String, s: String) = Snapshots.loadCommitted(spark, dir, s).get
    val refCands = Blocking.candidatePairs(stage(refDir, "blocking")).count()
    ctx.check("drift_candidates", (nCands - refCands).toDouble, "== 0", nCands == refCands)
    val scoredSame = ErBench.sameRows(stage(refDir, "scored_pairs"), stage(tracedDir, "scored_pairs"))
    ctx.check("drift_scored_pairs", if (scoredSame) 0 else 1, "== 0", scoredSame)
    val assignSame = ErBench.sameRows(stage(refDir, "cluster_assignments"),
      stage(tracedDir, "cluster_assignments"))
    ctx.check("drift_assignments", if (assignSame) 0 else 1, "== 0", assignSame)
  }

  /** Layer facts of the traced run's committed outputs (untimed). */
  def layerFacts(ctx: ErBench.Ctx, dir: String, gold: DataFrame, cfg: PipelineConfig,
                 nCands: Long): Unit = {
    val spark = ctx.spark
    val blocking = Snapshots.loadCommitted(spark, dir, "blocking").get
    val scored = Snapshots.loadCommitted(spark, dir, "scored_pairs").get
    val labeled = EntityResolution.labeledPairs(blocking, gold).cache()
    val (goldTotal, goldBlocked, _) = Eval.blockingTail(labeled, gold)
    val matches = labeled.where(col("is_match")).select("doc_id_a", "doc_id_b").distinct().count()
    labeled.unpersist()
    val nScored = scored.count()
    val accepted = scored.where(col("score") >= cfg.scoreThreshold).count()
    ctx.facts("blocking.block_rows") = blocking.count().toDouble
    ctx.facts("blocking.pair_recall") = if (goldTotal == 0) 1.0 else goldBlocked.toDouble / goldTotal
    ctx.facts("candidates.pairs") = nCands.toDouble
    ctx.facts("candidates.match_ratio") = if (nCands == 0) 0.0 else matches.toDouble / nCands
    ctx.facts("scoring.accept_ratio") = if (nScored == 0) 0.0 else accepted.toDouble / nScored
    ctx.facts("snapshots.bytes_written") = ErBench.dirBytes(dir).toDouble
    ctx.facts("snapshots.files_written") = ErBench.files(dir).size.toDouble
  }
}
