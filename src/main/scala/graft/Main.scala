package graft

import graft.eval.Eval
import graft.pipeline.EntityResolution
import graft.synth.{DocGen, GenConfig}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the entity-resolution pipeline.
  *
  * Usage (all args optional):
  *   graft.Main [--entities N] [--docs-per-entity D] [--seed S]
  *              [--run-dir DIR] [--resume] [--threads T] [--no-eval]
  *              [--threshold T]
  *              [--snapshot-id K] [--sweep]
  *              [--add-entities N] [--add-seed S] [--compact]
  *              [--remove-entities N] [--replace-entities N] [--expire-keep K]
  *              [--ingest WATCH_DIR] [--compact-every K] [--audit-every K] [--repair]
  *              [--audit] [--audit-repair] [--audit-incremental]
  *              [--audit-strong S] [--audit-min-side M]
  *              [--merge-audit] [--merge-repair] [--merge-floor F]
  *              [--merge-min-evidence E] [--merge-promote P] [--merge-every K]
  *
  * Synthesizes the deterministic docs corpus (BASELINE.json input_hint
  * shape), runs blocking → scoring → clustering (checkpointed to
  * --run-dir when given, resumable with --resume), evaluates pairwise
  * F1 at shared blocking keys + exact cluster equality vs gold (plus the
  * blocking-recall tail: gold pairs sharing NO block key), and prints
  * one JSON line of metrics.
  *
  * `--snapshot-id K` (with --run-dir): TIME-TRAVEL read — no pipeline
  * run; re-evaluates the cluster_assignments snapshot K read-only
  * (rows, clusters, and — unless --no-eval — cluster equality vs the
  * gold regenerated from the same --entities/--docs-per-entity/--seed).
  *
  * `--add-entities N` (with --run-dir): INCREMENTAL run — no full
  * pipeline; extends the committed base run with N new entities (seed
  * `--add-seed`, default base seed + 1000; doc/entity ids prefixed "n"
  * so increments are disjoint by construction) via
  * [[EntityResolution.addDocuments]], committing a new snapshot of every
  * stage. The base corpus flags must repeat the base run's values —
  * eval regenerates the base gold from them and unions the increment's.
  * The increment is O(delta) with delta snapshots; a result identical to
  * batch comes from [[EntityResolution.run]] over the union of the corpora.
  *
  * `--remove-entities N` (with --run-dir): RETRACTION — removes every doc
  * of the first N entities (entity_id order) of the base corpus from the
  * committed run via [[EntityResolution.removeDocuments]] (delta snapshots;
  * affected clusters recomputed over surviving edges + splice healing) and
  * evaluates against the SURVIVING gold. The base corpus flags must repeat
  * the base run's values.
  *
  * `--replace-entities N` (with --run-dir): UPSERT — every doc of the
  * first N entities of the base corpus is replaced by a re-perturbed
  * REVISION (same entity identity, fresh typo/media noise —
  * [[graft.synth.DocGen.docsRevised]]) via
  * [[EntityResolution.replaceDocuments]] (retract + O(delta) insert on one
  * history), then evaluated against the UNCHANGED gold: a revision must
  * not move any doc's entity.
  *
  * `--expire-keep K` (with --run-dir): DESTRUCTIVE snapshot retirement —
  * keeps the newest K committed snapshots per stage (never breaking a
  * retained delta chain) and deletes the rest. The physical-deletion step
  * after a retraction: `--remove-entities` → `--compact` →
  * `--expire-keep 1` leaves no copy of the removed docs on disk (at the
  * cost of time-travel to the expired ids).
  *
  * `--compact` (with --run-dir): storage-level MAJOR compaction — every
  * stage's delta chain is materialized as a full snapshot (bit-identical
  * relations; reads stop paying merge-on-read). No pipeline run.
  *
  * `--ingest WATCH_DIR` (with --run-dir): STREAMING ingestion — attach a
  * parquet file-stream source on WATCH_DIR (docs-schema files dropped by
  * an upstream producer) to the committed run and drain it with
  * Trigger.AvailableNow: each micro-batch becomes one insert-mode
  * increment, the streaming checkpoint (`<run-dir>/_stream_checkpoint`)
  * makes re-invocation exactly-once (already-ingested files are never
  * re-read; a replayed batch is skipped by its run_id certificate), and
  * delta chains compact every `--compact-every` increments (default 8).
  * Run it per arrival (cron-style) or leave a producer dropping files
  * and re-invoke — the deployment loop. `--repair` first trims an
  * increment interrupted mid-commit back to the consistent floor.
  *
  * `--audit` (with --run-dir): CLUSTER-QUALITY CENSUS — read-only cohesion
  * report over the committed clustering (bridge structure of every
  * multi-doc cluster's accepted-edge graph). `--audit-repair` additionally
  * CUTS weak bridges (score < `--audit-strong`, both sides ≥
  * `--audit-min-side` docs) and commits the repair as delta snapshots +
  * standing pair tombstones ([[EntityResolution.auditRepair]]), reporting
  * pairwise F1 before/after vs the base-flag gold. `--audit-incremental`
  * scopes the repair to clusters touched since the last audit's watermark
  * (the cadence mode `--audit-every` uses; first audit runs full).
  *
  * `--merge-audit` (with --run-dir): FALSE-SPLIT CENSUS — read-only report
  * of cluster pairs connected by corroborated near-miss evidence (score ∈
  * [`--merge-floor`, threshold), ≥ `--merge-min-evidence` independent
  * edges, no tombstone / hard-conflict veto). `--merge-repair`
  * additionally MERGES the qualifying pairs and promotes the evidence to
  * `--merge-promote` in scored_pairs ([[EntityResolution.mergeRepair]];
  * the recall-side twin of `--audit-repair`), reporting pairwise F1
  * before/after vs the base-flag gold.
  */
object Main {

  /** Runnable surface over [[EntityResolution.addDocuments]]: generate
    * the increment corpus, extend the committed run at `dir`, evaluate
    * against the COMBINED gold (base ∪ prefixed increment). Returns the
    * JSON metrics line.
    */
  def incrementRun(spark: SparkSession, dir: String, baseCfg: GenConfig,
                   addCfg: GenConfig, doEval: Boolean,
                   pipe: EntityResolution.PipelineConfig = EntityResolution.PipelineConfig()): String = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val newDocs = DocGen.docs(spark, addCfg).map(d => d.copy(doc_id = "n" + d.doc_id))
      .toDF().cache()
    val nNew = newDocs.count()
    val res = EntityResolution.addDocuments(spark, newDocs, dir, pipe)
    val nClusters = res.assignments.select("cluster_id").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    val evalJson = if (doEval) {
      val gold = DocGen.gold(spark, baseCfg).toDF().unionByName(
        DocGen.gold(spark, addCfg)
          .map(g => g.copy(doc_id = "n" + g.doc_id, entity_id = "n" + g.entity_id)).toDF())
      val labeled = EntityResolution.labeledPairs(res.blocking, gold)
      val m = Eval.pairwiseF1(res.assignments, labeled)
      val eq = Eval.clusterEquality(res.assignments, gold)
      val (gpTotal, gpBlocked, gpMissed) = Eval.blockingTail(labeled, gold)
      s""","f1":${m.f1},"precision":${m.precision},"recall":${m.recall},""" +
        s""""cluster_equality":$eq,"gold_pairs_total":$gpTotal,""" +
        s""""gold_pairs_blocked":$gpBlocked,"gold_pairs_missed":$gpMissed"""
    } else ""
    newDocs.unpersist()
    val counters = res.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"docs_added":$nNew,"docs_total":${res.counters("docs_total")},""" +
      s""""clusters":$nClusters,"cc_iterations":${res.ccIterations},""" +
      s""""seconds":$secs,"added_docs_per_sec":${nNew / secs},"counters":$counters$evalJson}"""
  }

  /** Runnable surface over [[EntityResolution.removeDocuments]]: retract
    * every doc of the first `nRemove` entities (entity_id order) of the
    * base corpus from the committed run at `dir`, then evaluate against
    * the SURVIVING gold. Returns the JSON metrics line.
    */
  def removalRun(spark: SparkSession, dir: String, baseCfg: GenConfig,
                 nRemove: Int, doEval: Boolean,
                 pipe: EntityResolution.PipelineConfig = EntityResolution.PipelineConfig()): String = {
    import org.apache.spark.sql.functions.col
    val t0 = System.nanoTime()
    val gold = DocGen.gold(spark, baseCfg).toDF().cache()
    val removedEntities = gold.select("entity_id").distinct()
      .orderBy("entity_id").limit(nRemove)
    val removedDocs = gold.join(removedEntities, "entity_id").select("doc_id").cache()
    val nRm = removedDocs.count()
    val res = EntityResolution.removeDocuments(spark, removedDocs, dir, pipe)
    val nClusters = res.assignments.select("cluster_id").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    val evalJson = if (doEval) {
      val goldLeft = gold.join(removedDocs, Seq("doc_id"), "left_anti")
      val labeled = EntityResolution.labeledPairs(res.blocking, goldLeft)
      val m = Eval.pairwiseF1(res.assignments, labeled)
      val eq = Eval.clusterEquality(res.assignments, goldLeft)
      s""","f1":${m.f1},"precision":${m.precision},"recall":${m.recall},""" +
        s""""cluster_equality":$eq"""
    } else ""
    gold.unpersist(); removedDocs.unpersist()
    val counters = res.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"docs_removed":$nRm,"docs_total":${res.counters("docs_total")},""" +
      s""""clusters":$nClusters,"cc_iterations":${res.ccIterations},""" +
      s""""seconds":$secs,"counters":$counters$evalJson}"""
  }

  /** Runnable surface over [[EntityResolution.replaceDocuments]]: UPSERT —
    * re-perturbed revisions (same entity identity, fresh seeded noise,
    * [[DocGen.docsRevised]]) of every doc of the first `nReplace` entities
    * replace their committed versions; evaluated against the UNCHANGED
    * gold (a revision must not move a doc's entity). Returns the JSON
    * metrics line.
    */
  def replaceRun(spark: SparkSession, dir: String, baseCfg: GenConfig,
                 nReplace: Int, doEval: Boolean,
                 pipe: EntityResolution.PipelineConfig = EntityResolution.PipelineConfig()): String = {
    val t0 = System.nanoTime()
    val revised = DocGen.docsRevised(spark, baseCfg,
      nReplace.toLong * baseCfg.docsPerEntity).toDF().cache()
    val nRev = revised.count()
    val res = EntityResolution.replaceDocuments(spark, revised, dir, pipe)
    val nClusters = res.assignments.select("cluster_id").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    val evalJson = if (doEval) {
      val gold = DocGen.gold(spark, baseCfg).toDF()
      val labeled = EntityResolution.labeledPairs(res.blocking, gold)
      val m = Eval.pairwiseF1(res.assignments, labeled)
      val eq = Eval.clusterEquality(res.assignments, gold)
      s""","f1":${m.f1},"precision":${m.precision},"recall":${m.recall},""" +
        s""""cluster_equality":$eq"""
    } else ""
    revised.unpersist()
    val counters = res.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"docs_replaced":$nRev,"docs_total":${res.counters("docs_total")},""" +
      s""""clusters":$nClusters,"cc_iterations":${res.ccIterations},""" +
      s""""seconds":$secs,"counters":$counters$evalJson}"""
  }

  /** Runnable surface over [[graft.operators.ClusterAudit]] /
    * [[EntityResolution.auditRepair]]: cohesion census of the committed
    * clustering (always), plus — when `commit` — the weak-bridge repair
    * committed as scored_pairs/cluster_assignments deltas + standing pair
    * tombstones, with pairwise F1 before/after against the gold
    * regenerated from the BASE corpus flags (repeat the base run's values;
    * use --no-eval on histories whose corpus the base flags no longer
    * describe). Returns the JSON metrics line.
    */
  def auditRun(spark: SparkSession, dir: String, baseCfg: GenConfig,
               acfg: graft.operators.ClusterAudit.AuditConfig,
               commit: Boolean, doEval: Boolean, incremental: Boolean = false): String = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val assignBefore = graft.ckpt.Snapshots.loadCommitted(spark, dir, "cluster_assignments")
      .getOrElse(sys.error(s"--audit: no committed cluster_assignments under $dir"))
    val scored = graft.ckpt.Snapshots.loadCommitted(spark, dir, "scored_pairs")
      .getOrElse(sys.error(s"--audit: no committed scored_pairs under $dir"))
    // census over multi-doc clusters (over-cap rows carry n_bridges = -1:
    // excluded from the bridge sums, counted in their own column)
    val coh = graft.operators.ClusterAudit.cohesion(assignBefore, scored, acfg).toDF()
    val c = coh.agg(
      count(lit(1)), coalesce(sum(when(col("over_cap"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!col("connected"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!col("over_cap"), col("n_bridges")).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!col("over_cap"), col("n_weak_bridges")).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("n_weak_bridges") > 0, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!col("over_cap"), col("n_weak_bundles")).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("n_weak_bundles") > 0, 1L).otherwise(0L)), lit(0L))
    ).collect()(0)
    val censusJson =
      s""""clusters_multi_doc":${c.getLong(0)},"clusters_over_cap":${c.getLong(1)},""" +
      s""""clusters_disconnected":${c.getLong(2)},"bridges":${c.getLong(3)},""" +
      s""""weak_bridges":${c.getLong(4)},"clusters_with_weak_bridge":${c.getLong(5)},""" +
      s""""weak_bundles":${c.getLong(6)},"clusters_with_weak_bundle":${c.getLong(7)}"""
    val repairJson = if (commit) {
      val res = EntityResolution.auditRepair(spark, dir, acfg, incremental = incremental)
      val counters = res.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val evalJson = if (doEval) {
        val gold = DocGen.gold(spark, baseCfg).toDF()
        val blocking = graft.ckpt.Snapshots.loadCommitted(spark, dir, "blocking").get
        val labeled = EntityResolution.labeledPairs(blocking, gold).cache()
        val before = Eval.pairwiseF1(assignBefore, labeled)
        val after = Eval.pairwiseF1(res.assignments, labeled)
        labeled.unpersist()
        s""","f1_before":${before.f1},"precision_before":${before.precision},""" +
          s""""recall_before":${before.recall},"f1_after":${after.f1},""" +
          s""""precision_after":${after.precision},"recall_after":${after.recall},""" +
          s""""cluster_equality_after":${Eval.clusterEquality(res.assignments, gold)}"""
      } else ""
      s""","repair":$counters$evalJson"""
    } else ""
    s"""{"audit":{$censusJson},"seconds":${(System.nanoTime() - t0) / 1e9}$repairJson}"""
  }

  /** Runnable surface over [[graft.operators.ClusterMerge]] /
    * [[EntityResolution.mergeRepair]]: false-split census of the committed
    * clustering (always), plus — when `commit` — the corroborated-near-miss
    * merge committed as scored_pairs/cluster_assignments deltas + the
    * standing promotion ledger, with pairwise F1 before/after against the
    * gold regenerated from the BASE corpus flags. Returns the JSON metrics
    * line.
    */
  def mergeRun(spark: SparkSession, dir: String, baseCfg: GenConfig,
               mcfg: graft.operators.ClusterMerge.MergeConfig,
               commit: Boolean, doEval: Boolean): String = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val assignBefore = graft.ckpt.Snapshots.loadCommitted(spark, dir, "cluster_assignments")
      .getOrElse(sys.error(s"--merge-audit: no committed cluster_assignments under $dir"))
    val scored = graft.ckpt.Snapshots.loadCommitted(spark, dir, "scored_pairs")
      .getOrElse(sys.error(s"--merge-audit: no committed scored_pairs under $dir"))
    val tombstones = graft.ckpt.Snapshots.loadCommitted(spark, dir,
      EntityResolution.StageAuditTombstones)
    val cen = graft.operators.ClusterMerge.census(assignBefore, scored, tombstones, mcfg)
    val c = cen.agg(
      count(lit(1)),
      coalesce(sum(when(col("qualifies"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("n_drift_edges") > 0L, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("tombstone_veto"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("conflict_veto"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(col("n_band_edges")), lit(0L)),
      coalesce(sum(when(!col("qualifies") && !col("conflict_veto") && !col("tombstone_veto") &&
        col("n_band_edges") >= 1L &&
        col("n_band_edges") + col("n_witnesses") >= mcfg.minEvidence &&
        col("coverage") < mcfg.minCoverage, 1L).otherwise(0L)), lit(0L))
    ).collect()(0)
    val censusJson =
      s""""cluster_pairs_with_evidence":${c.getLong(0)},"cluster_pairs_qualified":${c.getLong(1)},""" +
      s""""cluster_pairs_drift":${c.getLong(2)},"cluster_pairs_tombstone_vetoed":${c.getLong(3)},""" +
      s""""cluster_pairs_conflict_vetoed":${c.getLong(4)},"band_edges":${c.getLong(5)},""" +
      s""""cluster_pairs_below_coverage":${c.getLong(6)}"""
    val repairJson = if (commit) {
      val res = EntityResolution.mergeRepair(spark, dir, mcfg)
      val counters = res.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val evalJson = if (doEval) {
        val gold = DocGen.gold(spark, baseCfg).toDF()
        val blocking = graft.ckpt.Snapshots.loadCommitted(spark, dir, "blocking").get
        val labeled = EntityResolution.labeledPairs(blocking, gold).cache()
        val before = Eval.pairwiseF1(assignBefore, labeled)
        val after = Eval.pairwiseF1(res.assignments, labeled)
        labeled.unpersist()
        s""","f1_before":${before.f1},"precision_before":${before.precision},""" +
          s""""recall_before":${before.recall},"f1_after":${after.f1},""" +
          s""""precision_after":${after.precision},"recall_after":${after.recall},""" +
          s""""cluster_equality_after":${Eval.clusterEquality(res.assignments, gold)}"""
      } else ""
      s""","repair":$counters$evalJson"""
    } else ""
    s"""{"merge_audit":{$censusJson},"seconds":${(System.nanoTime() - t0) / 1e9}$repairJson}"""
  }

  /** Read-only re-evaluation of an older cluster_assignments snapshot
    * (the runnable time-travel surface over Snapshots.loadSnapshot).
    */
  def snapshotReport(spark: SparkSession, runDir: String, snapshotId: Long,
                     cfg: GenConfig, doEval: Boolean): String = {
    val assign = graft.ckpt.Snapshots.loadSnapshot(spark, runDir, "cluster_assignments", snapshotId)
    val docs = assign.count()
    val clusters = assign.select("cluster_id").distinct().count()
    val evalJson = if (doEval) {
      val gold = DocGen.gold(spark, cfg).toDF()
      s""","cluster_equality":${Eval.clusterEquality(assign, gold)}"""
    } else ""
    s"""{"snapshot_id":$snapshotId,"docs":$docs,"clusters":$clusters$evalJson}"""
  }
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).toSet
    val cfg = GenConfig(
      numEntities = opts.getOrElse("--entities", "200").toInt,
      docsPerEntity = opts.getOrElse("--docs-per-entity", "3").toInt,
      seed = opts.getOrElse("--seed", "42").toLong)
    val threads = opts.getOrElse("--threads", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    // pair-acceptance threshold for the batch run AND the audit verbs (the
    // audits must read the same evidence CC accepted)
    val scoreThr = opts.getOrElse("--threshold", "0.60").toDouble
    val pipeCfg = EntityResolution.PipelineConfig(scoreThreshold = scoreThr)
    val runDir = opts.get("--run-dir")
    val resume = flags.contains("--resume")
    val doEval = !flags.contains("--no-eval")

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-er")
      // 4× over-decomposition: shuffle partitions scale WITH the core count
      // (the same rule at every cluster size), so reduce skew/stragglers
      // cost ≤ 1/4 of a wave instead of a whole one — measured ~13% on the
      // 4-thread ER leg, neutral at 1 thread (AQE coalesces tiny shuffles)
      .config("spark.sql.shuffle.partitions", threads.toInt * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val snapOpt = opts.get("--snapshot-id")
    if (snapOpt.isDefined) {
      val dir = runDir.getOrElse(
        sys.error("--snapshot-id requires --run-dir (the snapshot log to read)"))
      println(snapshotReport(spark, dir, snapOpt.get.toLong, cfg, doEval))
      spark.stop()
      return
    }

    val expireOpt = opts.get("--expire-keep")
    if (expireOpt.isDefined) {
      val dir = runDir.getOrElse(
        sys.error("--expire-keep requires --run-dir (the snapshot log to retire from)"))
      val dropped = EntityResolution.expireRun(dir, expireOpt.get.toInt)
      val js = dropped.toSeq.sortBy(_._1).map { case (s, ids) =>
        s""""$s":[${ids.mkString(",")}]""" }.mkString(",")
      println(s"""{"expired":{$js}}""")
      spark.stop()
      return
    }

    if (flags.contains("--compact")) {
      val dir = runDir.getOrElse(
        sys.error("--compact requires --run-dir (the delta-chained run to compact)"))
      val t0 = System.nanoTime()
      EntityResolution.compactRun(spark, dir)
      val snap = graft.ckpt.Snapshots.lastCommitted(dir, "cluster_assignments").getOrElse(-1L)
      println(s"""{"compacted":true,"seconds":${(System.nanoTime() - t0) / 1e9},""" +
        s""""last_snapshot_id":$snap}""")
      spark.stop()
      return
    }

    val ingestOpt = opts.get("--ingest")
    if (ingestOpt.isDefined) {
      val dir = runDir.getOrElse(
        sys.error("--ingest requires --run-dir (the committed base run to extend)"))
      if (flags.contains("--repair")) {
        val floor = graft.streaming.StreamingIngest.repair(dir)
        System.err.println(s"[ingest] repaired to common snapshot floor $floor")
      }
      val t0 = System.nanoTime()
      val before = graft.ckpt.Snapshots.lastCommitted(dir, "cluster_assignments").getOrElse(-1L)
      val schema = org.apache.spark.sql.Encoders.product[graft.model.Doc].schema
      val stream = spark.readStream.schema(schema).parquet(ingestOpt.get)
      val q = graft.streaming.StreamingIngest.start(spark, stream, dir,
        cfg = pipeCfg,
        compactEvery = opts.getOrElse("--compact-every", "8").toInt,
        auditEvery = opts.getOrElse("--audit-every", "0").toInt,
        audit = Some(graft.operators.ClusterAudit.AuditConfig(
          strongScore = opts.getOrElse("--audit-strong", "0.75").toDouble,
          minSideDocs = opts.getOrElse("--audit-min-side", "2").toInt)),
        mergeEvery = opts.getOrElse("--merge-every", "0").toInt,
        merge = Some(graft.operators.ClusterMerge.MergeConfig(
          mergeFloor = opts.getOrElse("--merge-floor",
            math.max(0.0, math.min(0.50, scoreThr - 0.10)).toString).toDouble,
          minEvidence = opts.getOrElse("--merge-min-evidence", "2").toInt,
          promoteScore = opts.getOrElse("--merge-promote",
            math.max(0.75, scoreThr + 0.05).toString).toDouble)))
      q.awaitTermination() // AvailableNow: drains what has arrived, then stops
      val after = graft.ckpt.Snapshots.lastCommitted(dir, "cluster_assignments").getOrElse(-1L)
      val assign = graft.ckpt.Snapshots.loadCommitted(spark, dir, "cluster_assignments").get
      val docsTotal = graft.ckpt.Snapshots
        .lastCounters(dir, EntityResolution.StageMediaDf).getOrElse("n_docs", -1L)
      println(s"""{"ingested_snapshots":${after - before},"docs_total":$docsTotal,""" +
        s""""clusters":${assign.select("cluster_id").distinct().count()},""" +
        s""""last_snapshot_id":$after,"seconds":${(System.nanoTime() - t0) / 1e9}}""")
      spark.stop()
      return
    }

    if (flags.contains("--merge-audit") || flags.contains("--merge-repair")) {
      val dir = runDir.getOrElse(
        sys.error("--merge-audit requires --run-dir (the committed run to audit)"))
      val mcfg = graft.operators.ClusterMerge.MergeConfig(
        threshold = scoreThr,
        // derived default preserves the stock band WIDTH (0.10), not the
        // stock 0.50 floor: any --threshold below 0.60 slides the whole
        // band down (see StreamingIngest's mergeFor for the calibration
        // caveat)
        mergeFloor = opts.getOrElse("--merge-floor",
          math.max(0.0, math.min(0.50, scoreThr - 0.10)).toString).toDouble,
        minEvidence = opts.getOrElse("--merge-min-evidence", "2").toInt,
        promoteScore = opts.getOrElse("--merge-promote",
          math.max(0.75, scoreThr + 0.05).toString).toDouble)
      println(mergeRun(spark, dir, cfg, mcfg,
        commit = flags.contains("--merge-repair"), doEval))
      spark.stop()
      return
    }

    if (flags.contains("--audit") || flags.contains("--audit-repair")) {
      val dir = runDir.getOrElse(
        sys.error("--audit requires --run-dir (the committed run to audit)"))
      val acfg = graft.operators.ClusterAudit.AuditConfig(
        threshold = scoreThr,
        strongScore = opts.getOrElse("--audit-strong", "0.75").toDouble,
        minSideDocs = opts.getOrElse("--audit-min-side", "2").toInt)
      println(auditRun(spark, dir, cfg, acfg,
        commit = flags.contains("--audit-repair"), doEval,
        incremental = flags.contains("--audit-incremental")))
      spark.stop()
      return
    }

    val repOpt = opts.get("--replace-entities")
    if (repOpt.isDefined) {
      val dir = runDir.getOrElse(
        sys.error("--replace-entities requires --run-dir (the committed run to upsert into)"))
      println(replaceRun(spark, dir, cfg, repOpt.get.toInt, doEval, pipe = pipeCfg))
      spark.stop()
      return
    }

    val rmOpt = opts.get("--remove-entities")
    if (rmOpt.isDefined) {
      val dir = runDir.getOrElse(
        sys.error("--remove-entities requires --run-dir (the committed run to retract from)"))
      println(removalRun(spark, dir, cfg, rmOpt.get.toInt, doEval, pipe = pipeCfg))
      spark.stop()
      return
    }

    val addOpt = opts.get("--add-entities")
    if (addOpt.isDefined) {
      val dir = runDir.getOrElse(
        sys.error("--add-entities requires --run-dir (the committed base run to extend)"))
      val addCfg = cfg.copy(numEntities = addOpt.get.toInt,
        seed = opts.getOrElse("--add-seed", (cfg.seed + 1000).toString).toLong)
      println(incrementRun(spark, dir, cfg, addCfg, doEval, pipe = pipeCfg))
      spark.stop()
      return
    }

    val t0 = System.nanoTime()
    val docs = DocGen.docs(spark, cfg).toDF().cache()
    val nDocs = docs.count()
    val res = EntityResolution.run(spark, docs, pipeCfg, runDir = runDir, resume = resume)
    val nClusters = res.assignments.select("cluster_id").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9

    val evalJson = if (doEval) {
      val gold = DocGen.gold(spark, cfg).toDF()
      val labeled = EntityResolution.labeledPairs(res.blocking, gold)
      val m = Eval.pairwiseF1(res.assignments, labeled)
      val eq = Eval.clusterEquality(res.assignments, gold)
      val (_, _, r3) = Eval.rankAtK(res.scoredPairs, gold, 3)
      val (gpTotal, gpBlocked, gpMissed) = Eval.blockingTail(labeled, gold)
      // --sweep: re-blend the committed channel scores over a (γ_text,
      // threshold) grid (reference AMPI.scala:371-421) — one aggregation
      // pass for F1 across the whole grid, plus rank@3 per γ (ranking is
      // threshold-free). The labeled universe is the blocking-derived one.
      val sweepJson = if (flags.contains("--sweep")) {
        import org.apache.spark.sql.functions.col
        val sc = EntityResolution.PipelineConfig().scoring
        val labeledP = labeled.persist()
        val scoredP = res.scoredPairs.persist()
        val gammas = (0 to 10).map(_ / 10.0) :+ sc.gammaText
        val thresholds = Seq(0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8)
        val pts = Eval.sweepBlend(scoredP, labeledP, sc, gammas, thresholds)
        // ONE persisted symmetric channel view serves the whole γ grid:
        // each grid point re-blends by projection + its bounded top-k agg,
        // instead of re-shuffling the full pair union per γ
        val symChans = Eval.symmetricPairs(scoredP,
          Seq("sim_text", "sim_media", "sim_align", "media_usable", "vetoed")).persist()
        val rank3 = gammas.map { g =>
          val reblended = symChans.withColumn("score",
            graft.operators.PairScoring.blendColumn(
              col("sim_text"), col("sim_media"), col("sim_align"),
              col("media_usable"), col("vetoed"), sc, g))
            .select(col("doc_id"), col("other"), col("score"))
          val (_, _, r) = Eval.rankAtKSym(reblended, gold, 3)
          f"""{"gamma_text":$g%.2f,"rank_at_3":$r%.6f}"""
        }
        symChans.unpersist(); labeledP.unpersist(); scoredP.unpersist()
        s""","sweep":[${pts.map(_.json).mkString(",")}],"sweep_rank":[${rank3.mkString(",")}]"""
      } else ""
      s""","f1":${m.f1},"precision":${m.precision},"recall":${m.recall},""" +
        s""""rank_at_3":$r3,"cluster_equality":$eq,""" +
        s""""gold_pairs_total":$gpTotal,"gold_pairs_blocked":$gpBlocked,""" +
        s""""gold_pairs_missed":$gpMissed$sweepJson"""
    } else ""
    val counters = res.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(
      s"""{"docs":$nDocs,"clusters":$nClusters,"cc_iterations":${res.ccIterations},""" +
      s""""seconds":$secs,"docs_per_sec":${nDocs / secs},"counters":$counters$evalJson}""")
    spark.stop()
  }
}
