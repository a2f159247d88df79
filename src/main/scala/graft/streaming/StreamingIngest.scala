package graft.streaming

import graft.ckpt.Snapshots
import graft.pipeline.EntityResolution
import graft.pipeline.EntityResolution.PipelineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous ER ingestion: a Structured Streaming surface over the
  * insert-mode increment ([[EntityResolution.addDocuments]]).
  *
  * Each micro-batch of arriving docs becomes one O(delta) increment
  * against the committed run — delta snapshots per stage, frozen
  * committed structure — and every `compactEvery` increments the delta
  * chains are MAJOR-compacted back to full snapshots (the LSM cadence;
  * chains stay short so merge-on-read stays one or two broadcast
  * anti-join/union hops). `foreachBatch` is the right sink shape: the
  * increment is an arbitrary multi-stage batch job with its own atomic
  * commit protocol, not a row-append, and `foreachBatch` hands us exactly
  * the (batch, batchId) replay contract we need.
  *
  * Exactly-once across restarts, from two cooperating layers:
  *  1. Spark's streaming checkpoint (`checkpointLocation`) replays an
  *     unacknowledged micro-batch with the SAME batchId after a crash;
  *  2. batch k's increment publishes one commit record with run id
  *     `stream-k` (its cadence verbs `stream-k-*`), so a latest record of
  *     that run id certifies the batch and the replay skips it.
  * A crash INSIDE an increment publishes no record: the batch replays on
  * the state before it, and [[Snapshots.repair]] (`--repair`, opt-in)
  * sweeps the stage snapshots the crashed increment left.
  *
  * At 100 TB this is the arrival path: the batch run bootstraps the
  * corpus once; per-arrival work is O(batch + touched blocks), the
  * streaming checkpoint and snapshot ledger together survive any
  * single-point crash, and compaction amortizes read cost without ever
  * blocking ingestion (it appends a snapshot like any other commit).
  */
object StreamingIngest {

  /** Every stage an increment commits, in commit order. */
  val Stages: Seq[String] = EntityResolution.LockstepStages

  /** Effective cut-audit config at a cadence point: caller guards ride
    * through; the edge-acceptance threshold ALWAYS follows the pipeline's
    * (an audit reading different evidence than CC accepted would cut
    * against phantom structure).
    */
  private[streaming] def effectiveAudit(cfg: PipelineConfig,
      audit: Option[graft.operators.ClusterAudit.AuditConfig]):
      graft.operators.ClusterAudit.AuditConfig =
    audit.getOrElse(graft.operators.ClusterAudit.AuditConfig())
      .copy(threshold = cfg.scoreThreshold)

  /** Effective merge-audit config at a cadence point. An EXPLICIT config
    * keeps the caller's dials (threshold still follows the pipeline's);
    * the DEFAULT config derives its band RELATIVE to the pipeline
    * threshold — the stock MergeConfig is tuned around threshold 0.60, and
    * copying only the threshold over it would crash the stream at the
    * first cadence point for scoreThreshold <= mergeFloor (0.50), silently
    * shrink the near-miss band for thresholds just above it, and leave
    * promoteScore below an over-0.75 threshold (an unaccepted "promotion").
    * The derived default keeps the stock band width and floors promoteScore
    * at the threshold. Validated eagerly by [[start]].
    */
  private[graft] def effectiveMerge(cfg: PipelineConfig,
      merge: Option[graft.operators.ClusterMerge.MergeConfig]):
      graft.operators.ClusterMerge.MergeConfig = merge match {
    case Some(m) => m.copy(threshold = cfg.scoreThreshold)
    case None =>
      val d = graft.operators.ClusterMerge.MergeConfig()
      d.copy(threshold = cfg.scoreThreshold,
        // derived default preserves the stock band WIDTH (threshold −
        // floor = 0.10), NOT the stock 0.50 floor: any threshold below
        // the stock 0.60 slides the whole band down (thr 0.55 → floor
        // 0.45), widening toward the ~0.35 junk band the minCoverage
        // dial was calibrated against — recalibrate minCoverage if you
        // deploy thresholds below stock (round-5 advice: the earlier
        // comment claimed the floor was kept wherever coherent, which
        // this formula does not do)
        mergeFloor = math.max(0.0, math.min(d.mergeFloor,
          cfg.scoreThreshold - (d.threshold - d.mergeFloor))),
        promoteScore = math.max(d.promoteScore, cfg.scoreThreshold))
  }

  sealed trait BatchOutcome
  /** The increment ran and committed (docs added, fresh pairs scored).
    * `auditCuts` is -1 when this batch was not an audit-cadence point,
    * else the number of weak-bundle edges the audit cut (usually 0).
    */
  final case class Ingested(docsAdded: Long, pairsFresh: Long, compacted: Boolean,
                            auditCuts: Long = -1L, mergeClusters: Long = -1L)
      extends BatchOutcome
  /** Replay of a fully-committed batch, or an empty micro-batch. */
  case object Skipped extends BatchOutcome

  /** Ingest ONE micro-batch (the `foreachBatch` body, callable directly
    * for deterministic tests and for driver-side replay tooling).
    *
    * `auditEvery` (opt-in, 0 = never): every K batches, run
    * [[EntityResolution.auditRepair]] — INCREMENTAL (scoped to clusters
    * touched since the last audit's watermark; the first cadence point has
    * no watermark and audits everything) — after the increment commits: the
    * standing-deployment maintenance cadence, priced by the arrival rate
    * rather than the corpus size. Arrivals accrete
    * near-threshold evidence, so the merge tail GROWS with ingestion; the
    * audit prunes it where it stands (cuts commit as one record with
    * tombstones, so the stream continues uninterrupted and later arrivals
    * cannot re-derive a cut pair). The audit threshold follows
    * `cfg.scoreThreshold`; a replayed batch skips its audit point (the
    * next cadence point audits the same state — the audit is idempotent).
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, runDir: String,
                  batchId: Long, cfg: PipelineConfig = PipelineConfig(),
                  compactEvery: Int = 8, auditEvery: Int = 0,
                  audit: Option[graft.operators.ClusterAudit.AuditConfig] = None,
                  mergeEvery: Int = 0,
                  merge: Option[graft.operators.ClusterMerge.MergeConfig] = None):
      BatchOutcome = {
    val runId = s"stream-$batchId"
    if (Snapshots.lastCommitted(runDir, "cluster_assignments").isEmpty)
      sys.error(s"StreamingIngest: no committed base run under $runDir — bootstrap with " +
        "EntityResolution.run(runDir = Some(...)) before attaching a stream")
    // replay of a fully-committed batch: ack and move on. The certificate
    // matches this batch's run id OR any maintenance commit derived from it
    // ("stream-k-audit" / "stream-k-compact"): a crash AFTER an in-batch
    // audit or compaction committed but BEFORE the streaming checkpoint
    // acked must also read as "batch k done", else the replay re-runs
    // addDocuments and dies on the doc-id disjointness require forever.
    // The "-" separator keeps "stream-1" from matching "stream-10"'s ids.
    val latest = Snapshots.record(runDir).runId
    if (latest == runId || latest.startsWith(runId + "-")) return Skipped
    if (batch.isEmpty) return Skipped
    val res = EntityResolution.addDocuments(spark, batch, runDir, cfg, runId = runId)
    val added = res.counters.getOrElse("docs_added", 0L)
    val fresh = res.counters.getOrElse("pairs_fresh", 0L)
    res.release()
    // audit BEFORE the compaction decision: its deltas deepen the chain,
    // and compaction then collapses audit deltas with the batch's
    val auditCuts =
      if (auditEvery > 0 && (batchId + 1) % auditEvery == 0) {
        val acfg = effectiveAudit(cfg, audit)
        // incremental: scoped to clusters touched since the last audit's
        // watermark (the first cadence point has no watermark and runs
        // full), so the audit's cost follows the arrival rate, not the
        // ever-growing corpus — without this, every K-th batch would pay an
        // O(corpus) join+cogroup even on a perfectly healthy stream
        val a = EntityResolution.auditRepair(spark, runDir, acfg,
          runId = s"$runId-audit", incremental = true)
        a.counters.getOrElse("audit_bridges_cut", 0L)
      } else -1L
    // merge-audit cadence (opt-in, 0 = never): the recall-side twin, also
    // INCREMENTAL — scoped to the 2-hop neighborhood of the clusters
    // touched since the last merge's watermark. Near-miss evidence between
    // two OLD clusters that first qualifies when an arrival adds the
    // second witness stays in scope: the touched set includes the
    // clusters of both endpoints of every scored_pairs delta's evidence
    // adds, so the arrival's band pairs pull both old clusters in. The
    // first cadence point (no watermark) runs full. Runs AFTER the cut
    // audit so fresh tombstones veto same-batch re-merges.
    val mergeClusters =
      if (mergeEvery > 0 && (batchId + 1) % mergeEvery == 0) {
        val mcfg = effectiveMerge(cfg, merge)
        val m = EntityResolution.mergeRepair(spark, runDir, mcfg,
          runId = s"$runId-merge", incremental = true)
        m.counters.getOrElse("merge_clusters_merged", 0L)
      } else -1L
    val compacted = compactEvery > 0 &&
      Snapshots.chainDepth(runDir, "cluster_assignments") >= compactEvery
    if (compacted) EntityResolution.compactRun(spark, runDir, runId = s"$runId-compact")
    Ingested(added, fresh, compacted, auditCuts, mergeClusters)
  }

  /** Attach a streaming source of docs (same schema as the batch corpus)
    * to a committed run and start the ingestion query. Caller owns the
    * returned query (awaitTermination / stop). `trigger` defaults to
    * AvailableNow — drain what has arrived, checkpoint, stop — the shape
    * both the CLI surface and scheduled (cron-style) ingestion want;
    * pass `Trigger.ProcessingTime(...)` for an always-on stream.
    */
  def start(spark: SparkSession, stream: DataFrame, runDir: String,
            cfg: PipelineConfig = PipelineConfig(), compactEvery: Int = 8,
            trigger: Trigger = Trigger.AvailableNow(),
            checkpointLocation: Option[String] = None,
            queryName: String = "graft-er-ingest",
            auditEvery: Int = 0,
            audit: Option[graft.operators.ClusterAudit.AuditConfig] = None,
            mergeEvery: Int = 0,
            merge: Option[graft.operators.ClusterMerge.MergeConfig] = None): StreamingQuery = {
    // cadence configs fail at ATTACH time, not at the first cadence point
    // thousands of committed batches into the stream: the effective merge
    // band must be coherent with the pipeline threshold, and when BOTH
    // repair cadences are on, promoted bundles must read as strong to the
    // cut audit (promoteScore >= strongScore) or the two verbs oscillate
    if (mergeEvery > 0) {
      val m = effectiveMerge(cfg, merge)
      graft.operators.ClusterMerge.validate(m)
      if (auditEvery > 0) {
        val a = effectiveAudit(cfg, audit)
        require(m.promoteScore >= a.strongScore,
          s"merge promoteScore ${m.promoteScore} must be >= the cut audit's strongScore " +
            s"${a.strongScore}: a promoted bundle the cut audit reads as weak re-cuts next " +
            "cadence and the two repairs oscillate")
      }
    }
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointLocation.getOrElse(s"$runDir/_stream_checkpoint"))
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, runDir, batchId, cfg, compactEvery, auditEvery, audit,
            mergeEvery, merge) match {
          case Ingested(n, p, c, a, m) =>
            System.err.println(s"[ingest] batch=$batchId docs=$n pairs_fresh=$p" +
              (if (c) " compacted" else "") +
              (if (a >= 0) s" audit_cuts=$a" else "") +
              (if (m >= 0) s" merge_clusters=$m" else ""))
          case Skipped =>
            System.err.println(s"[ingest] batch=$batchId skipped (empty or replay)")
        }
      }
      .start()
  }
}
