package graft.pipeline

import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.operators.{Blocking, ClusterAudit, ClusterMerge, ConnectedComponents, DriverBound,
  PairScoring}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end entity-resolution pipeline (north rule):
  * blocking → batched pairwise scoring → transitive clustering, each stage
  * committed as a resumable snapshot with per-partition lineage + counters.
  *
  * Reference lifecycle analogue: AMPI.main (SURVEY.md §3.1) — dimension
  * broadcast, blocking flatMap, per-pair scoring, argmax + accuracy — with
  * the driver-side collect() of the full AP dataset (AMPI.scala:209)
  * replaced by distributed equi-joins on block keys.
  */
object EntityResolution {

  /** Aux snapshot stages committed by checkpointed batch runs ALONGSIDE the
    * three main stages — the durable base the incremental path
    * ([[addDocuments]]) reads so it never re-scans a committed document:
    *
    *  - `block_hot`: raw (block_key, doc_id) membership of every over-cap
    *    key (the blocking snapshot itself carries only the derived
    *    refinement/chain rows for those keys);
    *  - `doc_features`: per-doc weight-independent scoring features + the
    *    two refinement hashes (doc_id, refine0, refine1, txt, tok_ids,
    *    m_ids, x_ids) — the materialized token table;
    *  - `media_df`: (mid, df) media-token document frequencies, with the
    *    corpus size in the manifest counter `n_docs` — idf weights are
    *    re-derived as ln(1 + n_docs/df) so an increment reproduces batch
    *    weights EXACTLY after merging in the new docs' frequencies.
    */
  val StageBlockHot = "block_hot"
  val StageDocFeatures = "doc_features"
  val StageMediaDf = "media_df"

  /** Standing pair TOMBSTONES written by [[auditRepair]]: pairs the audit
    * cut as false-merge bridges. Later increments derive "fresh" pairs by
    * anti-joining candidates against the committed scored set — a cut pair
    * is no longer IN that set, so without the tombstones an increment
    * touching its block would innocently re-derive, re-score, and
    * re-accept it, silently undoing the repair. Every fresh-pair
    * derivation therefore also anti-joins this stage (LSM delete-tombstone
    * semantics). O(cuts) rows — broadcast-sized by construction.
    */
  val StageAuditTombstones = "audit_tombstones"

  /** Standing PROMOTION LEDGER written by [[mergeRepair]]: the ORIGINAL
    * (pre-promotion) rows of every pair the merge audit promoted above
    * threshold. The promotion itself lives in scored_pairs (the pairs'
    * committed scores are rewritten to ≥ promoteScore — see
    * [[graft.operators.ClusterMerge]] for why that one representation
    * choice makes every accepted-edge consumer honor the merge with zero
    * new code paths); this stage is the audit trail that preserves what
    * the scorer actually said. O(promotions) rows.
    */
  val StageMergePromotions = "merge_promotions"

  final case class PipelineConfig(
      /** 12 bands × 4 minhash rows: same-entity recall per band ≈ j⁴
        * (0.9⁴ ≈ 0.66 → miss prob (1−0.66)¹² ≈ 2.6e-6) while halving the
        * false-candidate rate of 3-row bands on hot-token collisions
        * (false P per band j⁴ vs j³ at the junk-pair jaccard ~0.35) */
      numBands: Int = 12,
      rowsPerBand: Int = 4,
      maxBlockSize: Int = 64,
      /** token-set minhash bands; 0 disables the family, -1 = default */
      tokenBands: Int = 0,
      scoreThreshold: Double = 0.60,
      scoring: PairScoring.ScoreConfig = PairScoring.ScoreConfig(),
      maxCcIter: Int = 50)

  final case class Result(
      assignments: DataFrame,
      scoredPairs: DataFrame,
      blocking: DataFrame,
      ccIterations: Int,
      counters: Map[String, Long],
      private[pipeline] val toked: Option[DataFrame] = None,
      private[pipeline] val featMediaCache: Option[DataFrame] = None,
      private[pipeline] val ccCheckpointIds: Set[Int] = Set.empty) {
    /** Release EVERY cache a run materializes — the cached blocking
      * output, the shared tokenized relation, the scoring stage's
      * media-token cache, and the CC loop's final localCheckpoint — so
      * repeated runs in one session (sweep loops, services) cannot
      * accumulate leaked storage (PipelineSpec asserts zero surviving
      * persistent RDDs). After release(), `blocking`/`scoredPairs`
      * recompute from source; in a NON-checkpointed run (`runDir` unset)
      * `assignments` must not be reused — its backing localCheckpoint has
      * truncated lineage and is gone (checkpointed runs re-read parquet).
      */
    def release(): Unit = release(keepAssignments = false)

    /** keepAssignments=true frees every cache EXCEPT the CC loop's final
      * checkpoint, so the returned `assignments` stay readable — for
      * callers that hand the lazy relation onward (q36-as-query). The
      * kept checkpoint is one row per doc and lives until the session
      * ends or the caller frees it.
      */
    def release(keepAssignments: Boolean): Unit = {
      blocking.unpersist()
      toked.foreach(_.unpersist())
      featMediaCache.foreach(_.unpersist())
      if (!keepAssignments)
        ccCheckpointIds.foreach(id =>
          blocking.sparkSession.sparkContext.getPersistentRDDs.get(id)
            .foreach(_.unpersist(false)))
    }
  }


  /** Prefer shuffled-hash over sort-merge joins for the duration of one
    * pipeline verb (optimization guide §3.1/§9: "allow shuffled hash join
    * when it fits"): the verbs' equi-joins (block census, feature
    * attach, candidate self-join, evidence joins) are hash-friendly —
    * both sides' per-partition builds are bounded — and the sort phases
    * they replace are exactly the memory-bandwidth cost that inflates at
    * higher thread counts (measured: −7% wall at BOTH 1 and 4 threads,
    * with the larger absolute cut on the 4-thread side — stage census in
    * OPTIMIZATION_r06.md). Planner/size-condition gated: joins whose
    * build side cannot be bounded stay sort-merge, so this is a
    * preference, never a correctness or OOM bet. Saved/restored like the
    * CC loop's conf overrides.
    */
  private def beginFastJoins(spark: SparkSession): String = {
    val prev = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    prev
  }
  private def endFastJoins(spark: SparkSession, prev: String): Unit =
    spark.conf.set("spark.sql.join.preferSortMergeJoin", prev)

  /** Run the full pipeline. When `runDir` is given, each stage is committed
    * as a snapshot and `resume=true` skips already-committed stages
    * (byte-identical reuse — the resume gate of FIXTURES.md §6).
    */
  def run(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig = PipelineConfig(),
          runDir: Option[String] = None, runId: String = "run0",
          resume: Boolean = false): Result = {
    val fjPrev = beginFastJoins(spark)
    try runBody(spark, docs, cfg, runDir, runId, resume)
    finally endFastJoins(spark, fjPrev)
  }

  private def runBody(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig,
          runDir: Option[String], runId: String, resume: Boolean): Result = {

    def staged(stage: String, counters: => Map[String, Long])(compute: => DataFrame): (DataFrame, Map[String, Long]) =
      runDir match {
        case Some(dir) =>
          val cached = if (resume) Snapshots.loadCommitted(spark, dir, stage) else None
          cached match {
            case Some(df) => (df, Map(s"${stage}_resumed" -> 1L))
            case None =>
              val df = compute
              val c = counters
              val committed = Snapshots.commit(spark, df, dir, stage, runId, c)
              df.unpersist() // stage is durable now; drop any cache the compute left
              (spark.read.parquet(committed.path), c)
          }
        case None => (compute, counters)
      }

    // the shared tokenized relation: ONE span-extraction pass over the
    // source feeds blocking and scoring (Blocking.tokenized); the flat
    // (doc_id, toks, md) cache is far cheaper to rescan than the
    // nested-struct span table
    var tokedRef: Option[DataFrame] = None
    def toked: DataFrame = tokedRef.getOrElse {
      val t = Blocking.tokenized(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      tokedRef = Some(t)
      t
    }

    // stage 1: blocking (in runDir mode the raw hot-key membership rides
    // along for the block_hot aux snapshot)
    var blockCounters = Map.empty[String, Long]
    var hotRowsRef: Option[DataFrame] = None
    val (blocking, c1) = staged("blocking", blockCounters) {
      val o = Blocking.blockTokenizedFull(toked, cfg.numBands, cfg.rowsPerBand,
        cfg.maxBlockSize, cfg.tokenBands, withHotRows = runDir.isDefined)
      blockCounters = o.counters
      hotRowsRef = o.hotRows
      o.rows
    }
    // aux: block_hot — committed only when the blocking stage computed
    // fresh (a resumed blocking stage either already has it, or the base
    // run predates the incremental stages and addDocuments will fail loud)
    for (dir <- runDir; h <- hotRowsRef) {
      if (Snapshots.lastCommitted(dir, StageBlockHot).isEmpty)
        Snapshots.commit(spark, h.select(col("block_key"), col("doc_id")),
          dir, StageBlockHot, runId, Map("hot_rows" -> h.count()))
      h.unpersist()
      hotRowsRef = None
    }

    // stage 2: scoring — idf weights computed distributedly and joined in
    // as per-doc hash-encoded arrays (no driver dictionary at any corpus
    // size); tokenization runs once per materialization via the shared
    // media-token exchange inside PairScoring.features (ReuseExchange)
    var scoreCounters = Map.empty[String, Long]
    var featCacheRef: Option[DataFrame] = None
    var featRef: Option[PairScoring.Features] = None
    var nDocsScored = 0L
    val (scored, c2) = staged("scored_pairs", scoreCounters) {
      val candidates = Blocking.candidatePairs(blocking)
      // corpus size from the persisted tokenized cache — the source table
      // itself is scanned exactly ONCE per run (into `toked`)
      val nDocs = toked.count()
      val f = PairScoring.featuresTokenized(toked, nDocs, cfg.scoring)
      featCacheRef = f.mediaTokenCache
      featRef = Some(f)
      nDocsScored = nDocs
      val s = PairScoring.scoreFeatures(spark, f.feats, candidates, cfg.scoring).toDF()
      scoreCounters = Map("docs_scored_against" -> nDocs)
      s
    }
    // aux: doc_features + media_df (the incremental base) — written while
    // the tokenized + media-token caches are still alive, only when the
    // scoring stage computed fresh and the aux stage is absent
    for (dir <- runDir; f <- featRef; mtok <- f.mediaTokenCache) {
      if (Snapshots.lastCommitted(dir, StageDocFeatures).isEmpty) {
        val stored = PairScoring.storedFeatures(toked, mtok, cfg.scoring)
          .join(Blocking.docRefine(toked), "doc_id")
          .select("doc_id", "refine0", "refine1", "txt", "tok_ids", "m_ids", "x_ids")
        Snapshots.commit(spark, stored, dir, StageDocFeatures, runId,
          Map("n_docs" -> nDocsScored))
      }
      if (Snapshots.lastCommitted(dir, StageMediaDf).isEmpty)
        f.dfRel.foreach(d => Snapshots.commit(spark, d, dir, StageMediaDf, runId,
          Map("n_docs" -> nDocsScored)))
    }
    // in runDir mode every consumer of the tokenized + media-token caches
    // is durable now — drop them here rather than at release()
    if (runDir.isDefined) {
      tokedRef.foreach(_.unpersist()); tokedRef = None
      featCacheRef.foreach(_.unpersist()); featCacheRef = None
    }

    // stage 3: clustering
    var ccIters = 0
    var ccCounters = Map.empty[String, Long]
    var ccCkptIds = Set.empty[Int]
    val (assignments, c3) = staged("cluster_assignments", ccCounters) {
      val edges = scored
        .where(col("score") >= cfg.scoreThreshold)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      // node universe WITHOUT a second source scan: the live tokenized
      // cache in uncheckpointed runs; the just-committed doc_features
      // parquet in runDir runs (the cache is already dropped there — the
      // aux stage holds exactly one row per doc); the raw docs projection
      // only as the last resort (resumed pre-incremental-stage histories)
      val allIds = tokedRef.map(_.select(col("doc_id")))
        .orElse(runDir.flatMap(dir => Snapshots.loadCommitted(spark, dir, StageDocFeatures))
          .map(_.select(col("doc_id"))))
        .getOrElse(docs.select(col("doc_id")))
      // pairsPreDeduped: candidatePairs groupBys on (doc_id_a, doc_id_b),
      // so each unordered pair reaches scoring exactly once — CC can skip
      // its initial edge-dedup shuffle
      val cc = ConnectedComponents.assignAllTracked(spark, allIds, edges, cfg.maxCcIter,
        pairsPreDeduped = true)
      ccIters = cc.iterations
      ccCkptIds = cc.checkpointIds
      ccCounters = Map("cc_iterations" -> cc.iterations.toLong)
      cc.assignments
    }
    // in runDir mode the assignments are durable parquet now — the CC
    // loop's final checkpoint has no remaining consumer
    if (runDir.isDefined) {
      ccCkptIds.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      ccCkptIds = Set.empty
    }

    Result(assignments, scored, blocking, ccIters, c1 ++ c2 ++ c3, tokedRef, featCacheRef, ccCkptIds)
  }

  /** INCREMENTAL ER: extend a committed checkpointed run with `newDocs`
    * WITHOUT re-reading any committed document — the operation a standing
    * 100 TB deployment actually performs (daily arrivals against a
    * petabyte-scale committed corpus; a full batch re-run per increment is
    * the scalability cliff). Commits a NEW snapshot of every stage, so the
    * run directory becomes a time-travel log: snapshot K-1 is the corpus
    * before the increment, snapshot K after (Main --snapshot-id reads
    * either). Reference analogue: the reference re-runs its whole monthly
    * pipeline per data drop (AMPI.main, SURVEY §3.1) — this is the
    * snapshot-based replacement.
    *
    * The committed blocking structure is FROZEN — no committed row moves,
    * no committed pair is re-derived; new docs route into the existing
    * structure (committed hot keys via their deterministic refinement
    * sub-keys + a salted splice chain to the key's committed
    * representative), every stage commits an O(|new|)-sized DELTA snapshot
    * (merge-on-read), and ALL compute/shuffle/write is O(|new| + |their
    * blocks| + |fresh pairs| + |active components|). Recall for new docs is
    * within a hair of batch (sub-block membership is deterministic per doc;
    * connectivity floors are spliced), and precision divergence is
    * bounded: a committed-small key that crosses the cap only via merged
    * growth stays uncapped until compaction.
    *
    * Against a batch run over (committed ∪ new):
    *  - fresh pairs are scored with idf weights from the MERGED document
    *    frequencies (media_df + the new docs'), i.e. exactly the weights
    *    the batch run computes — a fresh pair the batch run also derives
    *    scores bit-equal to it (IncrementalSpec asserts this);
    *  - committed pairs keep their committed channel scores (idf drift per
    *    token is ln((1+N'/df')/(1+N/df)), second-order for any token worth
    *    weight), and clustering is MERGE-MONOTONE: committed components
    *    enter the CC loop as star edges, so committed merges are never
    *    revisited.
    * The batch [[run]] over the union is the exact counterpart and the
    * semantic compaction: it re-derives blocking, pairs, weights and
    * clusters from the current corpus. Run it when a history must be
    * indistinguishable from batch — an increment that re-derives every
    * touched hot key to match it costs O(hot corpus) and measured slower
    * than the re-run (BENCH/BASELINE.md, round 5).
    *
    * Requires the base run to have been committed by a checkpointed run()
    * of this build (which writes block_hot/doc_features/media_df); fails
    * loud otherwise. `newDocs` doc_ids must be disjoint from the committed
    * corpus (checked).
    */
  def addDocuments(spark: SparkSession, newDocs: DataFrame, runDir: String,
                   cfg: PipelineConfig = PipelineConfig(), runId: String = "incr"): Result = {
    val fjPrev = beginFastJoins(spark)
    try addDocumentsInsert(spark, newDocs, runDir, cfg, runId)
    finally endFastJoins(spark, fjPrev)
  }

  /** The six core stages move in LOCKSTEP: every completed verb — the batch
    * run, the increment, removal, upsert halves, and the audits (via their
    * no-op deltas) — commits each exactly once, so unequal last-committed
    * ids mean some verb crashed mid-commit-sequence. The
    * non-self-recovering verbs refuse such a history loudly instead of
    * silently operating on drift: a crashed mergeRepair, for example,
    * leaves accepted cross-cluster pairs (scored_pairs ahead of
    * cluster_assignments) that would otherwise relabel a removal's
    * survivors into a cluster id whose own doc was never moved.
    * Recovery: re-run the interrupted audit verb (auditRepair/mergeRepair
    * converge to their end state via dedup-append + the drift rule) or
    * [[graft.streaming.StreamingIngest.repair]] to trim an interrupted
    * increment back to the common floor.
    */
  private val LockstepStages = Seq("blocking", StageBlockHot, StageMediaDf, StageDocFeatures,
    "scored_pairs", "cluster_assignments")

  private def lockstepIds(runDir: String): Seq[(String, Long)] =
    LockstepStages.flatMap(s => Snapshots.lastCommitted(runDir, s).map(s -> _))

  private def requireStagesLockstep(runDir: String, verb: String): Unit = {
    val ids = lockstepIds(runDir)
    require(ids.map(_._2).distinct.size <= 1,
      s"$verb: stages are at unequal snapshot ids " +
        s"(${ids.map { case (s, id) => s"$s=$id" }.mkString(", ")}) — a verb was " +
        "interrupted mid-commit-sequence and this history is in a drift state. Run " +
        "StreamingIngest.repair(runDir) to trim the stages that ran ahead, then re-run the " +
        "interrupted verb (a crashed mergeRepair may instead be re-run directly — its drift " +
        "rule converges without the trim)")
  }

  /** Broadcast a standing-ledger stage's relation only while its committed
    * row count stays within [[DriverBound.MaxRows]], read FREE from the
    * stage's manifest instead of paying a count() job (the ledgers grow
    * monotonically over a deployment's lifetime; an unconditional
    * broadcast would eventually OOM the driver on a pathological history).
    */
  private def gatedLedger(runDir: String, stage: String, df: DataFrame): DataFrame =
    DriverBound.broadcastWithin(df, Snapshots.lastRows(runDir, stage).getOrElse(0L))

  /** Plan-hygiene shared by the incremental verbs: fail-loud
    * committed-stage loads; explicit broadcast gating where AQE cannot see
    * post-aggregation sizes ([[DriverBound.MaxRows]] — caller must have
    * persisted/pinned `df` first since gating counts it); eager
    * localCheckpoint pinning of derived hubs (increments derive MANY small
    * relations from each other — left as plain plans their logical trees
    * nest multiplicatively and per-action plan stringification alone
    * becomes heap-exhausting; pinning truncates the plan to the
    * materialized rows, ids tracked and freed via [[releasePins]] before
    * the verb returns — same LogicalRDD-id tracking as the CC loop); and
    * coarse per-phase stderr ticks.
    */
  private final class IncrContext(spark: SparkSession, runDir: String, verb: String) {
    def requireLockstep(): Unit = requireStagesLockstep(runDir, verb)
    def loadStage(stage: String): DataFrame =
      Snapshots.loadCommitted(spark, runDir, stage).getOrElse(sys.error(
        s"$verb: no committed '$stage' snapshot under $runDir — the base must be a " +
          "checkpointed batch run of this build (run() with runDir commits the incremental " +
          s"base stages $StageBlockHot/$StageDocFeatures/$StageMediaDf alongside the main three)"))
    def gated(df: DataFrame): DataFrame = DriverBound.broadcastWithin(df, df.count())
    private val pinnedIds = scala.collection.mutable.Set.empty[Int]
    def pin(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(true)
      pinnedIds ++= ck.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
      ck
    }
    private var tickNs = System.nanoTime()
    def tick(phase: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[$verb] $phase%-14s ${(now - tickNs) / 1e9}%.1f s")
      tickNs = now
    }
    def releasePins(): Unit = pinnedIds.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  /** The increment's mechanism (see [[addDocuments]] for its contract):
    * frozen committed structure, O(delta) end-to-end.
    *
    *  - blocking: new docs' keys split on committed hot membership. Keys
    *    NOT committed-hot route through the batch cap logic over the NEW
    *    rows alone ([[Blocking.routeKeyed]] — a brand-new flood key still
    *    gets refined/chained; a committed-small key whose merged membership
    *    grows past the cap only gradually passes raw, deferring
    *    merge-growth capping to compaction). A committed-small key this ONE
    *    batch floods past the cap is the exception: it splices like a
    *    committed-hot key, to a representative chosen from its COMMITTED
    *    members (routing it through routeKeyed would refine/chain the new
    *    rows among themselves, never meeting the committed members' raw
    *    rows — a silent disconnect; and block_hot would then record a
    *    new-docs-only membership that mis-routes every later increment).
    *    Keys that ARE committed-hot
    *    emit [[Blocking.hotInsertRows]] (deterministic sub-keys + splice
    *    chain). The union is an APPEND-ONLY delta snapshot.
    *  - pairs: only blocks a delta row touches can create a pair involving
    *    a new doc, so candidates come from one equi-join over (delta rows ∪
    *    committed rows at delta keys); pairs already committed (old↔old in
    *    an unchanged block) are anti-joined away. Fresh pairs are scored
    *    with idf weights from the MERGED document frequencies and appended
    *    as a delta — committed pairs and their channels never move.
    *  - clustering: only components ADJACENT to a fresh ≥-threshold edge
    *    (plus all new docs) enter the CC loop, their committed merges riding
    *    in as star edges; the delta removes active cluster ids and adds
    *    their re-labeled assignments plus the new docs.
    *
    * media_df stays a FULL commit (O(vocab) — tiny next to any doc-sized
    * table).
    */
  private def addDocumentsInsert(spark: SparkSession, newDocs: DataFrame, runDir: String,
                                 cfg: PipelineConfig, runId: String): Result = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ctx = new IncrContext(spark, runDir, "addDocuments/ins")
    import ctx.{loadStage, gated, pin, tick}
    ctx.requireLockstep()
    val oldBlocking = loadStage("blocking")
    val oldScored = loadStage("scored_pairs")
    val oldAssign = loadStage("cluster_assignments")
    val oldFeatures = loadStage(StageDocFeatures)
    val oldHot = loadStage(StageBlockHot)
    val oldDf = loadStage(StageMediaDf)
    val nOld = Snapshots.lastCounters(runDir, StageMediaDf).getOrElse("n_docs",
      sys.error(s"addDocuments: $StageMediaDf manifest lacks the n_docs counter"))

    val toked = Blocking.tokenized(newDocs).persist(MEMORY_AND_DISK)
    val nNew = toked.count()
    val dups = toked.select("doc_id").join(oldFeatures.select("doc_id"), "doc_id").count()
    require(dups == 0,
      s"addDocuments: $dups new doc_ids already exist in the committed corpus (increments must be disjoint)")
    tick("tokenize+dup")

    // ---- blocking: frozen committed structure, append-only delta.
    // Broadcast gates in this verb reuse counts the verb already holds
    // (manifest rows, delta counts) instead of paying one count() job per
    // gate — the round-6 VerbJobsProbe showed the increment wall is
    // job-count-bound, not data-bound (DriverBound everywhere).
    val newKeyed = pin(Blocking.keyedDocs(toked, cfg.numBands, cfg.rowsPerBand, cfg.tokenBands))
    val hotKeys = pin(oldHot.select("block_key").distinct())
    // distinct hot keys ≤ committed block_hot rows, known free from the
    // manifest
    val hotKeysB = DriverBound.broadcastWithin(hotKeys,
      Snapshots.lastRows(runDir, StageBlockHot).getOrElse(Long.MaxValue))
    val inHot = pin(newKeyed.join(hotKeysB, "block_key")
      .select(col("block_key"), col("doc_id"), col("refine0"), col("refine1")))
    val nInHot = inHot.count()
    val notHot = pin(newKeyed.join(hotKeysB, Seq("block_key"), "left_anti"))
    // COMMITTED-SMALL keys this one batch floods past the cap (arrival
    // bursts of one entity): routeKeyed over the new rows alone would cap
    // them into refinement/chain keys that never meet the committed members
    // — the committed rows at the key are RAW, not refined, so no candidate
    // pair between an arrival and a committed member would ever derive, and
    // the new-docs-only membership written to block_hot would make every
    // LATER increment splice to a flood-doc representative, permanently
    // disconnecting the original members. Treat them exactly like
    // committed-hot keys: splice-chain to the key's committed representative
    // (min committed doc_id) — the key IS hot now; its members just predate
    // that. The committed membership probe is one pruned raw-key scan
    // gated on floodKeys being non-empty, so the common flood-free
    // increment pays only the tiny per-key count below.
    val floodKeys = pin(notHot.groupBy("block_key")
      .agg(count(lit(1)).as("n_new"))
      .where(col("n_new") > cfg.maxBlockSize).select("block_key"))
    val nFloodKeysNew = floodKeys.count()
    val hasFloods = nFloodKeysNew > 0
    // the common flood-free increment provably has EMPTY flood relations —
    // derive them as lazy limit(0)s and skip their pins/counts/joins
    // entirely (bit-identical: no flood key ⇒ no committed member at one ⇒
    // no splice rows), instead of running ~5 jobs over empty inputs
    val committedAtFlood =
      if (!hasFloods) oldBlocking.select(col("block_key"), col("doc_id")).limit(0)
      else pin(oldBlocking.where(Blocking.isRawKey(col("block_key")))
        .join(DriverBound.broadcastWithin(floodKeys, nFloodKeysNew), "block_key")
        .select(col("block_key"), col("doc_id")))
    val spliceKeysB =
      if (!hasFloods) committedAtFlood.select("block_key").limit(0)
      else gated(pin(committedAtFlood.select("block_key").distinct()))
    val inSmallFlood =
      if (!hasFloods) notHot.limit(0)
      else pin(notHot.join(spliceKeysB, "block_key")
        .select(col("block_key"), col("doc_id"), col("refine0"), col("refine1")))
    val nSmallFlood = if (!hasFloods) 0L else inSmallFlood.count()
    val route = Blocking.routeKeyed(
      if (!hasFloods) notHot
      else notHot.join(spliceKeysB, Seq("block_key"), "left_anti"),
      cfg.maxBlockSize, withHotRows = true)
    val routeRows = pin(route.rows)
    route.rows.unpersist()
    val routeHot = pin(route.hotRows.get)
    route.hotRows.get.unpersist()
    val touchedHot = pin(inHot.select("block_key").distinct())
    // distinct touched hot keys ≤ the already-counted inHot rows
    val touchedHotB = DriverBound.broadcastWithin(touchedHot, nInHot)
    val reps = oldHot.join(touchedHotB, "block_key")
      .groupBy("block_key").agg(min(col("doc_id")).as("rep"))
      .unionByName(committedAtFlood.groupBy("block_key").agg(min(col("doc_id")).as("rep")))
    // the chain salt must be UNIQUE per increment: n_docs is non-monotonic
    // once removals exist (a same-sized upsert reuses it, colliding this
    // increment's chain keys with a committed increment's); the blocking
    // stage's next snapshot id strictly increases with every commit
    val chainSalt = Snapshots.lastCommitted(runDir, "blocking").getOrElse(-1L) + 1L
    val hotRows = pin(Blocking.hotInsertRows(inHot.unionByName(inSmallFlood), reps, chainSalt,
      cfg.maxBlockSize))
    val deltaRows = pin(routeRows.unionByName(hotRows))
    val deltaCount = deltaRows.count()
    val nFloodKeys =
      if (!hasFloods) 0L else committedAtFlood.select("block_key").distinct().count()
    val nFloodCommittedRows = if (!hasFloods) 0L else committedAtFlood.count()
    val baseBlockC = Snapshots.lastCounters(runDir, "blocking")
    def baseC(k: String): Long = baseBlockC.getOrElse(k, 0L)
    val blockCounters = Map(
      "blocking_rows" -> (baseC("blocking_rows") + deltaCount),
      "capped_block_keys" ->
        (baseC("capped_block_keys") + route.counters("capped_block_keys") + nFloodKeys),
      "capped_doc_rows" -> (baseC("capped_doc_rows") + route.counters("capped_doc_rows")
        + nInHot + nSmallFlood + nFloodCommittedRows),
      "refined_subblocks_kept" ->
        (baseC("refined_subblocks_kept") + route.counters("refined_subblocks_kept")),
      "insert_hot_rows" -> (nInHot + nSmallFlood)) ++
      // history marker: the manifest keeps recording that this run has had
      // removals, across later inserts
      baseBlockC.get("removed_docs").map("removed_docs" -> _)
    val baseBlockRows = Snapshots.lastRows(runDir, "blocking").getOrElse(baseC("blocking_rows"))
    Snapshots.commitDelta(spark, deltaRows, None, runDir, "blocking", runId,
      blockCounters, baseBlockRows + deltaCount)
    // block_hot stays the full raw membership of every hot key: a
    // newly-flooded committed-small key contributes BOTH its new rows and
    // its committed raw members, so the next increment's representative
    // (min doc_id over block_hot) can be a committed doc
    val hotAdds = routeHot.select(col("block_key"), col("doc_id"))
      .unionByName(inHot.select(col("block_key"), col("doc_id")))
      .unionByName(inSmallFlood.select(col("block_key"), col("doc_id")))
      .unionByName(committedAtFlood.select(col("block_key"), col("doc_id")))
    val baseHotRows = Snapshots.lastCounters(runDir, StageBlockHot).getOrElse("hot_rows", 0L)
    val hotAddsN = route.counters("capped_doc_rows") + nInHot + nSmallFlood + nFloodCommittedRows
    Snapshots.commitDelta(spark, hotAdds, None, runDir, StageBlockHot, runId,
      Map("hot_rows" -> (baseHotRows + hotAddsN)), baseHotRows + hotAddsN)
    val blocking = loadStage("blocking")
    tick("blocking")

    // ---- fresh candidate pairs from the delta's touched blocks only
    val deltaKeys = pin(deltaRows.select("block_key").distinct())
    val oldAtKeys = oldBlocking.join(DriverBound.broadcastWithin(deltaKeys, deltaCount), "block_key")
      .select(col("block_key"), col("doc_id"))
    val cand = Blocking.candidatePairs(
      deltaRows.select(col("block_key"), col("doc_id")).unionByName(oldAtKeys))
    val fresh0 = cand.join(oldScored.select("doc_id_a", "doc_id_b"),
      Seq("doc_id_a", "doc_id_b"), "left_anti")
    // audit tombstones: a pair auditRepair cut must not be re-derived as
    // "fresh" just because this increment touched its block
    val fresh = pin(Snapshots.loadCommitted(spark, runDir, StageAuditTombstones)
      .fold(fresh0)(ts => fresh0.join(gatedLedger(runDir, StageAuditTombstones, ts),
        Seq("doc_id_a", "doc_id_b"), "left_anti")))
    tick("pairs")

    // ---- features: merged document frequencies give EXACT batch idf
    // weights; weight re-attachment runs only over docs in fresh pairs
    val nTotal = nOld + nNew
    val mtokNew = PairScoring.mediaTokenRows(toked, cfg.scoring.exclusivePrefix)
      .persist(MEMORY_AND_DISK)
    val dfNew = mtokNew.groupBy("mid").agg(count(lit(1)).as("df"))
    val dfMerged = oldDf.select(col("mid"), col("df").as("df_old"))
      .join(dfNew.select(col("mid"), col("df").as("df_new")), Seq("mid"), "full_outer")
      .select(col("mid"),
        (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_new"), lit(0L))).as("df"))
    val cDf = Snapshots.commit(spark, dfMerged, runDir, StageMediaDf, runId,
      Map("n_docs" -> nTotal))
    val w = spark.read.parquet(cDf.path)
      .select(col("mid"), log1p(lit(nTotal.toDouble) / col("df")).as("w"))
    val newStored = PairScoring.storedFeatures(toked, mtokNew, cfg.scoring)
      .join(Blocking.docRefine(toked), "doc_id")
      .select("doc_id", "refine0", "refine1", "txt", "tok_ids", "m_ids", "x_ids")
    Snapshots.commitDelta(spark, newStored, None, runDir, StageDocFeatures, runId,
      Map("n_docs" -> nTotal), nTotal)
    val docsNeeded = pin(fresh.select(col("doc_id_a").as("doc_id"))
      .unionByName(fresh.select(col("doc_id_b").as("doc_id"))).distinct())
    val featsNeeded = pin(PairScoring.featuresFromStored(
      loadStage(StageDocFeatures).join(gated(docsNeeded), "doc_id"), w))
    tick("features")

    // ---- scoring: fresh pairs only, appended as a delta
    val scoredFresh = pin(PairScoring.scoreFeatures(spark, featsNeeded, fresh, cfg.scoring)
      .toDF())
    val nFresh = scoredFresh.count()
    val basePairRows = Snapshots.lastRows(runDir, "scored_pairs").getOrElse(0L)
    Snapshots.commitDelta(spark, scoredFresh, None, runDir, "scored_pairs", runId,
      Map("docs_scored_against" -> nTotal, "pairs_fresh" -> nFresh), basePairRows + nFresh)
    val scored = loadStage("scored_pairs")
    tick("scoring")

    // ---- clustering: only components ADJACENT to a fresh >= threshold
    // edge (plus all new docs) enter the CC loop — their committed merges
    // ride in as star edges (merge-monotone). Identical to running CC over
    // (all stars + fresh edges): a component with no fresh edge reproduces
    // itself (its star IS its fixpoint, cluster_id = min doc_id), so
    // excluding it changes nothing. The delta removes active cluster ids,
    // adds their re-labeled assignments plus the new docs
    val freshEdges = pin(scoredFresh.where(col("score") >= cfg.scoreThreshold)
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst")))
    // endpoints ≤ 2·nFresh and active clusters ≤ endpoints — both bounded
    // by the fresh-pair count the scoring phase already took
    def freshGate(df: DataFrame): DataFrame =
      if (nFresh <= DriverBound.MaxRows / 2) broadcast(df) else df
    val endpoints = pin(freshEdges.select(col("src").as("doc_id"))
      .unionByName(freshEdges.select(col("dst").as("doc_id"))).distinct())
    val activeCl = pin(oldAssign.join(freshGate(endpoints), "doc_id")
      .select("cluster_id").distinct())
    val activeClB = freshGate(activeCl)
    val activeOld = pin(oldAssign.join(activeClB, "cluster_id"))
    val starActive = activeOld.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("src"), col("cluster_id").as("dst"))
    val ccNodes = activeOld.select(col("doc_id")).unionByName(toked.select(col("doc_id")))
    val cc = ConnectedComponents.assignAllTracked(spark, ccNodes,
      freshEdges.unionByName(starActive), cfg.maxCcIter, pairsPreDeduped = false)
    Snapshots.commitDelta(spark, cc.assignments, Some((activeCl, Seq("cluster_id"))),
      runDir, "cluster_assignments", runId,
      Map("cc_iterations" -> cc.iterations.toLong), nTotal)
    cc.releaseCheckpoints(spark)
    val assignments = loadStage("cluster_assignments")
    tick("clustering")

    toked.unpersist(); mtokNew.unpersist()
    ctx.releasePins()

    Result(assignments, scored, blocking, cc.iterations,
      blockCounters ++ Map("docs_added" -> nNew, "docs_total" -> nTotal,
        "pairs_fresh" -> nFresh, "cc_iterations" -> cc.iterations.toLong,
        "insert_mode" -> 1L))
  }

  /** RETRACTION: remove committed documents from a checkpointed run WITHOUT
    * re-reading the surviving corpus — the takedown/right-to-be-forgotten
    * operation a standing deployment performs (remove N docs from a
    * petabyte-scale committed corpus; a batch re-run per takedown batch is
    * the same scalability cliff [[addDocuments]] exists to avoid). Commits
    * a new DELTA snapshot of every stage (v3 keyed removes + adds), so the
    * run directory stays a time-travel log — but note the removed docs'
    * rows remain READABLE at pre-removal snapshot ids until those snapshots
    * are aged out of the directory (physical deletion is snapshot-dir
    * retirement, not this operation).
    *
    * Structure-frozen like insert mode (and composable with it — removals
    * and inserts interleave on one history):
    *
    *  - blocking / block_hot / doc_features: every row of a removed doc is
    *    keyed-removed (doc_id); no committed survivor row moves. A hot key
    *    whose membership falls back under the cap stays refined/chained
    *    until a batch run (the semantic compaction) re-derives it.
    *  - media_df: document frequencies decrement by the removed docs'
    *    stored m_ids; `n_docs` shrinks. Committed pairs keep their
    *    committed channels (same contract as inserts: idf drift is
    *    second-order); pairs scored by LATER increments use the shrunk
    *    corpus statistics.
    *  - scored_pairs: every committed pair touching a removed doc is
    *    keyed-removed — retraction removes the doc's testimony from the
    *    evidence set, it never merely masks it.
    *  - clustering: clusters containing a removed doc are recomputed by CC
    *    over the SURVIVING committed ≥-threshold edges — deliberately NOT
    *    the merge-monotone star edges of the insert path, which would
    *    preserve connectivity THROUGH the removed doc. A cluster held
    *    together only by a removed bridge doc splits, exactly as a batch
    *    run over the survivors would split it. Untouched clusters keep
    *    their committed assignment (a component with no removed member
    *    loses no edge, so it is its own fixpoint).
    *  - SPLICE HEALING: inside a hot block the committed pair universe is
    *    sub-quadratic (refinement + chains), so two survivors of the same
    *    entity can be connected ONLY through a removed doc even though a
    *    batch run over the survivors would re-chain them. For each removed
    *    doc, its surviving strong neighbors are therefore chained
    *    consecutively and those candidate pairs RE-SCORED with the real
    *    scorer (stored features + current merged idf weights, block-key
    *    family [[Blocking.Family.Heal]]): connectivity is restored exactly
    *    where the scorer still vouches for it without the removed doc's
    *    testimony, and a false hub that bridged different entities heals
    *    nothing (the heal pairs score below threshold and the split
    *    stands). O(lost-edge endpoints) pairs, appended to the scored
    *    delta like any evidence.
    *
    * All compute/shuffle is O(|removed| + |their pairs| + |active
    * components| + |heal candidates|). Fails loud when a requested doc_id
    * is not in the committed corpus. Increments continue fine after a
    * removal.
    */
  def removeDocuments(spark: SparkSession, docIds: DataFrame, runDir: String,
                      cfg: PipelineConfig = PipelineConfig(),
                      runId: String = "remove"): Result = {
    val fjPrev = beginFastJoins(spark)
    try removeDocumentsBody(spark, docIds, runDir, cfg, runId)
    finally endFastJoins(spark, fjPrev)
  }

  private def removeDocumentsBody(spark: SparkSession, docIds: DataFrame, runDir: String,
                      cfg: PipelineConfig, runId: String): Result = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ctx = new IncrContext(spark, runDir, "removeDocuments")
    import ctx.{loadStage, gated, pin, tick}
    ctx.requireLockstep()
    val oldBlocking = loadStage("blocking")
    // scored_pairs is this operation's dominant relation and feeds ~6
    // actions below (retraction, lost-edge derivation, heal anti-join,
    // surviving-edge derivation): persist the RESOLVED relation once so a
    // deep delta chain's merge-on-read is not re-executed per consumer
    val oldScored = loadStage("scored_pairs").persist(MEMORY_AND_DISK)
    val oldAssign = loadStage("cluster_assignments")
    val oldFeatures = loadStage(StageDocFeatures)
    val oldHot = loadStage(StageBlockHot)
    val oldDf = loadStage(StageMediaDf)
    val nOld = Snapshots.lastCounters(runDir, StageMediaDf).getOrElse("n_docs",
      sys.error(s"removeDocuments: $StageMediaDf manifest lacks the n_docs counter"))

    // count once, gate every derived broadcast on that one number (the
    // verb was job-count-bound; gated() pays one count job per call)
    val removed = pin(docIds.select(col("doc_id")).distinct())
    val nRemoved = removed.count()
    def rmGate(df: DataFrame): DataFrame = DriverBound.broadcastWithin(df, nRemoved)
    val removedB = rmGate(removed)
    require(nRemoved > 0, "removeDocuments: empty doc_id set")
    val unknown = removed.join(oldFeatures.select("doc_id"), Seq("doc_id"), "left_anti").count()
    require(unknown == 0,
      s"removeDocuments: $unknown requested doc_ids are not in the committed corpus")
    val nTotal = nOld - nRemoved
    tick("resolve+check")

    // ---- blocking + block_hot: keyed remove of every row of a removed doc
    // (raw, refined, and chain rows all belong to their doc)
    val removedBlockRows = oldBlocking.join(removedB, "doc_id").count()
    val removedHotRows = oldHot.join(removedB, "doc_id").count()
    val baseBlockC = Snapshots.lastCounters(runDir, "blocking")
    def baseC(k: String): Long = baseBlockC.getOrElse(k, 0L)
    val blockCounters = Map(
      "blocking_rows" -> (baseC("blocking_rows") - removedBlockRows),
      "capped_block_keys" -> baseC("capped_block_keys"),
      "capped_doc_rows" -> math.max(0L, baseC("capped_doc_rows") - removedHotRows),
      "refined_subblocks_kept" -> baseC("refined_subblocks_kept"),
      "removed_docs" -> (baseC("removed_docs") + nRemoved)) ++
      // and the insert history marker survives removals
      baseBlockC.get("insert_hot_rows").map("insert_hot_rows" -> _)
    val baseBlockRows = Snapshots.lastRows(runDir, "blocking").getOrElse(baseC("blocking_rows"))
    // empty-adds deltas repartition(1) so the data dir always holds ONE
    // schema-bearing parquet file (a 0-partition write would leave the
    // delta's adds unreadable)
    Snapshots.commitDelta(spark, oldBlocking.limit(0).repartition(1),
      Some((removed, Seq("doc_id"))),
      runDir, "blocking", runId, blockCounters, baseBlockRows - removedBlockRows)
    val baseHotRows = Snapshots.lastCounters(runDir, StageBlockHot).getOrElse("hot_rows", 0L)
    Snapshots.commitDelta(spark, oldHot.limit(0).repartition(1), Some((removed, Seq("doc_id"))),
      runDir, StageBlockHot, runId,
      Map("hot_rows" -> (baseHotRows - removedHotRows)), baseHotRows - removedHotRows)
    val blocking = loadStage("blocking")
    tick("blocking")

    // ---- features: decrement document frequencies by the removed docs'
    // stored media ids (mediaTokens is distinct per doc, so each m_ids
    // element is exactly one df count); doc_features keyed-removes the docs
    val dfRemoved = oldFeatures.join(removedB, "doc_id")
      .select(explode(col("m_ids")).as("mid"))
      .groupBy("mid").agg(count(lit(1)).as("df_rm"))
    val dfMerged = oldDf.join(dfRemoved, Seq("mid"), "left")
      .select(col("mid"), (col("df") - coalesce(col("df_rm"), lit(0L))).as("df"))
      .where(col("df") > 0)
    val cDf = Snapshots.commit(spark, dfMerged, runDir, StageMediaDf, runId,
      Map("n_docs" -> nTotal))
    Snapshots.commitDelta(spark, oldFeatures.limit(0).repartition(1),
      Some((removed, Seq("doc_id"))),
      runDir, StageDocFeatures, runId, Map("n_docs" -> nTotal), nTotal)
    val newFeatures = loadStage(StageDocFeatures)
    tick("features")

    // ---- scored pairs: retract every pair touching a removed doc; then
    // splice-heal — chain each removed doc's surviving strong neighbors
    // consecutively and re-score those candidates (current corpus weights)
    val rmA = rmGate(removed.select(col("doc_id").as("doc_id_a")))
    val rmB2 = rmGate(removed.select(col("doc_id").as("doc_id_b")))
    val rmPairs = pin(oldScored.join(rmA, "doc_id_a").select("doc_id_a", "doc_id_b")
      .unionByName(oldScored.join(rmB2, "doc_id_b").select("doc_id_a", "doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b"))
    val nRmPairs = rmPairs.count()
    val strong = oldScored.where(col("score") >= cfg.scoreThreshold)
      .select("doc_id_a", "doc_id_b")
    // connectivity may run THROUGH a chain of removed docs (k1–r1–r2–k2
    // with r1 AND r2 removed): group the removed docs over removed↔removed
    // strong edges and bridge each GROUP's surviving neighborhood — healing
    // per removed doc alone would never emit the (k1,k2) candidate and the
    // cluster would silently split where a batch run keeps it whole. The
    // grouping CC runs over the removed subgraph only: O(removed pairs)
    val rmEdges = strong.join(rmA, "doc_id_a").join(rmB2, "doc_id_b")
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
    // the removed subgraph is DELTA-sized by contract and both its bounds
    // are already counted (nRemoved; rmEdges ⊆ rmPairs): within
    // DriverBound the grouping runs as a driver union-find (identical
    // labels, ~15 fewer fixed jobs); beyond it, the distributed loop
    val rmGroupsAssign =
      if (nRemoved <= DriverBound.MaxRows && nRmPairs <= DriverBound.MaxRows)
        ConnectedComponents.assignAllDriver(spark, removed.select("doc_id"), rmEdges)
      else {
        val rmCc = ConnectedComponents.assignAllTracked(spark, removed.select("doc_id"),
          rmEdges, cfg.maxCcIter, pairsPreDeduped = true)
        val a = pin(rmCc.assignments)
        rmCc.releaseCheckpoints(spark)
        a
      }
    val rmGroups = pin(rmGroupsAssign
      .select(col("doc_id").as("gone"), col("cluster_id").as("grp")))
    val lost = pin(
      strong.join(rmA, "doc_id_a").join(rmB2, Seq("doc_id_b"), "left_anti")
        .select(col("doc_id_a").as("gone"), col("doc_id_b").as("kept"))
      .unionByName(
        strong.join(rmB2, "doc_id_b").join(rmA, Seq("doc_id_a"), "left_anti")
          .select(col("doc_id_b").as("gone"), col("doc_id_a").as("kept")))
      // the same survivor can neighbor several docs of one group — dedup or
      // the window would chain a survivor to itself
      .join(rmGate(rmGroups), "gone")
      .select("grp", "kept").dropDuplicates("grp", "kept"))
    // neighbors sorted lexicographically, so consecutive pairs are already
    // canonical (a < b); |N|-1 pairs per removed GROUP reconnect exactly
    // what the group connected, subject to re-scoring
    val wNext = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("kept")
    val healCand = pin(lost
      .select(col("kept"), lead(col("kept"), 1).over(wNext).as("next"))
      .where(col("next").isNotNull)
      .select(col("kept").as("doc_id_a"), col("next").as("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
      .join(oldScored.select("doc_id_a", "doc_id_b"), Seq("doc_id_a", "doc_id_b"), "left_anti")
      // a pair auditRepair tombstoned must not come back as a heal bridge
      .transform(df => Snapshots.loadCommitted(spark, runDir, StageAuditTombstones)
        .fold(df)(ts => df.join(gatedLedger(runDir, StageAuditTombstones, ts),
          Seq("doc_id_a", "doc_id_b"), "left_anti")))
      .withColumn("block_key",
        Blocking.famTag(Blocking.Family.Heal, xxhash64(col("doc_id_a"), col("doc_id_b")))))
    val w = spark.read.parquet(cDf.path)
      .select(col("mid"), log1p(lit(nTotal.toDouble) / col("df")).as("w"))
    val healDocs = pin(healCand.select(col("doc_id_a").as("doc_id"))
      .unionByName(healCand.select(col("doc_id_b").as("doc_id"))).distinct())
    val featsHeal = pin(PairScoring.featuresFromStored(
      newFeatures.join(gated(healDocs), "doc_id"), w))
    val scoredHeal = pin(PairScoring.scoreFeatures(spark, featsHeal, healCand, cfg.scoring)
      .toDF())
    val nHeal = scoredHeal.count()
    val basePairRows = Snapshots.lastRows(runDir, "scored_pairs").getOrElse(0L)
    Snapshots.commitDelta(spark, scoredHeal, Some((rmPairs, Seq("doc_id_a", "doc_id_b"))),
      runDir, "scored_pairs", runId,
      Map("docs_scored_against" -> nTotal, "pairs_removed" -> nRmPairs,
        "heal_pairs_scored" -> nHeal),
      basePairRows - nRmPairs + nHeal)
    val scored = loadStage("scored_pairs")
    tick("pairs+heal")

    // ---- clustering: recompute ONLY clusters containing a removed doc,
    // over their SURVIVING strong edges plus the heal edges (no committed
    // star edges — they would preserve connectivity through removed docs)
    val activeCl = pin(oldAssign.join(removedB, "doc_id").select("cluster_id").distinct())
    val survActive = pin(oldAssign.join(rmGate(activeCl), "cluster_id")
      .join(removedB, Seq("doc_id"), "left_anti"))
    val sA = gated(survActive.select(col("doc_id").as("doc_id_a")))
    // a committed pair's endpoints share a cluster, so "a surviving-active,
    // b not removed" puts both endpoints in the surviving-active set
    val edgesCommitted = strong.join(sA, "doc_id_a")
      .join(rmB2, Seq("doc_id_b"), "left_anti")
    val healEdges = scoredHeal.where(col("score") >= cfg.scoreThreshold)
      .select("doc_id_a", "doc_id_b")
    val edges = edgesCommitted.unionByName(healEdges)
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
    // committed pairs are unique and heal pairs were anti-joined against
    // them, so the union is pair-unique — CC skips its initial dedup
    val cc = ConnectedComponents.assignAllTracked(spark, survActive.select("doc_id"), edges,
      cfg.maxCcIter, pairsPreDeduped = true)
    val baseAssignRows = Snapshots.lastRows(runDir, "cluster_assignments").getOrElse(nOld)
    Snapshots.commitDelta(spark, cc.assignments, Some((activeCl, Seq("cluster_id"))),
      runDir, "cluster_assignments", runId,
      Map("cc_iterations" -> cc.iterations.toLong), baseAssignRows - nRemoved)
    cc.releaseCheckpoints(spark)
    val assignments = loadStage("cluster_assignments")
    val clustersActive = activeCl.count()
    tick("clustering")

    ctx.releasePins()
    oldScored.unpersist(false)

    Result(assignments, scored, blocking, cc.iterations,
      blockCounters ++ Map("docs_removed" -> nRemoved, "docs_total" -> nTotal,
        "pairs_removed" -> nRmPairs, "heal_pairs_scored" -> nHeal,
        "clusters_recomputed" -> clustersActive,
        "cc_iterations" -> cc.iterations.toLong))
  }

  /** AUDIT-REPAIR (the fourth incremental verb): post-clustering
    * cluster-quality audit over a committed run — find clusters glued by
    * near-threshold BRIDGE pairs ([[ClusterAudit]]: a false merge is one
    * accepted cross-entity pair joining two dense subgraphs; its pairwise
    * false-positive cost is |A|·|B|) and cut them.
    *
    * When the audit cuts nothing, NOTHING is committed (the run history
    * does not grow) and the returned counters say so
    * (`audit_committed = 0`). When it cuts:
    *
    *  - scored_pairs: the cut pairs are keyed-RETRACTED (a delta snapshot
    *    — the audit removes the bridge's testimony, it never merely
    *    relabels around it), and
    *  - [[StageAuditTombstones]] records them durably, so later insert/
    *    heal increments cannot innocently re-derive and re-accept a cut
    *    pair when an arrival touches its block (LSM delete-tombstone
    *    semantics — tombstones are deliberate divergence from a batch run
    *    over the corpus, which would re-derive the cut pairs);
    *  - cluster_assignments: every cut cluster's docs are re-labeled to
    *    min doc_id of their side (a delta snapshot; untouched clusters
    *    never move).
    *
    * All compute is O(≥-threshold edges) for the one census join + cogroup
    * and O(changed clusters) after; idempotent — re-running the audit on
    * an audited history finds the cut bridges gone and commits nothing.
    *
    * Crash recovery: commits land scored_pairs → tombstones → no-op stage
    * deltas → cluster_assignments (last, so streaming's run_id certificate
    * stays sound). A crash mid-sequence leaves stages at unequal ids, and
    * THIS verb — unlike [[mergeRepair]], whose drift rule converges on its
    * own crashed state — cannot finish from its intermediate state: once
    * the scored_pairs retraction is committed without the relabel, the cut
    * cluster's accepted-edge graph is DISCONNECTED and a re-run would hit
    * the audit's report-never-repair branch and silently commit nothing.
    * So the verb REFUSES a drift-state history at entry (same guard as the
    * increments). Recovery: [[graft.streaming.StreamingIngest.repair]]
    * trims back to the common floor (undoing the partial retraction), then
    * re-run — the tombstone stage (not an increment stage, never trimmed)
    * may retain the crashed attempt's cut records, which is safe: the
    * re-run re-cuts, and the tombstone commit dedups against the standing
    * records so the stage's rows/counters stay exact.
    */
  def auditRepair(spark: SparkSession, runDir: String,
                  audit: ClusterAudit.AuditConfig = ClusterAudit.AuditConfig(),
                  runId: String = "audit", incremental: Boolean = false): Result = {
    val fjPrev = beginFastJoins(spark)
    try auditRepairBody(spark, runDir, audit, runId, incremental)
    finally endFastJoins(spark, fjPrev)
  }

  private def auditRepairBody(spark: SparkSession, runDir: String,
                  audit: ClusterAudit.AuditConfig,
                  runId: String, incremental: Boolean): Result = {
    val ctx = new IncrContext(spark, runDir, "auditRepair")
    import ctx.{loadStage, pin, tick}
    ctx.requireLockstep()
    val oldScored = loadStage("scored_pairs")
    // resolved once, scanned three times (census join, member cogroup,
    // relabel anti-join) — same delta-chain merge-on-read rule as
    // mergeRepair/removeDocuments
    val oldAssign = loadStage("cluster_assignments")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (scopedAssign, scopeCounters) =
      if (incremental) auditScope(spark, runDir, oldAssign) else (oldAssign, Map.empty[String, Long])
    val r = ClusterAudit.repair(scopedAssign, oldScored, audit)
    tick("audit")
    // the watermark is written AFTER all commits (below) — a crash between
    // commit and watermark leaves a stale watermark, which only WIDENS the
    // next audit's scope (idempotent re-audit), never narrows it
    def stampWatermark(): Unit =
      Snapshots.lastCommitted(runDir, "cluster_assignments")
        .foreach(AuditWatermark.write(runDir, _))
    if (r.counters("audit_clusters_cut") == 0L) {
      r.release()
      oldAssign.unpersist()
      stampWatermark()
      Result(oldAssign, oldScored, loadStage("blocking"), 0,
        r.counters ++ scopeCounters + ("audit_committed" -> 0L))
    } else {
      val cutPairs = pin(r.cutPairs)
      val changed = pin(r.changedAssignments)
      val changedCl = pin(r.changedClusters)
      r.release()
      val nCut = cutPairs.count()
      val basePairRows = Snapshots.lastRows(runDir, "scored_pairs").getOrElse(0L)
      val scoredCounters = Snapshots.lastCounters(runDir, "scored_pairs")
      Snapshots.commitDelta(spark, oldScored.limit(0).repartition(1),
        Some((cutPairs, Seq("doc_id_a", "doc_id_b"))),
        runDir, "scored_pairs", runId,
        Map("docs_scored_against" -> scoredCounters.getOrElse("docs_scored_against", 0L),
          "audit_cut_pairs" -> nCut),
        basePairRows - nCut)
      if (Snapshots.lastCommitted(runDir, StageAuditTombstones).isEmpty)
        Snapshots.commit(spark, cutPairs, runDir, StageAuditTombstones, runId,
          Map("tombstoned_pairs" -> nCut))
      else {
        // dedup against the standing tombstones: after a crash-mid-audit +
        // streaming repair (which trims increment stages but not this one),
        // the re-run re-cuts pairs already recorded here — re-appending
        // them would leave the resolved relation holding duplicates and the
        // rows/counter metadata drifted forever (anti-joins would still be
        // correct, the accounting would not)
        val standing = Snapshots.loadCommitted(spark, runDir, StageAuditTombstones).get
        val freshTs = pin(cutPairs.join(standing, Seq("doc_id_a", "doc_id_b"), "left_anti"))
        val nFresh = freshTs.count()
        val baseTs = Snapshots.lastRows(runDir, StageAuditTombstones).getOrElse(0L)
        Snapshots.commitDelta(spark, freshTs, None, runDir, StageAuditTombstones, runId,
          Map("tombstoned_pairs" -> (baseTs + nFresh)), baseTs + nFresh)
      }
      // no-op deltas keep the OTHER increment stages in LOCKSTEP with the
      // two the audit really moves: StreamingIngest certifies batch
      // completeness by "all stages at equal snapshot ids", and its repair
      // verb trims ahead-running stages DESTRUCTIVELY — without these,
      // auditing a streamed run would make the next micro-batch fail loud
      // on a phantom "interrupted increment" (and repair would undo the
      // audit). Empty adds resolve to the unchanged base; compaction
      // collapses them like any delta. cluster_assignments still commits
      // LAST (the streaming certificate keys on it).
      Seq("blocking", StageBlockHot, StageMediaDf, StageDocFeatures)
        .filter(s => Snapshots.lastCommitted(runDir, s).nonEmpty) // partial histories stay auditable
        .foreach { s =>
          Snapshots.commitDelta(spark, loadStage(s).limit(0).repartition(1), None,
            runDir, s, runId, Snapshots.lastCounters(runDir, s),
            Snapshots.lastRows(runDir, s).getOrElse(0L))
        }
      val baseAssignRows = Snapshots.lastRows(runDir, "cluster_assignments").getOrElse(0L)
      Snapshots.commitDelta(spark, changed, Some((changedCl, Seq("cluster_id"))),
        runDir, "cluster_assignments", runId,
        r.counters ++ scopeCounters + ("audit_committed" -> 1L), baseAssignRows)
      tick("commit")
      ctx.releasePins()
      oldAssign.unpersist()
      stampWatermark()
      Result(loadStage("cluster_assignments"), loadStage("scored_pairs"),
        loadStage("blocking"), 0,
        r.counters ++ scopeCounters ++
          Map("audit_cut_pairs_removed" -> nCut, "audit_committed" -> 1L))
    }
  }

  /** RECALL-side audit + repair of a committed run: find FALSE SPLITS —
    * gold entities the pairwise threshold left in separate clusters — via
    * corroborated near-miss evidence bundles between cluster pairs, and
    * commit the merges ([[graft.operators.ClusterMerge]]; the cut audit
    * [[auditRepair]] is the precision-side twin). Commits, in crash-safe
    * order:
    *
    *  - scored_pairs: a delta REPLACING the promoted pairs' rows with
    *    their score rewritten to max(score, promoteScore) — row count
    *    unchanged; every later consumer's `score >= threshold` filter now
    *    accepts them (increments cannot re-derive them either: fresh-pair
    *    derivation anti-joins the committed set, which still holds them);
    *  - [[StageMergePromotions]]: the original rows verbatim (standing
    *    ledger, dedup-appended on crash re-runs like the tombstone stage);
    *  - no-op lockstep deltas on the untouched stages (the streaming
    *    certificate's "all stages at equal ids" invariant, exactly as
    *    [[auditRepair]]);
    *  - cluster_assignments LAST: merged clusters re-labeled to the min
    *    cluster_id of their merged component (= min doc_id of the union,
    *    batch semantics over the promoted edge set).
    *
    * Anti-oscillation is structural in both directions: standing cut-audit
    * tombstones veto any merge across their boundary, and promoted bundles
    * enter the cut audit's graph at ≥ strongScore (trusted structure, never
    * cut). A crash between the scored_pairs commit and the assignments
    * commit leaves accepted cross-cluster edges — the re-run merges those
    * unconditionally via the drift rule without double-promoting, so
    * recovery converges to the same end state.
    *
    * All compute is O(scored rows at score ≥ mergeFloor) for the two
    * endpoint joins + one cluster-pair aggregation, then O(merged
    * clusters) — the maintenance verb's cost follows the near-miss band,
    * not the corpus.
    *
    * Note for `--sweep` consumers: a promoted pair's committed `score` no
    * longer equals the γ-blend of its committed channels (the channels
    * stay honest; the ledger holds the original row) — re-blending sweeps
    * reproduce the scorer's opinion, not the audit's override.
    */
  def mergeRepair(spark: SparkSession, runDir: String,
                  merge: ClusterMerge.MergeConfig = ClusterMerge.MergeConfig(),
                  runId: String = "merge", incremental: Boolean = false): Result = {
    val fjPrev = beginFastJoins(spark)
    try mergeRepairBody(spark, runDir, merge, runId, incremental)
    finally endFastJoins(spark, fjPrev)
  }

  private def mergeRepairBody(spark: SparkSession, runDir: String,
                  merge: ClusterMerge.MergeConfig,
                  runId: String, incremental: Boolean): Result = {
    val ctx = new IncrContext(spark, runDir, "mergeRepair")
    import ctx.{loadStage, pin, tick}
    // persist the RESOLVED relations once: the census scans assignments
    // ~6× (two endpoint joins, tombstone joins, sizes, relabel,
    // anti-join) and scored_pairs twice, and on a delta-chain history
    // every un-persisted scan re-executes the whole merge-on-read
    // resolution (anti-join + union per delta) — the same rule
    // removeDocuments already applies to its dominant relation
    val oldScored = loadStage("scored_pairs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oldAssign = loadStage("cluster_assignments")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tombstones = Snapshots.loadCommitted(spark, runDir, StageAuditTombstones)
    // pre-commit watermark stamp target (see MergeWatermark)
    val entryAssignId = Snapshots.lastCommitted(runDir, "cluster_assignments")
    def stampMergeWatermark(): Unit = entryAssignId.foreach(MergeWatermark.write(runDir, _))
    // ---- incremental scoping: restrict the census to cluster pairs with
    // at least one endpoint touched since the last merge watermark. The
    // scan is O(delta adds); the evidence passed to the census is the
    // touched set's 2-HOP neighborhood (every scored row with an endpoint
    // doc in a cluster adjacent to a touched cluster), which is exactly
    // enough for the scoped rows' band counts, triangle-closure witnesses
    // AND hub degrees to equal the full census's (MergeRepairSpec asserts
    // scoped == full on a touched subset) — out-of-scope pairs sit at
    // their previous merge fixpoint and are dropped after contributing
    // adjacency. The recurring cadence cost therefore follows the
    // ARRIVAL rate, not the committed scored-pair volume. Falls back
    // LOUDLY to full (merge_scope_full_fallback) on: no watermark, a
    // non-compaction full snapshot in range, a drift-state history (a
    // crashed mergeRepair's clusters never reached the commit log — only
    // the full pass's drift rule sees them), or a scope too large for
    // DriverBound (touched clusters, their docs, the 2-hop clusters or
    // their docs).
    val (scoredForMerge, scopeOpt, scopeCounters): (DataFrame, Option[DataFrame], Map[String, Long]) =
      if (!incremental) (oldScored, None, Map.empty[String, Long])
      else {
        val fullFb = (oldScored, None,
          Map("merge_incremental" -> 1L, "merge_scope_full_fallback" -> 1L))
        val inLockstep = lockstepIds(runDir).map(_._2).distinct.size <= 1
        if (!inLockstep) fullFb
        else MergeWatermark.touchedSince(spark, runDir) match {
          case None => fullFb
          case Some(touched0) =>
            val touched = pin(touched0)
            val nTouched = touched.count()
            if (nTouched > DriverBound.MaxRows) fullFb
            else if (nTouched == 0L) {
              // idle cadence point: nothing changed since the last merge
              // audit — commit nothing, stamp, one log scan total
              ctx.releasePins()
              oldScored.unpersist(); oldAssign.unpersist()
              stampMergeWatermark()
              return Result(oldAssign, oldScored, loadStage("blocking"), 0,
                Map("merge_incremental" -> 1L, "merge_scope_clusters" -> 0L,
                  "merge_cluster_pairs_seen" -> 0L, "merge_cluster_pairs_qualified" -> 0L,
                  "merge_committed" -> 0L))
            } else {
              val vetoCol =
                if (oldScored.columns.contains("vetoed")) col("vetoed") else lit(false)
              val evFloor = oldScored.where(col("score") >= merge.mergeFloor || vetoCol)
              // docs per touched cluster are unbounded: count the pinned
              // docs before broadcasting them
              val touchedDocs = pin(oldAssign.join(broadcast(touched), "cluster_id")
                .select("doc_id"))
              if (touchedDocs.count() > DriverBound.MaxRows) fullFb
              else {
                val tdA = broadcast(touchedDocs.select(col("doc_id").as("doc_id_a"))
                  .withColumn("fa", lit(true)))
                val tdB = broadcast(touchedDocs.select(col("doc_id").as("doc_id_b"))
                  .withColumn("fb", lit(true)))
                val ev1 = evFloor.join(tdA, Seq("doc_id_a"), "left")
                  .join(tdB, Seq("doc_id_b"), "left")
                  .where(col("fa").isNotNull || col("fb").isNotNull).drop("fa", "fb")
                val aSide = oldAssign.select(col("doc_id").as("doc_id_a"), col("cluster_id").as("ca"))
                val bSide = oldAssign.select(col("doc_id").as("doc_id_b"), col("cluster_id").as("cb"))
                val c2 = pin(ev1.join(aSide, "doc_id_a").join(bSide, "doc_id_b")
                  .select(explode(array(col("ca"), col("cb"))).as("cluster_id"))
                  .unionByName(touched).distinct())
                if (c2.count() > DriverBound.MaxRows) fullFb
                else {
                  val c2docs = pin(oldAssign.join(broadcast(c2), "cluster_id").select("doc_id"))
                  if (c2docs.count() > DriverBound.MaxRows) fullFb
                  else {
                    val cdA = broadcast(c2docs.select(col("doc_id").as("doc_id_a"))
                      .withColumn("ga", lit(true)))
                    val cdB = broadcast(c2docs.select(col("doc_id").as("doc_id_b"))
                      .withColumn("gb", lit(true)))
                    // floor-filtered is sufficient: the merge reads its input
                    // only through crossEvidence (floor ∪ vetoed) and the
                    // promotion-ledger semi-join (band rows ⊂ floor)
                    val scoped = pin(evFloor.join(cdA, Seq("doc_id_a"), "left")
                      .join(cdB, Seq("doc_id_b"), "left")
                      .where(col("ga").isNotNull || col("gb").isNotNull).drop("ga", "gb"))
                    (scoped, Some(touched),
                      Map("merge_incremental" -> 1L, "merge_scope_clusters" -> nTouched))
                  }
                }
              }
            }
        }
      }
    val r = ClusterMerge.merge(oldAssign, scoredForMerge, tombstones, merge,
      scope = scopeOpt)
    tick("merge-audit")
    if (r.counters("merge_cluster_pairs_qualified") == 0L) {
      r.release()
      ctx.releasePins()
      oldScored.unpersist(); oldAssign.unpersist()
      stampMergeWatermark()
      Result(oldAssign, oldScored, loadStage("blocking"), 0,
        r.counters ++ scopeCounters + ("merge_committed" -> 0L))
    } else {
      val promoted = pin(r.promotedPairs)
      val ledger = pin(r.promotionLedger)
      val changed = pin(r.changedAssignments)
      val changedCl = pin(r.changedClusters)
      r.release()
      val nPromoted = promoted.count()
      val basePairRows = Snapshots.lastRows(runDir, "scored_pairs").getOrElse(0L)
      val scoredCounters = Snapshots.lastCounters(runDir, "scored_pairs")
      // REPLACE the promoted pairs' rows: removes keyed by the pair, adds =
      // the promoted twins. Row count is unchanged by construction.
      Snapshots.commitDelta(spark, promoted,
        Some((promoted.select("doc_id_a", "doc_id_b"), Seq("doc_id_a", "doc_id_b"))),
        runDir, "scored_pairs", runId,
        Map("docs_scored_against" -> scoredCounters.getOrElse("docs_scored_against", 0L),
          "merge_promoted_pairs" -> nPromoted),
        basePairRows)
      if (Snapshots.lastCommitted(runDir, StageMergePromotions).isEmpty)
        Snapshots.commit(spark, ledger, runDir, StageMergePromotions, runId,
          Map("promoted_pairs" -> nPromoted))
      else {
        // dedup against the standing ledger (crash re-runs; same accounting
        // argument as the tombstone stage)
        val standing = Snapshots.loadCommitted(spark, runDir, StageMergePromotions).get
        val fresh = pin(ledger.join(standing.select("doc_id_a", "doc_id_b"),
          Seq("doc_id_a", "doc_id_b"), "left_anti"))
        val nFresh = fresh.count()
        val baseLed = Snapshots.lastRows(runDir, StageMergePromotions).getOrElse(0L)
        Snapshots.commitDelta(spark, fresh, None, runDir, StageMergePromotions, runId,
          Map("promoted_pairs" -> (baseLed + nFresh)), baseLed + nFresh)
      }
      // lockstep no-op deltas (see auditRepair for why; assignments LAST)
      Seq("blocking", StageBlockHot, StageMediaDf, StageDocFeatures)
        .filter(s => Snapshots.lastCommitted(runDir, s).nonEmpty)
        .foreach { s =>
          Snapshots.commitDelta(spark, loadStage(s).limit(0).repartition(1), None,
            runDir, s, runId, Snapshots.lastCounters(runDir, s),
            Snapshots.lastRows(runDir, s).getOrElse(0L))
        }
      val baseAssignRows = Snapshots.lastRows(runDir, "cluster_assignments").getOrElse(0L)
      Snapshots.commitDelta(spark, changed, Some((changedCl, Seq("cluster_id"))),
        runDir, "cluster_assignments", runId,
        r.counters + ("merge_committed" -> 1L), baseAssignRows)
      tick("commit")
      ctx.releasePins()
      oldScored.unpersist(); oldAssign.unpersist()
      stampMergeWatermark()
      Result(loadStage("cluster_assignments"), loadStage("scored_pairs"),
        loadStage("blocking"), 0,
        r.counters ++ scopeCounters ++
          Map("merge_committed" -> 1L, "merge_promoted_pairs" -> nPromoted))
    }
  }

  /** Scope of an `incremental = true` [[auditRepair]]: the assignments rows
    * of clusters TOUCHED since the last audit's watermark
    * ([[Watermark.touchedSince]]). Each unaudited delta's raw adds carry
    * the full membership of every cluster that commit changed (all four
    * verbs re-commit a cluster whenever its accepted-edge set gains or
    * loses an edge: inserts/removals re-label every ACTIVE cluster, the
    * audit re-labels every CUT cluster), and the previous audit left every
    * other cluster at its per-cluster cut fixpoint
    * ([[graft.functions.GraphKernels.weakCutRepair]] iterates until no
    * bundle qualifies), so unscoped clusters cannot hold a qualifying cut.
    * The audit's join+cogroup then shuffles only the scoped clusters'
    * members and edges — the cadence audit's cost follows the ARRIVAL
    * rate, not the corpus size. Falls back LOUDLY to the full corpus
    * (`audit_scope_full_fallback`) wherever the watermark gives no scope.
    */
  private def auditScope(spark: SparkSession, runDir: String,
                         oldAssign: DataFrame): (DataFrame, Map[String, Long]) =
    AuditWatermark.touchedSince(spark, runDir) match {
      case None => (oldAssign, Map("audit_scope_full_fallback" -> 1L))
      case Some(touched) =>
        val nTouched = touched.count()
        (oldAssign.join(DriverBound.broadcastWithin(touched, nTouched), Seq("cluster_id"),
          "left_semi"),
          Map("audit_incremental" -> 1L, "audit_scope_clusters" -> nTouched))
    }

  /** A scoped audit verb's watermark: the cluster_assignments snapshot id
    * through which the verb last examined the clustering, kept in `file`
    * under the run dir as `{"<key>":id}`. Lives OUTSIDE the snapshot log —
    * losing or clearing it is always safe (the next incremental pass just
    * falls back to a full one).
    */
  private[graft] final class Watermark(file: String, key: String) {
    private def path(runDir: String) = java.nio.file.Paths.get(runDir, file)

    def read(runDir: String): Option[Long] = {
      val p = path(runDir)
      if (!java.nio.file.Files.exists(p)) None
      else ("\"" + key + "\"\\s*:\\s*(\\d+)").r
        .findFirstMatchIn(java.nio.file.Files.readString(p)).map(_.group(1).toLong)
    }

    def write(runDir: String, id: Long): Unit = {
      val tmp = java.nio.file.Paths.get(runDir, s"$file.tmp${ProcessHandle.current().pid()}")
      java.nio.file.Files.writeString(tmp, s"""{"$key":$id}""")
      java.nio.file.Files.move(tmp, path(runDir),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    /** Drop the watermark (the next incremental pass runs full).
      * [[graft.streaming.StreamingIngest.repair]] calls this after trimming
      * snapshots: a watermark pointing into trimmed history could otherwise
      * hide a replayed increment's clusters from the scoped pass forever.
      */
    def clear(runDir: String): Unit = java.nio.file.Files.deleteIfExists(path(runDir))

    /** The distinct cluster ids touched since the watermark: the raw adds
      * of every later cluster_assignments delta, an O(delta adds) scan of
      * the commit log. None = run full — no watermark, or a FULL snapshot
      * in range that is not a storage-level compaction (`compacted_from`
      * manifest counter): a batch re-run re-derives everything, so
      * "touched" is undefined across it.
      */
    def touchedSince(spark: SparkSession, runDir: String): Option[DataFrame] = {
      val stage = "cluster_assignments"
      val latest = Snapshots.lastCommitted(runDir, stage).getOrElse(-1L)
      read(runDir).filter(_ <= latest).flatMap { w =>
        val (deltaIds, fullIds) = Snapshots.snapshots(runDir, stage).filter(_ > w)
          .partition(Snapshots.isDelta(runDir, stage, _))
        if (fullIds.exists(!Snapshots.counters(runDir, stage, _).contains("compacted_from"))) None
        else if (deltaIds.isEmpty) {
          import spark.implicits._
          Some(Seq.empty[String].toDF("cluster_id"))
        } else Some(deltaIds.map(id => Snapshots.snapshotAdds(spark, runDir, stage, id)
          .select(col("cluster_id"))).reduce(_ unionByName _).distinct())
      }
    }
  }

  /** Watermark of the last completed cut audit: stamped by [[auditRepair]]
    * AFTER its commits (written full or incremental, cuts or not).
    */
  private[graft] val AuditWatermark = new Watermark("_audit_watermark", "audited_through")

  /** Watermark of the last completed MERGE audit — the cluster_assignments
    * snapshot id as of that audit's ENTRY (deliberately pre-commit, unlike
    * the cut audit's post-commit stamp: a merge changes cluster
    * memberships, and the combined cluster's evidence toward third
    * parties was never judged as a unit — stamping pre-commit keeps the
    * audit's own relabel delta above the watermark so the next scoped
    * cadence point re-judges exactly those clusters).
    */
  private[graft] val MergeWatermark = new Watermark("_merge_watermark", "merged_through")

  /** UPSERT: replace committed documents with new versions (and insert any
    * genuinely new doc_ids in the same call) — the third incremental verb a
    * standing deployment needs (daily feeds carry revisions alongside fresh
    * docs). Composed from the two verbs whose semantics are already proven:
    * the doc_ids of `newVersions` that exist in the committed corpus are
    * retracted via [[removeDocuments]] (testimony of the OLD version leaves
    * the evidence set; its clusters recompute over surviving edges), then
    * ALL of `newVersions` enters as one O(delta) [[addDocuments]] insert
    * increment (the new versions re-block, re-pair, and re-cluster under
    * current corpus statistics). Two delta snapshots per stage on one
    * history; a revision that changes a doc's content MOVES it between
    * clusters exactly as a batch run over the edited corpus would.
    * No-op-free: requires a nonempty `newVersions`.
    */
  def replaceDocuments(spark: SparkSession, newVersions: DataFrame, runDir: String,
                       cfg: PipelineConfig = PipelineConfig(),
                       runId: String = "replace"): Result = {
    val ids = newVersions.select(col("doc_id")).distinct()
    val committed = Snapshots.loadCommitted(spark, runDir, StageDocFeatures).getOrElse(
      sys.error(s"replaceDocuments: no committed '$StageDocFeatures' snapshot under $runDir"))
      .select("doc_id")
    val toRemove = ids.join(committed, Seq("doc_id"), "left_semi")
    val nReplaced = toRemove.count()
    // the retraction half's call-specific counters ride on the returned
    // Result under an rm_ prefix — an upsert that retracts millions of
    // pairs must be distinguishable from a no-op retraction in the metrics
    val rmCounters: Map[String, Long] =
      if (nReplaced == 0) Map.empty
      else {
        val rm = removeDocuments(spark, toRemove, runDir, cfg, runId = s"$runId-rm")
        Seq("pairs_removed", "heal_pairs_scored", "clusters_recomputed")
          .flatMap(k => rm.counters.get(k).map(("rm_" + k) -> _)).toMap
      }
    val ins = addDocuments(spark, newVersions, runDir, cfg, runId = s"$runId-ins")
    ins.copy(counters = ins.counters ++ rmCounters + ("docs_replaced" -> nReplaced))
  }

  /** MAJOR-compact every stage of a committed run: each stage's delta
    * chain is materialized as a full snapshot, so reads stop paying
    * merge-on-read and the next increment's deltas rebase onto compact
    * bases. Storage-level only — assignments/pairs/blocking are
    * bit-identical before and after (CompactionSpec asserts it); run a
    * fresh BATCH over the corpus instead when you also want to re-derive
    * idf weights and hot-key structure from current data (the semantic
    * compaction, see [[addDocuments]]).
    */
  def compactRun(spark: SparkSession, runDir: String, runId: String = "compact"): Unit = {
    // compacting a drift state would bake the drift into the new full
    // snapshots and destroy the trim-based recovery path
    requireStagesLockstep(runDir, "compactRun")
    (Seq("blocking", "scored_pairs", "cluster_assignments",
      StageBlockHot, StageDocFeatures, StageMediaDf) ++
      // tombstones/promotions exist only on audited histories
      Snapshots.lastCommitted(runDir, StageAuditTombstones).map(_ => StageAuditTombstones) ++
      Snapshots.lastCommitted(runDir, StageMergePromotions).map(_ => StageMergePromotions))
      .foreach(stage => Snapshots.compact(spark, runDir, stage, runId))
  }

  /** DESTRUCTIVE: retire old snapshots of every stage, keeping the newest
    * `keepLast` per stage (plus any base a retained delta chain needs — see
    * [[Snapshots.expire]]). The physical-deletion step after a retraction:
    * `removeDocuments` → `compactRun` (the latest snapshot re-materializes
    * without the removed rows) → `expireRun(keepLast = 1)` leaves no copy
    * of the removed docs on disk. Costs time-travel to the expired ids, by
    * design. Returns dropped ids per stage.
    */
  def expireRun(runDir: String, keepLast: Int = 1): Map[String, Seq[Long]] =
    Seq("blocking", "scored_pairs", "cluster_assignments",
      StageBlockHot, StageDocFeatures, StageMediaDf, StageAuditTombstones,
      StageMergePromotions)
      .map(stage => stage -> Snapshots.expire(runDir, stage, keepLast)).toMap

  /** Derive labeled pairs at shared blocking keys (FIXTURES.md §2):
    * candidate pairs from the blocking output, labeled by gold entity
    * equality — the evaluation universe of the F1 gate.
    */
  def labeledPairs(blocking: DataFrame, gold: DataFrame): DataFrame = {
    val pairs = Blocking.candidatePairs(blocking)
    val ga = gold.select(col("doc_id").as("doc_id_a"), col("entity_id").as("ea"))
    val gb = gold.select(col("doc_id").as("doc_id_b"), col("entity_id").as("eb"))
    pairs.join(ga, "doc_id_a").join(gb, "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"), col("block_key"),
        (col("ea") === col("eb")).as("is_match"))
  }
}
