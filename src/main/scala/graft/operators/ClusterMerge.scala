package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Recall-side counterpart of [[ClusterAudit]]: post-clustering FALSE-SPLIT
  * audit and opt-in MERGE REPAIR over the scored-pair evidence.
  *
  * Why it exists: the pairwise threshold is precision's tool, and its cost
  * is recall's tail — a gold entity whose cross pairs all score a hair
  * below threshold stays split forever, and no single pair can ever fix it
  * (each was individually rejected, correctly, at pair scope). Structurally
  * though, a false split is visible BETWEEN clusters the same way a false
  * merge is visible inside one: as a corroborated BUNDLE of near-threshold
  * edges connecting two clusters that nothing vetoes (the 2×/4× headroom
  * checks measured exactly this tail — 19 / 1.2M split entities, attributed
  * to scorer-threshold near-misses, not blocking; BENCH/BASELINE.md). One
  * near-miss is noise; `minEvidence` INDEPENDENT near-misses between the
  * same two clusters — COVERING at least `minCoverage` of the clusters'
  * possible cross pairs — with no tombstone and no hard-conflict veto is
  * an entity the threshold split. (Multiplicity alone is not enough: the
  * gold-labeled census at 571k docs showed junk cluster pairs reaching
  * 2–3 coincidental near-misses through promiscuous hub clusters, but at
  * ≤ 1/3 of their cross-pair opportunity where every true split covered
  * all of its opportunity — see `MergeConfig.minCoverage`.)
  *
  * The repair PROMOTES the corroborating edges: their committed score is
  * rewritten to `max(score, promoteScore)` with `promoteScore ≥` the cut
  * audit's `strongScore`. That single representation choice buys the whole
  * composition story for free:
  *  - every downstream consumer derives accepted edges as
  *    `score >= threshold` (batch CC, insert/heal increments, the cut
  *    audit's cluster graph) — promoted pairs are accepted everywhere with
  *    zero new code paths;
  *  - the cut audit contracts ≥-strong cores before cutting
  *    ([[graft.functions.GraphKernels.weakCutRepair]]) — a promoted bundle
  *    is strong structure by construction, so cut→merge→cut oscillation is
  *    impossible;
  *  - fresh-pair derivation anti-joins committed pairs — a promoted pair is
  *    still IN the committed set, so increments can neither re-derive nor
  *    silently demote it.
  * The pre-promotion rows are preserved verbatim in a standing ledger stage
  * ([[graft.pipeline.EntityResolution.StageMergePromotions]]) — the audit
  * upgrades testimony, it never destroys the original record.
  *
  * Anti-oscillation with the cut audit, the other direction: a cluster pair
  * connected by ANY standing tombstone (a pair [[ClusterAudit]] cut) is
  * NEVER merged, however much band evidence it shows — the cut audit saw
  * that boundary and judged it, and surviving near-misses across it are the
  * same noise it cut. A cluster pair with any hard-conflict-vetoed cross
  * pair (M7, reference AMPI.scala:280,293) is never merged either: the two
  * sides assert disjoint exclusive identities.
  *
  * DRIFT rule (crash recovery + invariant repair): an ACCEPTED
  * (`score >= threshold`) pair whose endpoints sit in different clusters
  * should not exist — CC puts both endpoints of every accepted edge in one
  * cluster. It appears exactly when a merge repair crashed between its
  * scored_pairs commit and its cluster_assignments commit. Such cluster
  * pairs merge unconditionally (the accepted edge IS the clustering
  * invariant) and promote nothing further — a crashed repair re-run
  * converges to the same end state it would have committed.
  *
  * Scale shape: the evidence relation is one filter over scored pairs
  * (`score >= mergeFloor`, plus the rare vetoed rows), joined to the
  * assignments on EACH endpoint (two shuffle joins, O(band + accepted
  * drift) rows — cross-cluster survivors only after the `ca =!= cb`
  * filter), one aggregation on the canonical cluster pair, one map-side-
  * combined cluster-size count over the assignments (for the coverage
  * denominator), and a broadcast-joined relabel of the few merged
  * clusters. The merge graph
  * itself (qualifying cluster pairs) runs through the same
  * [[ConnectedComponents]] loop as the main pipeline — merged components
  * are transitive (A↔B and B↔C evidence merges all three), not pair-local.
  */
object ClusterMerge {

  final case class MergeConfig(
      /** edge acceptance — MUST match the pipeline's scoreThreshold */
      threshold: Double = 0.60,
      /** near-miss band lower bound: evidence is score ∈ [mergeFloor,
        * threshold). Junk cross-entity candidates score well below this
        * (the blocking junk-pair band sits near ~0.35 on this corpus
        * family); same-entity threshold near-misses sit just under the
        * threshold. */
      mergeFloor: Double = 0.50,
      /** minimum independent CORROBORATION of a cluster pair before the
        * split is judged false: direct near-miss edges between the two
        * clusters PLUS their common band-neighbors (clusters with a band
        * edge to both — the triangle-closure witnesses a 1+1+1 entity
        * shatter leaves when each fragment pair has only one possible
        * cross pair). Both forms require coincidence to strike the same
        * cluster pair twice: two junk edges between the same pair, or a
        * junk TRIANGLE — quadratically/cubically rare where one junk
        * near-miss is merely rare. The irreducible floor: a 1+1 split of
        * a two-doc entity has one possible cross pair and no third
        * fragment to witness it — counted loudly in
        * `merge_pairs_below_evidence`, never silently dropped. */
      minEvidence: Int = 2,
      /** minimum BAND COVERAGE: (band + drift edges) / (docs_a · docs_b),
        * evidence relative to the OPPORTUNITY. A genuine threshold-split
        * entity has near-misses on most of its possible cross pairs (every
        * cross pair is a same-entity pair scoring just under threshold);
        * junk between two distinct-entity clusters shares a couple of
        * coincidental near-misses out of many possible pairs. Measured on
        * the 571k-doc skew corpus (tools/MergeCensusProbe): every
        * healable true split sat at coverage 1.0 (2 of 2 possible),
        * every junk cluster pair at ≤ 0.33 (1–3 of 9+) — without this
        * dial, multiplicity alone qualified 19–20 junk pairs (first
        * census / committed-binary re-run; mostly via a few promiscuous
        * hub clusters), a committed false-merge regression.
        * Multiplicity and coverage are complementary: multiplicity kills
        * singleton junk (coverage 1/1 = 1.0 on one junk edge), coverage
        * kills hub/big-cluster junk (two 50-doc clusters would need 1,250
        * junk band edges to reach 0.5). */
      minCoverage: Double = 0.5,
      /** committed score of promoted pairs: max(score, promoteScore).
        * MUST be ≥ the cut audit's strongScore or the next cut audit
        * would see the promoted bundle as weak and oscillate. */
      promoteScore: Double = 0.75,
      /** promote only the top-k band edges per cluster pair (by score,
        * then canonical pair order for determinism) — one edge already
        * restores connectivity; k adds robustness to later removals
        * without promoting a |A|·|B| band wholesale. The rest stay at
        * their honest below-threshold scores (`merge_band_edges_not_
        * promoted`). */
      maxPromotePerPair: Int = 8,
      /** witness-degree cap: a cluster with more than this many veto-free
        * band-evidence neighbors is a PROMISCUOUS HUB — its triangle
        * closures say "this cluster near-misses everything", not "these
        * two fragments are one entity" — and it is excluded from
        * WITNESSING (its own direct-edge evidence still counts). This
        * also bounds the witness self-join, which is quadratic in the
        * per-cluster band degree (k band neighbors → k² witness rows):
        * without the cap one adversarial hub cluster can blow the census
        * up at scale. Capped hubs are counted loudly
        * (`merge_witness_hubs_capped`). 64 is far above any degree a
        * genuine threshold-split fragment reaches (measured censuses show
        * 1–3) while bounding the join at 64² rows per hub. */
      maxWitnessDegree: Int = 64)

  /** Config invariants, factored out so surfaces that DEFER the merge (the
    * streaming cadence attaches a query that first merges thousands of
    * batches later) can fail at configuration time instead of mid-stream.
    */
  def validate(cfg: MergeConfig): Unit = {
    require(cfg.mergeFloor < cfg.threshold,
      s"mergeFloor ${cfg.mergeFloor} must be below threshold ${cfg.threshold}")
    require(cfg.minEvidence >= 1, "minEvidence must be >= 1")
    require(cfg.promoteScore >= cfg.threshold,
      s"promoteScore ${cfg.promoteScore} must be >= threshold ${cfg.threshold}: a promoted " +
        "pair must be an ACCEPTED edge, or the committed merge carries no accepted evidence " +
        "and the next recompute over accepted edges silently re-splits it")
  }

  /** One census row per cross-cluster evidence pair (canonical
    * `cluster_a < cluster_b`). `qualifies` = would merge under the config;
    * the veto flags say why not when it wouldn't.
    */
  final case class MergeCensusRow(cluster_a: String, cluster_b: String,
                                  n_band_edges: Long, n_drift_edges: Long,
                                  n_witnesses: Long,
                                  docs_a: Long, docs_b: Long, coverage: Double,
                                  max_score: Double, avg_score: Double,
                                  tombstone_veto: Boolean, conflict_veto: Boolean,
                                  qualifies: Boolean)

  final case class MergeResult(
      /** full assignments with merged clusters re-labeled (min cluster_id
        * of the merged component = min doc_id overall, exactly the label a
        * batch run accepting the promoted edges would produce) */
      assignments: DataFrame,
      /** only the re-labeled rows (doc_id, cluster_id) — every doc of every
        * merged cluster; the delta-commit `adds` side */
      changedAssignments: DataFrame,
      /** pre-merge cluster_ids of the merged clusters — the delta-commit
        * keyed-`removes` side */
      changedClusters: DataFrame,
      /** promoted pair rows in the FULL scored-pair schema, score already
        * rewritten to max(score, promoteScore) — the scored_pairs delta
        * `adds` side (paired with keyed removes of the same pairs) */
      promotedPairs: DataFrame,
      /** the same pairs' ORIGINAL rows, verbatim — the standing promotion
        * ledger's rows */
      promotionLedger: DataFrame,
      counters: Map[String, Long],
      private val cached: Seq[DataFrame],
      private val ccCheckpointIds: Set[Int] = Set.empty) {
    /** Release the persisted intermediates AND the merge graph's CC
      * checkpoints backing the result relations. Call only after the
      * outputs are materialized (committed/collected): the checkpoints
      * have truncated lineage, so `assignments`/`changedAssignments` are
      * NOT recomputable afterwards (same contract as
      * [[graft.pipeline.EntityResolution.Result.release]]). */
    def release(): Unit = {
      cached.foreach(_.unpersist())
      cached.headOption.foreach { df =>
        val sc = df.sparkSession.sparkContext
        ccCheckpointIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      }
    }
  }

  /** The cross-cluster evidence relation: scored rows at `score >=
    * mergeFloor` (or hard-conflict-vetoed, which score 0.0 but must ride
    * as veto evidence) with both endpoints' cluster ids attached and
    * intra-cluster rows dropped. Canonical orientation `cluster_a <
    * cluster_b`.
    */
  private def crossEvidence(assignments: DataFrame, scoredPairs: DataFrame,
                            cfg: MergeConfig): DataFrame = {
    val vetoCol = if (scoredPairs.columns.contains("vetoed")) col("vetoed") else lit(false)
    val aSide = assignments.select(col("doc_id").as("doc_id_a"), col("cluster_id").as("ca"))
    val bSide = assignments.select(col("doc_id").as("doc_id_b"), col("cluster_id").as("cb"))
    scoredPairs
      .withColumn("vetoed_ev", vetoCol)
      .where(col("score") >= cfg.mergeFloor || col("vetoed_ev"))
      .join(aSide, "doc_id_a").join(bSide, "doc_id_b")
      .where(col("ca") =!= col("cb"))
      .withColumn("cluster_a", least(col("ca"), col("cb")))
      .withColumn("cluster_b", greatest(col("ca"), col("cb")))
      .drop("ca", "cb")
  }

  /** Cluster pairs connected by a standing tombstone (a pair the cut audit
    * severed): (cluster_a, cluster_b) canonical. Tombstones are O(cuts)
    * rows; the two assignment joins are the cost.
    */
  private def tombstoneVetoPairs(assignments: DataFrame, tombstones: DataFrame): DataFrame = {
    val aSide = assignments.select(col("doc_id").as("doc_id_a"), col("cluster_id").as("ca"))
    val bSide = assignments.select(col("doc_id").as("doc_id_b"), col("cluster_id").as("cb"))
    tombstones.select("doc_id_a", "doc_id_b")
      .join(aSide, "doc_id_a").join(bSide, "doc_id_b")
      .where(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("cluster_a"),
        greatest(col("ca"), col("cb")).as("cluster_b"))
      .distinct()
  }

  /** Read-only census (one row per cross-cluster evidence pair). */
  def census(assignments: DataFrame, scoredPairs: DataFrame,
             tombstones: Option[DataFrame] = None,
             cfg: MergeConfig = MergeConfig()): DataFrame =
    censusFromEvidence(crossEvidence(assignments, scoredPairs, cfg),
      assignments, tombstones, cfg)

  /** [[census]] over a precomputed (ideally persisted) [[crossEvidence]]
    * relation — [[merge]] derives the census AND the promotion candidates
    * from ONE evidence pass instead of running the two endpoint joins over
    * the floor-filtered scored set twice per invocation.
    */
  private def censusFromEvidence(ev: DataFrame, assignments: DataFrame,
                                 tombstones: Option[DataFrame],
                                 cfg: MergeConfig): DataFrame = {
    val inBand = col("score") >= cfg.mergeFloor && col("score") < cfg.threshold &&
      !col("vetoed_ev")
    val isDrift = col("score") >= cfg.threshold && !col("vetoed_ev")
    val agg = ev.groupBy("cluster_a", "cluster_b").agg(
      sum(when(inBand, 1L).otherwise(0L)).as("n_band_edges"),
      sum(when(isDrift, 1L).otherwise(0L)).as("n_drift_edges"),
      max(when(inBand, col("score"))).as("max_score"),
      avg(when(inBand, col("score"))).as("avg_score"),
      max(col("vetoed_ev")).as("conflict_veto"))
    val withTs = tombstones match {
      case Some(ts) =>
        val veto = tombstoneVetoPairs(assignments, ts).withColumn("tombstone_veto", lit(true))
        agg.join(veto, Seq("cluster_a", "cluster_b"), "left")
          .withColumn("tombstone_veto", coalesce(col("tombstone_veto"), lit(false)))
      case None => agg.withColumn("tombstone_veto", lit(false))
    }
    // triangle-closure witnesses: for each unordered cluster pair, the
    // distinct third clusters with a veto-free band edge to BOTH sides —
    // computed on the deduplicated cluster-pair graph (tiny: one node per
    // cluster touched by band evidence), not on the edge multiset. Pairs
    // across a vetoed boundary contribute no adjacency: a tombstoned or
    // conflicted boundary must not witness its neighbours' merges. A
    // cluster whose band degree exceeds `maxWitnessDegree` is excluded
    // from the witness role (see MergeConfig.maxWitnessDegree — the
    // promiscuous-hub guard that also bounds this self-join's k² blowup);
    // its direct edges still count via n_band_edges.
    val pairGraph = withTs
      .where(col("n_band_edges") >= 1L && !col("conflict_veto") && !col("tombstone_veto"))
      .select("cluster_a", "cluster_b")
    val adj = pairGraph.select(col("cluster_a").as("x"), col("cluster_b").as("z"))
      .unionByName(pairGraph.select(col("cluster_b").as("x"), col("cluster_a").as("z")))
    // degree filter as a WINDOW over z (one pass over adj), NOT an
    // agg+semi-join: a join would reference the adj subtree a second
    // time, and this whole census subtree is evaluated once per side of
    // the witness self-join — the extra reference measurably multiplied
    // the evidence-pass work (round-6 VerbJobsProbe)
    val wz = Window.partitionBy(col("z"))
    val adjW = adj.withColumn("zdeg", count(lit(1)).over(wz))
      .where(col("zdeg") <= cfg.maxWitnessDegree).drop("zdeg")
    val witnesses = adjW.as("l").join(adjW.as("r"),
        col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .groupBy(col("l.x").as("cluster_a"), col("r.x").as("cluster_b"))
      .agg(count_distinct(col("l.z")).as("n_witnesses"))
    // cluster sizes (one map-side-combined count over assignments) make the
    // evidence RELATIVE: coverage = evidence edges / possible cross pairs.
    val sizes = assignments.groupBy("cluster_id").agg(count(lit(1)).as("cl_docs"))
    withTs.join(witnesses, Seq("cluster_a", "cluster_b"), "left")
      .withColumn("n_witnesses", coalesce(col("n_witnesses"), lit(0L)))
      .withColumn("max_score", coalesce(col("max_score"), lit(0.0)))
      .withColumn("avg_score", coalesce(col("avg_score"), lit(0.0)))
      .join(sizes.select(col("cluster_id").as("cluster_a"), col("cl_docs").as("docs_a")),
        Seq("cluster_a"))
      .join(sizes.select(col("cluster_id").as("cluster_b"), col("cl_docs").as("docs_b")),
        Seq("cluster_b"))
      .withColumn("coverage",
        (col("n_band_edges") + col("n_drift_edges")).cast("double") /
          (col("docs_a").cast("double") * col("docs_b").cast("double")))
      .withColumn("qualifies",
        col("n_drift_edges") > 0L ||
          (col("n_band_edges") >= 1L &&
            col("n_band_edges") + col("n_witnesses") >= cfg.minEvidence &&
            col("coverage") >= cfg.minCoverage &&
            !col("conflict_veto") && !col("tombstone_veto")))
      .select("cluster_a", "cluster_b", "n_band_edges", "n_drift_edges", "n_witnesses",
        "docs_a", "docs_b", "coverage",
        "max_score", "avg_score", "tombstone_veto", "conflict_veto", "qualifies")
  }

  /** Run the merge: returns the full re-labeled assignments, the promoted
    * pair rows (full scored schema), the promotion ledger rows, and
    * counters. `tombstones` must be the standing cut-audit tombstones when
    * the history has any (also applied pair-level to promotion candidates,
    * defensively — a tombstoned pair is never promoted even inside an
    * otherwise-qualifying bundle).
    *
    * `scope`: when set (the WATERMARK-scoped cadence path,
    * [[graft.pipeline.EntityResolution.mergeRepair]] with
    * `incremental = true`), only census rows with at least one endpoint
    * cluster in the scope set are judged/merged — the caller guarantees
    * (a) `scoredPairs` still contains every row adjacent to the scope's
    * 2-hop evidence neighborhood, so the scoped rows' band counts,
    * witnesses, and hub degrees are computed over exactly the evidence a
    * full census would see for them, and (b) every out-of-scope cluster
    * pair is at its previous merge fixpoint (nothing that feeds its
    * verdict changed), so dropping it changes nothing. Out-of-scope rows
    * still CONTRIBUTE adjacency/degree before being dropped.
    */
  def merge(assignments: DataFrame, scoredPairs: DataFrame,
            tombstones: Option[DataFrame] = None,
            cfg: MergeConfig = MergeConfig(),
            scope: Option[DataFrame] = None): MergeResult = {
    validate(cfg)
    val spark = assignments.sparkSession

    // ONE evidence pass (two endpoint joins over the floor-filtered scored
    // set) feeds both the census aggregation and the promotion candidates
    val ev = crossEvidence(assignments, scoredPairs, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cenAll = censusFromEvidence(ev, assignments, tombstones, cfg)
    val cen = (scope match {
      case Some(sc) =>
        val scA = broadcast(sc.select(col("cluster_id").as("cluster_a"))
          .withColumn("in_a", lit(true)))
        val scB = broadcast(sc.select(col("cluster_id").as("cluster_b"))
          .withColumn("in_b", lit(true)))
        cenAll.join(scA, Seq("cluster_a"), "left").join(scB, Seq("cluster_b"), "left")
          .where(col("in_a").isNotNull || col("in_b").isNotNull)
          .drop("in_a", "in_b")
      case None => cenAll
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val qual = cen.where(col("qualifies"))

    // census counters in one aggregation pass
    val cRow = cen.agg(
      count(lit(1)),
      coalesce(sum(when(col("qualifies"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("n_drift_edges") > 0L, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("tombstone_veto") && !col("qualifies"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("conflict_veto") && !col("qualifies"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!col("qualifies") && !col("conflict_veto") && !col("tombstone_veto") &&
        col("n_band_edges") + col("n_witnesses") < cfg.minEvidence, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("n_drift_edges") > 0L, col("n_drift_edges")).otherwise(0L)), lit(0L)),
      // multiplicity met but coverage failed: the junk-hub signal (evidence
      // not proportional to the clusters' cross-pair opportunity)
      coalesce(sum(when(!col("qualifies") && !col("conflict_veto") && !col("tombstone_veto") &&
        col("n_band_edges") >= 1L &&
        col("n_band_edges") + col("n_witnesses") >= cfg.minEvidence &&
        col("coverage") < cfg.minCoverage, 1L).otherwise(0L)), lit(0L))
    ).collect()(0)
    // loud hub-cap visibility: clusters whose band degree tripped the
    // witness exclusion (recomputed from the persisted census — one tiny
    // aggregation over cluster-pair rows)
    val nHubsCapped = cen
      .where(col("n_band_edges") >= 1L && !col("conflict_veto") && !col("tombstone_veto"))
      .select(explode(array(col("cluster_a"), col("cluster_b"))).as("z"))
      .groupBy("z").agg(count(lit(1)).as("zdeg"))
      .where(col("zdeg") > cfg.maxWitnessDegree).count()
    val censusCounters = Map(
      "merge_cluster_pairs_seen" -> cRow.getLong(0),
      "merge_cluster_pairs_qualified" -> cRow.getLong(1),
      "merge_cluster_pairs_drift" -> cRow.getLong(2),
      "merge_vetoed_tombstone" -> cRow.getLong(3),
      "merge_vetoed_conflict" -> cRow.getLong(4),
      "merge_pairs_below_evidence" -> cRow.getLong(5),
      "merge_drift_edges" -> cRow.getLong(6),
      "merge_pairs_below_coverage" -> cRow.getLong(7),
      "merge_witness_hubs_capped" -> nHubsCapped)

    if (censusCounters("merge_cluster_pairs_qualified") == 0L) {
      val empty0 = assignments.limit(0)
      val emptyP = scoredPairs.limit(0)
      return MergeResult(assignments, empty0.select(col("doc_id"), col("cluster_id")),
        empty0.select(col("cluster_id")), emptyP, emptyP,
        censusCounters ++ Map("merge_clusters_merged" -> 0L, "merge_components" -> 0L,
          "merge_docs_relabeled" -> 0L, "merge_pairs_promoted" -> 0L,
          "merge_band_edges_not_promoted" -> 0L),
        Seq(cen, ev))
    }

    // ---- merge graph: transitive components over qualifying cluster pairs.
    // Labels are min cluster_id per component; cluster ids are min member
    // doc_ids, so the merged label is the min doc_id of the union — exactly
    // batch semantics over the promoted edge set.
    //
    // The graph is DIMENSION-sized by construction (each pair needed a
    // corroborated evidence bundle), so within DriverBound — known for
    // FREE from the census counters — it is solved by a driver union-find
    // (ConnectedComponents.unionFindMin, code-point order like the
    // distributed min): one collect replaces the distributed star loop's
    // ~15 fixed jobs per invocation, which dominated the verb's wall at
    // every sandbox scale (round-6 VerbJobsProbe: the merge leg was
    // job-count-bound, not data-bound). Beyond the bound (a pathological
    // drift state can qualify arbitrarily many pairs) the exact same
    // semantics run through the distributed CC loop. Identical labels
    // either way: min cluster_id per component (ClusterMergeSpec covers
    // multi-pair transitive components through the union-find path).
    val nQual = censusCounters("merge_cluster_pairs_qualified")
    val (mergeMap0, ccCkpts) =
      if (nQual <= DriverBound.MaxRows) {
        val pairs = qual.select(col("cluster_a"), col("cluster_b")).collect()
          .map(r => (r.getString(0), r.getString(1)))
        val find = ConnectedComponents.unionFindMin(pairs)
        val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
        import spark.implicits._
        (nodes.toSeq.map(n => (n, find(n))).toDF("cluster_id", "cluster_id_new"),
          Set.empty[Int])
      } else {
        val cc = ConnectedComponents.runTracked(spark,
          qual.select(col("cluster_a").as("src"), col("cluster_b").as("dst")),
          pairsPreDeduped = true)
        (cc.assignments
          .select(col("doc_id").as("cluster_id"), col("cluster_id").as("cluster_id_new")),
          cc.checkpointIds)
      }
    val mergeMap = mergeMap0.persist(StorageLevel.MEMORY_AND_DISK)
    val nMergedClusters = mergeMap.count()
    val nComponents = mergeMap.select("cluster_id_new").distinct().count()
    // merged components are few under any sane config, but a loose one (or
    // a large drift state) can qualify arbitrarily many cluster pairs —
    // gate the driver-collecting broadcasts on the already-known counts
    // (DriverBound, as everywhere) instead of OOMing the driver
    val changed = assignments
      .join(DriverBound.broadcastWithin(mergeMap, nMergedClusters), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id_new").as("cluster_id"),
        col("cluster_id").as("cluster_id_old"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nRelabeled = changed.where(col("cluster_id") =!= col("cluster_id_old")).count()
    val changedRows = changed.select(col("doc_id"), col("cluster_id"))
    val changedClusters = changed.select(col("cluster_id_old").as("cluster_id")).distinct()
    val merged = assignments
      .join(DriverBound.broadcastWithin(mergeMap.select("cluster_id"), nMergedClusters),
        Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(changedRows)

    // ---- promotions: top-k band edges per BAND-qualifying cluster pair
    // (drift-qualifying pairs already carry accepted edges — a crashed
    // repair's re-run relabels without double-promoting). Tombstoned pairs
    // are excluded defensively even inside a qualifying bundle.
    val bandQual = qual.where(col("n_drift_edges") === 0L)
      .select("cluster_a", "cluster_b")
    val evBand = ev
      .where(col("score") >= cfg.mergeFloor && col("score") < cfg.threshold &&
        !col("vetoed_ev"))
      .join(DriverBound.broadcastWithin(bandQual, censusCounters("merge_cluster_pairs_qualified")),
        Seq("cluster_a", "cluster_b"), "left_semi")
    val evClean = tombstones match {
      case Some(ts) => evBand.join(ts.select("doc_id_a", "doc_id_b"),
        Seq("doc_id_a", "doc_id_b"), "left_anti")
      case None => evBand
    }
    val ranked = evClean.withColumn("rk",
      row_number().over(Window.partitionBy("cluster_a", "cluster_b")
        .orderBy(col("score").desc, col("doc_id_a"), col("doc_id_b"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val toPromote = ranked.where(col("rk") <= cfg.maxPromotePerPair)
      .select("doc_id_a", "doc_id_b")
    val nNotPromoted = ranked.where(col("rk") > cfg.maxPromotePerPair).count()

    // original rows verbatim (the ledger) and the promoted twins (the
    // scored_pairs delta adds) — full original schema both ways
    val ledger = scoredPairs.join(toPromote, Seq("doc_id_a", "doc_id_b"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val promoted = ledger.withColumn("score",
      greatest(col("score"), lit(cfg.promoteScore)))
    val nPromoted = ledger.count()

    val counters = censusCounters ++ Map(
      "merge_clusters_merged" -> nMergedClusters,
      "merge_components" -> nComponents,
      "merge_docs_relabeled" -> nRelabeled,
      "merge_pairs_promoted" -> nPromoted,
      "merge_band_edges_not_promoted" -> nNotPromoted)
    MergeResult(merged, changedRows, changedClusters, promoted, ledger, counters,
      Seq(cen, ev, mergeMap, changed, ranked, ledger), ccCkpts)
  }
}
