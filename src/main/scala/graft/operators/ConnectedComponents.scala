package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Transitive clustering: iterative DataFrame connected components via
  * alternating large-star / small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) — the north-rule
  * generalization of the reference's top-1-per-AP assignment
  * (Model.scala:536-539; top-1 is the degenerate star case).
  *
  * The public contract is STRING node ids with lexicographic order
  * (cluster_id = min doc_id, FIXTURES.md §3). Internally the loop runs
  * over 64-bit LONG node ids: the star loop shuffles the edge set ~6
  * times per iteration, and ~30-byte string pairs were CC's measured
  * 2.0–2.9× task-CPU inflation at 4 threads (round-4 CcProbe census —
  * hash/compare/ser-de on small rows, not spill or GC). Two encodings,
  * chosen by a one-aggregate census over the node dictionary:
  *
  *  - HASHED (default): nid = xxhash64(node) — a pure projection, zero
  *    extra shuffles to encode. Hash order is not string order, so after
  *    the loop ONE per-component min over the decoded strings restores
  *    the exact cluster_id = min doc_id semantic. A 64-bit collision
  *    would merge two components, so the dictionary census (count nodes
  *    vs count distinct nids, one aggregate) gates the path: any
  *    collision — an ~n²/2^65 event, expected only beyond ~10^9 nodes —
  *    falls back to:
  *  - RANKED: nid = exact global rank of the node in string order
  *    (distributed sort + zipWithIndex). Order-isomorphic, collision-free
  *    at any node count; costs one node-universe sort.
  *
  * Either way the min-id result is bit-exact vs the string loop — the
  * encoding choice is a physical-plan decision, never a semantic one.
  * The node dictionary is broadcast through the decode joins when
  * dimension-sized, shuffle-joined beyond [[DriverBound.MaxRows]].
  *
  * Each iteration persists + materializes the new edge set and truncates
  * lineage via localCheckpoint, so the plan does not grow unboundedly.
  */
object ConnectedComponents {

  /** One large-star step: connect every neighbor larger than u to the min
    * of u's closed neighborhood. Input/output: canonical edges (src, dst).
    *
    * SORT-BASED one-pass min (round-4): a window min over the
    * neighborhood replaces the round-3 collect_set + explode — the stage
    * census showed the per-key hash-set build + array explode as CC's
    * ~1.8–2.5× task-CPU inflation at 4 threads (allocation churn is
    * memory bandwidth). The window's Tungsten sort touches no per-key
    * heap objects and SPILLS on hub nodes where a collected set would
    * OOM; row count in = row count out (loop-state edges are distinct, so
    * no duplicate blow-up), and the downstream smallStar distinct dedups
    * exactly as before.
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    bidir
      .select(col("src"), col("dst"), least(min(col("dst")).over(w), col("src")).as("m"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
  }

  /** One small-star step: among edges oriented high→low, connect all of
    * u's smaller neighbors (and u) to the minimum. Sort-based like
    * largeStar. The u→m edge of the closed neighborhood is emitted from
    * the rows where v == m (m = min(v) over the partition, so at least
    * one such row exists per u) instead of once per input row — the
    * round-5 form emitted deg(u) duplicate (u, m) rows per u and let the
    * trailing distinct drop them, which shuffled ~2× the surviving edge
    * set into the dedup exchange. The emitted SET is identical
    * (ConnectedComponentsSpec pins it against the per-row form), so the
    * loop trajectory, iteration count, and fixpoint are bit-equal.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val withM = oriented.select(col("u"), col("v"), min(col("v")).over(w).as("m"))
    withM.where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .union(withM.where(col("v") === col("m"))
        .select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** Orientation-normalized self-loop-free edges: (lo, hi). A pure
    * projection — no dedup.
    */
  private def orient(e: DataFrame): DataFrame =
    e.select(least(col("src"), col("dst")).as("src"),
             greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))

  private def canonical(e: DataFrame): DataFrame = orient(e).distinct()

  /** Order-insensitive edge-set signature: (count, xor of row hashes) —
    * xor never overflows and the edge set is distinct, so duplicates can't
    * cancel. One aggregate job replaces the count + exceptAll convergence
    * test per iteration; when signatures FIRST match, one exact exceptAll
    * confirmation pass runs (a single extra job total), so convergence is
    * never declared on a hash collision — the engine's bit-exactness
    * guarantee holds unconditionally.
    */
  private def signature(e: DataFrame): (Long, Long) = {
    // hash the ORIENTATION-NORMALIZED pair per row: smallStar output is
    // already distinct (its trailing .distinct()), so no extra distinct
    // shuffle is needed before hashing — the signature aggregate is a
    // map-only pass over the checkpointed edges
    val r = e.select(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(
        least(col("src"), col("dst")), greatest(col("src"), col("dst")))), lit(0L)).as("h"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** CC output with the loop's surviving localCheckpoint handles: the
    * final edge set's checkpoint RDD AND the node-id dictionary's both
    * back `assignments`, so they can only be freed once the caller is
    * DONE with them (a localCheckpointed RDD has truncated lineage —
    * unpersisting it makes the data unrecoverable, not recomputable).
    * Intermediate iterations' checkpoints are freed inside the loop as
    * they are superseded.
    */
  final case class CcResult(assignments: DataFrame, iterations: Int,
                            checkpointIds: Set[Int]) {
    def releaseCheckpoints(spark: SparkSession): Unit =
      checkpointIds.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  /** localCheckpoint + the id of the persistent RDD it registered
    * (RDD.localCheckpoint persists immediately, even with eager=false), so
    * the loop can free superseded checkpoints instead of leaking one per
    * iteration per run. The id is read off the returned Dataset's own
    * LogicalRDD plan node — NOT by diffing the session's persistent-RDD
    * registry, which under concurrent queries on the same SparkContext
    * would capture another thread's cache registered in the same window
    * and later destroy it in free() (for a localCheckpointed RDD that is
    * unrecoverable data loss, not a recompute).
    */
  private def localCkpt(df: DataFrame): (DataFrame, Set[Int]) = {
    val ck = df.localCheckpoint(false)
    val ids = ck.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(ids.nonEmpty, "localCheckpoint did not yield a LogicalRDD-backed plan")
    (ck, ids)
  }

  private def free(spark: SparkSession, ids: Set[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

  /** Convenience entry WITHOUT checkpoint tracking: the final-edge-set and
    * dictionary localCheckpoints backing the returned assignments stay
    * persisted for the SESSION LIFETIME (there is no handle to free them
    * through this signature). Fine for one-shot jobs and probes; a
    * long-lived session running CC repeatedly must use [[runTracked]] and
    * call [[CcResult.releaseCheckpoints]] when done.
    */
  def run(spark: SparkSession, edges0: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val r = runTracked(spark, edges0, maxIter)
    (r.assignments, r.iterations)
  }

  /** Run to convergence; returns (node -> component-min) assignments for
    * every node appearing in `edges0`, the iteration count, and the live
    * checkpoint handles.
    *
    * `pairsPreDeduped = true` promises each unordered {src, dst} pair
    * occurs at most once in `edges0` (true for the pipeline's scored
    * candidate pairs, which are pair-deduplicated by construction) and
    * skips the initial edge-dedup shuffle entirely.
    */
  def runTracked(spark: SparkSession, edges0: DataFrame, maxIter: Int = 50,
                 pairsPreDeduped: Boolean = false): CcResult = {
    // AQE off for the loop only: each iteration is a small fixed-shape
    // two-shuffle plan, and AQE's per-query-stage re-planning adds driver
    // round-trips per iteration that dominate at high parallelism (the
    // loop is driver-latency-bound, BENCH/BASELINE.md); the big skewed
    // stages that need AQE live upstream in blocking/scoring
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      runDispatch(spark, edges0, maxIter, pairsPreDeduped)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  private def runDispatch(spark: SparkSession, edges0: DataFrame, maxIter: Int,
                          pairsPreDeduped: Boolean): CcResult = {
    // ONE materialization pass over the upstream plan (typically the full
    // scoring stage): string endpoints + their hashed ids, self-loops
    // dropped. Everything downstream reads this checkpoint.
    val (raw, rawIds) = localCkpt(
      edges0.where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          xxhash64(col("src")).as("hs"), xxhash64(col("dst")).as("hd")))
    // node dictionary (node -> hashed id); its collision census (count
    // nodes vs count distinct hashes) is ONE aggregate and doubles as the
    // dictionary materialization
    val (dict, dictIds) = localCkpt(
      raw.select(col("src").as("node"), col("hs").as("nid"))
        .union(raw.select(col("dst").as("node"), col("hd").as("nid")))
        .distinct())
    val census = dict.agg(count(lit(1)).as("n"), count_distinct(col("nid")).as("d")).collect()(0)
    val nNodes = census.getLong(0)

    if (nNodes != census.getLong(1)) {
      // hashed ids would merge two components — take the exact rank path
      free(spark, dictIds)
      val r = runRank(spark, raw, maxIter)
      free(spark, rawIds)
      r
    } else {
      val enc = orient(raw.select(col("hs").as("src"), col("hd").as("dst")))
      val (edges0L, edge0Ids) =
        if (pairsPreDeduped) (enc, rawIds) // distinct already holds; loop state rides raw's ckpt
        else localCkpt(enc.distinct())
      val sig0 = signature(edges0L)
      if (!pairsPreDeduped) free(spark, rawIds) // deduped state is checkpointed now
      val (fix, iters, loopIds) = loopToFixpoint(spark, edges0L, edge0Ids, sig0, maxIter)
      // at fixpoint every edge is (node, componentMinHash) with node >
      // min; mins map to themselves
      val assignL = fix.select(col("src").as("docL"), col("dst").as("clusL"))
        .union(fix.select(col("dst").as("docL"), col("dst").as("clusL")))
        .groupBy("docL").agg(min("clusL").as("clusL"))
      val dictJ = DriverBound.broadcastWithin(dict, nNodes)
      val withS = assignL.join(dictJ.select(col("nid").as("docL"), col("node")), "docL")
      // hash order is not string order: one per-component min over the
      // decoded strings restores cluster_id = min doc_id exactly — as a
      // WINDOW over the component key (one exchange, one pass) instead of
      // the round-5 agg + join-back, which evaluated the decoded-join
      // subtree twice and paid a second exchange
      val wCl = org.apache.spark.sql.expressions.Window.partitionBy(col("clusL"))
      val assign = withS
        .withColumn("cluster_id", min(col("node")).over(wCl))
        .select(col("node").as("doc_id"), col("cluster_id"))
      CcResult(assign, iters, loopIds ++ dictIds)
    }
  }

  /** The exact fallback encoding: nid = global rank of the node in string
    * order (distributed range-partitioned sort; zipWithIndex is the one
    * per-partition-offset primitive the DataFrame API lacks — its index
    * is the global rank because partitions are ordered ranges). Rank is
    * order-isomorphic, so min-long == min-string and the decode is two
    * direct joins with no min-restoration pass.
    */
  private[graft] def runRank(spark: SparkSession, raw: DataFrame, maxIter: Int): CcResult = {
    import spark.implicits._
    val (canon0, canonIds) = localCkpt(canonical(raw.select(col("src"), col("dst"))))
    val nodes = canon0.select(col("src").as("node"))
      .union(canon0.select(col("dst").as("node"))).distinct()
    val dictDf = nodes.orderBy("node").rdd.map(_.getString(0))
      .zipWithIndex.toDF("node", "nid")
    val (dict, dictIds) = localCkpt(dictDf)
    val nNodes = dict.count() // materialize once; also the join-strategy input
    val dictJ = DriverBound.broadcastWithin(dict, nNodes)
    val enc = canon0
      .join(dictJ.select(col("node").as("src"), col("nid").as("srcL")), "src")
      .join(dictJ.select(col("node").as("dst"), col("nid").as("dstL")), "dst")
      .select(col("srcL").as("src"), col("dstL").as("dst"))
    val (edges0L, edge0Ids) = localCkpt(enc)
    val sig0 = signature(edges0L)
    free(spark, canonIds) // string edges have no further consumer
    val (fix, iters, loopIds) = loopToFixpoint(spark, edges0L, edge0Ids, sig0, maxIter)
    val assignL = fix.select(col("src").as("docL"), col("dst").as("clusL"))
      .union(fix.select(col("dst").as("docL"), col("dst").as("clusL")))
      .groupBy("docL").agg(min("clusL").as("clusL"))
    val assign = assignL
      .join(dictJ.select(col("nid").as("docL"), col("node").as("doc_id")), "docL")
      .join(dictJ.select(col("nid").as("clusL"), col("node").as("cluster_id")), "clusL")
      .select(col("doc_id"), col("cluster_id"))
    CcResult(assign, iters, loopIds ++ dictIds)
  }

  /** The star loop proper, over pre-checkpointed distinct edges of any
    * orderable id type. Returns (fixpoint edges, iterations, live
    * checkpoint ids of the fixpoint state).
    */
  private def loopToFixpoint(spark: SparkSession, edges0: DataFrame, edge0Ids: Set[Int],
                             sig0: (Long, Long), maxIter: Int): (DataFrame, Int, Set[Int]) = {
    var edges = edges0
    var edgeIds = edge0Ids
    var prevSig = sig0
    // Size the loop's fixed-shape shuffles to the EDGE COUNT (known from
    // the first signature), not the session's 4×-cores default: the loop
    // runs ~6 tiny stages per iteration, and at the default decomposition
    // the per-task fixed cost (codegen init, scheduling) — not data —
    // dominated CC's 4-thread task-CPU census. ~250k edge rows per
    // partition, clamped to [cores, 4·cores] so a huge edge set still
    // over-decomposes for skew and a small one still uses every core.
    val cores = spark.sparkContext.defaultParallelism
    val loopParts = math.max(cores,
      math.min(4L * cores, prevSig._1 / 250000L + 1L).toInt)
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopParts)
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        val (ss, ssIds) = localCkpt(smallStar(largeStar(edges)))
        val nextSig = signature(ss)
        // exact confirmation on signature match: counts are equal (part of
        // the signature), so a one-direction empty exceptAll proves set
        // equality — both inputs recompute from checkpointed parents
        converged = nextSig == prevSig &&
          canonical(ss).exceptAll(canonical(edges)).isEmpty
        // the superseded checkpoint is dead: the convergence check above
        // was its last consumer this iteration
        free(spark, edgeIds)
        edges = ss
        edgeIds = ssIds
        iter += 1
        prevSig = nextSig
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
    (edges, iter, edgeIds)
  }

  /** Full assignment for all docs: nodes with no surviving edge form
    * singleton clusters (cluster_id = own doc_id). Untracked like [[run]]:
    * leaks the final + dictionary checkpoints for the session lifetime —
    * use [[assignAllTracked]] from anything long-lived.
    */
  def assignAll(spark: SparkSession, allDocIds: DataFrame, edges: DataFrame,
                maxIter: Int = 50): (DataFrame, Int) = {
    val r = assignAllTracked(spark, allDocIds, edges, maxIter)
    (r.assignments, r.iterations)
  }

  /** assignAll with the final-checkpoint handle (see CcResult): callers
    * that materialize the assignments durably (or are done with them)
    * release the last checkpoint via releaseCheckpoints.
    */
  def assignAllTracked(spark: SparkSession, allDocIds: DataFrame, edges: DataFrame,
                       maxIter: Int = 50, pairsPreDeduped: Boolean = false): CcResult = {
    val r = runTracked(spark, edges, maxIter, pairsPreDeduped)
    val out = allDocIds.select(col("doc_id"))
      .join(r.assignments, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    CcResult(out, r.iterations, r.checkpointIds)
  }

  /** [[assignAll]] semantics via a DRIVER union-find, for graphs the
    * CALLER has already proven dimension-sized (both relations ≤
    * [[DriverBound.MaxRows]], from counts it holds anyway — never a new
    * count job): two collects replace the star loop's ~15
    * fixed driver round-trips, which dominate wall whenever the graph is
    * small (round-6 VerbJobsProbe: the incremental verbs are
    * job-count-bound at every sandbox scale). Output is EXACTLY
    * [[assignAll]]'s: one row per allDocIds doc, cluster_id = min node id
    * of its component over the full edge universe (edge endpoints outside
    * allDocIds participate in components and can supply the min, exactly
    * like the distributed path's left join), singletons self-labeled.
    * ConnectedComponentsSpec pins driver == distributed on random graphs.
    */
  def assignAllDriver(spark: SparkSession, allDocIds: DataFrame, edges: DataFrame): DataFrame = {
    val nodes = allDocIds.select(col("doc_id")).collect().map(_.getString(0))
    val find = unionFindMin(edges.select(col("src"), col("dst")).collect()
      .map(r => (r.getString(0), r.getString(1))))
    import spark.implicits._
    nodes.toSeq.map(n => (n, find(n))).toDF("doc_id", "cluster_id")
  }

  /** Driver union-find over string node ids: returns each node's component
    * min over `edges` (a node on no edge is its own min). Ids are ordered
    * by CODE POINT, which is the order of Spark's UTF-8 byte comparison —
    * the order the distributed path's min() uses. Java's String `<`
    * compares UTF-16 code units instead and disagrees wherever a
    * supplementary character (a surrogate pair) meets U+E000..U+FFFF.
    */
  private[graft] def unionFindMin(edges: Iterable[(String, String)]): String => String = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = parent.getOrElse(x, x)
      while (r != parent.getOrElse(r, r)) r = parent.getOrElse(r, r)
      // path-compress the walked chain
      var c = x
      while (c != r) { val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      // smaller root absorbs, so every root IS its component's min
      if (ra != rb) { if (codePointCompare(ra, rb) < 0) parent(rb) = ra else parent(ra) = rb }
    }
    find
  }

  private def codePointCompare(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length, b.length)
  }
}
