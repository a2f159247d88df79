package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Blocking (candidate generation) as pure Catalyst column expressions —
  * fully codegen'd, no UDFs, so the block-key derivation stays inside
  * whole-stage codegen and pushes through the parquet scan.
  *
  * Two key families (north rule: "LSH/sorted-neighborhood blocking via
  * Catalyst expressions on span-derived keys"); reference analogue: the
  * 1-D active-days blocking of AMPI.scala:212-220 + the top-station
  * intersection prefilter of Model.scala:432-441.
  */
object Blocking {

  /** Normalized text tokens of a doc: filter spans to kind='text',
    * lowercase, strip non-alphanumerics, drop empties — the native
    * one-byte-scan expression (SpanTokensExpression; a regex-per-span
    * column pipeline otherwise runs twice per doc per pipeline). Callers
    * must have GraftExtensions registered in the session (all operator
    * entry points do this).
    */
  def textTokens(spans: Column): Column =
    graft.functions.SpanTokensExpression.spanTextTokens(spans)

  /** Normalized media_ref tokens (kind='media'), deduplicated. */
  def mediaTokens(spans: Column): Column =
    graft.functions.SpanTokensExpression.spanMediaTokens(spans)

  /** The pure-column formulations the native expressions replace — kept as
    * the executable equivalence spec (BlockingSpec asserts native ==
    * columnar on perturbed corpora).
    */
  private[graft] def textTokensColumnar(spans: Column): Column =
    filter(
      transform(
        filter(spans, s => s.getField("kind") === "text"),
        s => regexp_replace(lower(s.getField("text")), "[^a-z0-9]", "")),
      t => length(t) > 0)

  private[graft] def mediaTokensColumnar(spans: Column): Column =
    array_distinct(
      filter(
        transform(
          filter(spans, s => s.getField("kind") === "media"),
          s => lower(s.getField("media_ref"))),
        t => length(t) > 0))

  /** Block keys are 64-bit LONGS, not strings: family id in the top 4 bits
    * (provenance survives for diagnostics) + 60 hash bits. Long keys carry
    * ~5× fewer bytes than the string form through every blocking shuffle,
    * cache, and sort — measured as the difference between the candidate
    * join scaling at 2.5× and >3× on 8 threads. A 60-bit within-family
    * collision merges two unrelated blocks with prob ~2^-60 per key pair —
    * a few spurious candidate pairs for the scorer to reject, never a
    * correctness risk.
    */
  object Family {
    val Sn1 = 1L; val Sn2 = 2L; val Mh = 3L; val Md = 4L; val Tk = 5L
    val Refined = 6L; val Chain = 7L
    /** Splice-healing pairs created by a removal increment (the pair's
      * provenance is a lost edge through a removed doc, not a shared block
      * key) — a derived family like Refined/Chain, never emitted by
      * document keying.
      */
    val Heal = 8L
  }

  /** famTag(f, h) = (f << 60) | (h >>> 4). */
  def famTag(fam: Long, h: Column): Column =
    shiftleft(lit(fam), 60).bitwiseOR(shiftrightunsigned(h, 4))

  /** True iff a block key belongs to a RAW key family (Sn/Mh/Md/Tk) rather
    * than a derived Refined/Chain recovery key — the filter that recovers
    * raw small-key membership back out of a committed blocking snapshot
    * (the increment reads it to find the committed members of a key one
    * arrival batch floods past the cap).
    */
  def isRawKey(key: Column): Column =
    shiftrightunsigned(key, 60) < lit(Family.Refined)

  /** Typo-robust sorted-neighborhood keys: one key per head token position
    * (sn1 = prefix of token 1, sn2 = prefix of token 2). A typo in either
    * head token still leaves the OTHER key shared, so recall survives
    * single-head-token corruption (the failure mode of a concatenated
    * key); a pair must lose both heads AND all minhash bands to be missed.
    */
  def snKeys(tokens: Column, prefixLen: Int = 8): Column = {
    val k1 = when(size(tokens) >= 1,
      array(famTag(Family.Sn1, xxhash64(substring(element_at(tokens, 1), 1, prefixLen)))))
      .otherwise(array().cast("array<long>"))
    val k2 = when(size(tokens) >= 2,
      array(famTag(Family.Sn2, xxhash64(substring(element_at(tokens, 2), 1, prefixLen)))))
      .otherwise(array().cast("array<long>"))
    concat(k1, k2)
  }

  /** Token k-shingles joined by space:
    * transform(sequence(1, n-k+1), i -> concat_ws(' ', slice(tokens,i,k))).
    * Short sequences yield one whole-sequence shingle.
    */
  def shingles(tokens: Column, k: Int = 2): Column =
    when(size(tokens) <= k, array(concat_ws(" ", tokens)))
      .otherwise(
        transform(
          sequence(lit(1), size(tokens) - lit(k - 1)),
          i => concat_ws(" ", slice(tokens, i, lit(k)))))

  /** LSH band keys from a precomputed signature COLUMN (pass a projected
    * attribute, not the minhashSig expression, so the signature is
    * evaluated once per row): band key = famTag(family, xxhash64(band
    * slice, band index)).
    */
  def bandKeysFromSig(sig: Column, numBands: Int, rowsPerBand: Int, family: Long): Column =
    transform(sequence(lit(0), lit(numBands - 1)), b =>
      famTag(family, xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b)))

  /** The pipeline's SHARED tokenized projection: doc_id + text tokens +
    * media tokens, extracted from the span structs in ONE pass. Blocking
    * AND scoring both consume this relation — the pipeline persists it so
    * the nested-struct span decode (the most bandwidth-expensive scan of
    * the source) runs once per run, and downstream passes read the much
    * flatter (string-array) cache instead. At 10^12 docs this is the
    * materialized token table every stage would share.
    */
  def tokenized(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs.select(col("doc_id"), textTokens(col("spans")).as("toks"),
      mediaTokens(col("spans")).as("md"))
  }

  /** Staged per-doc block-key derivation: tokens → shingles → one-pass
    * minhash signatures → band keys, each step a separate PROJECTION so
    * every expensive expression is evaluated exactly once per row (Catalyst
    * does not collapse projects when that would duplicate non-cheap
    * expressions). Input: a `tokenized` relation (doc_id, toks, md).
    * Returns (block_key, doc_id) rows, pre-explode.
    */
  /** Refinement-signature shape (see keyedDocs): 2 families × 3 minhashes
    * from a DEDICATED seed range never used by band keys.
    */
  private val RefineHashes = 6
  private val RefineSeed = 5000

  /** The per-family refinement hash over projected (toks, md, refine-sig)
    * columns — ONE definition consumed by keyedDocs (batch) and docRefine
    * (the per-doc relation the incremental path snapshots); drift between
    * the two would silently break hot-key recall on increments.
    */
  private def refineCol(i: Int): Column =
    when(size(col("toks")) > 0,
      xxhash64(element_at(col("refine"), 3 * i + 1), element_at(col("refine"), 3 * i + 2),
        element_at(col("refine"), 3 * i + 3)))
      .otherwise(xxhash64(col("md"), lit(RefineSeed + i)))

  /** Per-doc refinement hashes (doc_id, refine0, refine1) over a tokenized
    * relation — bit-identical to the values keyedDocs embeds in its rows.
    */
  private[graft] def docRefine(toked: DataFrame): DataFrame = {
    graft.GraftExtensions.register(toked.sparkSession)
    toked.select(col("doc_id"), col("toks"), col("md"), shingles(col("toks"), 2).as("sh"))
      .select(col("doc_id"), col("toks"), col("md"),
        graft.functions.MinhashSigExpression.minhashSigNative(col("sh"), RefineHashes, RefineSeed).as("refine"))
      .select(col("doc_id"), refineCol(0).as("refine0"), refineCol(1).as("refine1"))
  }

  private[graft] def keyedDocs(toked: DataFrame, numBands: Int, rowsPerBand: Int,
                        tokenBands: Int): DataFrame = {
    graft.GraftExtensions.register(toked.sparkSession) // minhash_sig used below
    val tb = if (tokenBands < 0) math.max(6, (numBands * 3) / 4) else tokenBands
    // token-SET similarity of unrelated docs is much higher than their
    // shingle similarity (word order ignored), so the recall family uses
    // bands twice as deep to keep its false-candidate rate comparable
    val tkRows = rowsPerBand * 2
    // media-ref block keys: one per distinct media token — entity-device
    // co-occurrence is a recall channel orthogonal to text noise (reference
    // analogue: SIG station co-occurrence, SIG.scala:82-87); hot shared
    // tokens produce oversized blocks that the block-size cap removes
    val shingled = toked.select(col("doc_id"), col("toks"), col("md"),
      shingles(col("toks"), 2).as("sh"))
    // refinement sub-keys for HOT blocks (block() below): two independent
    // content-derived 3-minhash keys (dedicated seed range, never used by
    // band keys) — same-entity docs agree on a family with prob ≈ Jaccard³
    // (≈0.73 at j=0.9; either-of-two ≈0.93, and the representative chain
    // below catches the remainder), while an unrelated pair that merely
    // shares a few hot tokens collides at j³ ≈ 0.001–0.04 — a single
    // minhash (collision prob = j) floods hot sub-blocks with junk pairs
    // (measured: 2.5M junk pairs at 300k docs). Docs with no text fall
    // back to a hash of their media-token set.
    val sigCols = Seq(
      graft.functions.MinhashSigExpression.minhashSigNative(col("sh"), numBands * rowsPerBand, 0).as("sig_mh"),
      graft.functions.MinhashSigExpression.minhashSigNative(col("sh"), RefineHashes, RefineSeed).as("refine")) ++
      (if (tb > 0) Seq(graft.functions.MinhashSigExpression.minhashSigNative(array_distinct(col("toks")), tb * tkRows, 1000).as("sig_tk"))
       else Seq.empty)
    val sigged = shingled.select(Seq(col("doc_id"), col("toks"), col("md")) ++ sigCols: _*)
    val lshKeys =
      if (tb > 0)
        concat(bandKeysFromSig(col("sig_mh"), numBands, rowsPerBand, Family.Mh),
          bandKeysFromSig(col("sig_tk"), tb, tkRows, Family.Tk))
      else bandKeysFromSig(col("sig_mh"), numBands, rowsPerBand, Family.Mh)
    val mdKeys = transform(col("md"), t => famTag(Family.Md, xxhash64(t)))
    sigged.select(col("doc_id"),
      refineCol(0).as("refine0"), refineCol(1).as("refine1"),
      explode(
        when(size(col("toks")) === 0 && size(col("md")) === 0, array().cast("array<long>"))
          .otherwise(array_union(
            when(size(col("toks")) === 0, mdKeys)
              .otherwise(array_union(array_union(snKeys(col("toks")), lshKeys), mdKeys)),
            array().cast("array<long>"))))
        .as("block_key"))
  }

  /** Blocking stage: docs(doc_id, spans) → (block_key, doc_id).
    *
    * Hot keys above `maxBlockSize` are NOT dropped (the reference's crude
    * skew guard, MacCompression.scala:25 "filter oversized keys to avoid
    * skew", loses every pair whose only shared key is hot — the north rule
    * instead demands salted repartitioning of hot blocking keys). Instead,
    * two complementary recovery paths, both emitting ordinary
    * (block_key, doc_id) rows:
    *
    *  1. CONTENT-REFINED SUB-BLOCKS: the hot key is salted by two
    *     independent content-derived minhash refinements (r0/r1; dedicated
    *     hash seeds, see keyedDocs). Same-entity docs agree on a refinement
    *     with prob ≈ their content Jaccard — so entity groups hiding inside
    *     a mixed hot block become small all-pairs sub-blocks, while
    *     unrelated docs scatter. Sub-blocks are kept when 2 ≤ size ≤ cap;
    *     pair cost per hot key drops from O(s²) to O(s·cap).
    *  2. A REPRESENTATIVE CHAIN per hot key: one pass sorted by doc_id over
    *     {min-doc of each kept r0 sub-block} ∪ {docs in no kept r0
    *     sub-block}, linking consecutive participants via 2-doc chain keys.
    *     O(s) extra candidate pairs guarantee a connectivity path across
    *     sub-blocks, refinement orphans, and identical-content floods that
    *     refinement cannot split (a true dup flood needs only a spanning
    *     chain for connected components to cluster it — never all pairs).
    *     The scorer remains the judge: chain pairs between unrelated docs
    *     simply score below threshold.
    *
    * Everything flows through the same candidatePairs equi-join, so
    * snapshots, resume, and the labeled-pair universe keep their shape.
    * The chain window sorts each hot key in one partition — fine up to
    * ~10^8-row keys; a key beyond that is degenerate input (one token
    * shared by a whole shard) and should be range-chunked upstream.
    * Counters record hot keys/rows and both recovery paths; the returned
    * DataFrame is persisted AND materialized (callers may unpersist).
    */
  def block(docs: DataFrame, numBands: Int = 12, rowsPerBand: Int = 4,
            maxBlockSize: Int = 64, tokenBands: Int = 0): (DataFrame, Map[String, Long]) =
    blockTokenized(tokenized(docs), numBands, rowsPerBand, maxBlockSize, tokenBands)

  /** block() over a pre-tokenized (possibly persisted) relation — the
    * pipeline path sharing one span-extraction pass with scoring.
    */
  def blockTokenized(toked: DataFrame, numBands: Int = 12, rowsPerBand: Int = 4,
            maxBlockSize: Int = 64, tokenBands: Int = 0): (DataFrame, Map[String, Long]) = {
    val o = blockTokenizedFull(toked, numBands, rowsPerBand, maxBlockSize, tokenBands,
      withHotRows = false)
    (o.rows, o.counters)
  }

  /** Blocking output plus (optionally) the RAW hot-key relation
    * (block_key, doc_id, refine0, refine1) — the full membership of every
    * over-cap key BEFORE refinement replaced it. The incremental path
    * (EntityResolution.addDocuments) snapshots this relation so a later
    * increment can recompute the refinement + chain rows of an affected hot
    * key over its MERGED membership exactly as a batch run would — without
    * re-reading any committed document. `hotRows` is persisted +
    * materialized when present; the caller owns its lifetime.
    */
  final case class BlockingOutput(rows: DataFrame, counters: Map[String, Long],
                                  hotRows: Option[DataFrame])

  /** Derive the two refinement sub-keys from the raw hot relation
    * (block_key, doc_id, refine0, refine1) — the single definition shared
    * by the batch route and the increment's [[hotInsertRows]] (sub-key
    * drift between the two would silently break hot-key recall on
    * increments).
    */
  private def hotKeyed(hotBase: DataFrame): DataFrame =
    hotBase.select(col("block_key"), col("doc_id"),
      famTag(Family.Refined, xxhash64(col("block_key"), col("refine0"), lit(0))).as("r0key"),
      famTag(Family.Refined, xxhash64(col("block_key"), col("refine1"), lit(1))).as("r1key"))

  /** The two hot-key recovery paths (see block() scaladoc) over a keyed hot
    * relation (block_key, doc_id, r0key, r1key). Returns the recovery rows
    * (refined sub-blocks ∪ chain rows) and the persisted sub-block-size
    * relation (for the refined_subblocks_kept counter — caller unpersists).
    * Pure function of the hot MEMBERSHIP.
    */
  private def hotRecovery(hot: DataFrame, maxBlockSize: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // path 1: refined sub-blocks from BOTH families (OR-recall)
    val refined = hot.select(explode(array(col("r0key"), col("r1key"))).as("block_key"), col("doc_id"))
    val rsizes = refined.groupBy("block_key").agg(count(lit(1)).as("rsize")).persist()
    val refinedKept = refined
      .join(rsizes.where(col("rsize") <= maxBlockSize && col("rsize") >= 2).select("block_key"), "block_key")
      .select(col("block_key"), col("doc_id"))
    // path 2: representative chain per hot key (r0-family coverage):
    // kept r0 sub-blocks contribute their min doc (the sub-block is already
    // internally all-paired); every other doc participates directly
    val r0stats = hot.groupBy("r0key")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
    val participants = hot.join(r0stats, "r0key")
      .where(col("n") < 2 || col("n") > maxBlockSize || col("doc_id") === col("rep"))
      .select(col("block_key"), col("doc_id"))
    val w = Window.partitionBy("block_key").orderBy("doc_id")
    val chainRows = participants
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag(col("doc_id"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(famTag(Family.Chain, xxhash64(col("block_key"), col("rn"))).as("block_key"),
        explode(array(col("prev"), col("doc_id"))).as("doc_id"))
    (refinedKept.unionByName(chainRows), rsizes)
  }

  /** blockTokenized with the optional raw hot-key relation (see
    * BlockingOutput). `withHotRows = false` adds zero jobs/caches over the
    * round-4 plan.
    */
  def blockTokenizedFull(toked: DataFrame, numBands: Int = 12, rowsPerBand: Int = 4,
            maxBlockSize: Int = 64, tokenBands: Int = 0,
            withHotRows: Boolean = false): BlockingOutput =
    routeKeyed(keyedDocs(toked, numBands, rowsPerBand, tokenBands), maxBlockSize, withHotRows)

  /** The size-routing half of blocking over an ALREADY-KEYED relation
    * (doc_id, refine0, refine1, block_key): key-frequency census → cap →
    * small rows pass through, hot keys go through the two recovery paths.
    * Factored from blockTokenizedFull so the increment routes its new
    * docs' keys that are not committed-hot through the same batch code.
    * Persists its input for the duration.
    */
  private[graft] def routeKeyed(keyedIn: DataFrame, maxBlockSize: Int,
                                withHotRows: Boolean): BlockingOutput = {
    val exploded = keyedIn.persist()
    // key-frequency stats → cap, via hash aggregation + ONE equi-join back
    // (small/hot routed by filter on the joined size): the partial
    // (map-side) aggregation shrinks the key rows to ~#distinct keys before
    // the shuffle, the join avoids the full sort a count-over-window would
    // pay on the exploded rows, and joining once instead of once-per-route
    // halves the largest shuffle of the stage.
    val sizes = exploded.groupBy("block_key").agg(count(lit(1)).as("block_size")).persist()
    // keyed is deliberately NOT persisted: its two consumers (small/hot
    // routes) re-run the join from the two cached parents, and Spark reuses
    // the join's shuffle files across the actions — columnar-encoding a
    // third 14M-row cache costs more (alloc bandwidth at high thread
    // counts) than the re-join reads
    val keyed = exploded.join(sizes, "block_key")
    val small = keyed.where(col("block_size") <= maxBlockSize)
      .select(col("block_key"), col("doc_id"))
    val hotBase = keyed.where(col("block_size") > maxBlockSize)
      .select(col("block_key"), col("doc_id"), col("refine0"), col("refine1"))
    val hot = hotKeyed(hotBase)
    val (recovered, rsizes) = hotRecovery(hot, maxBlockSize)
    val kept = small.unionByName(recovered).persist()
    val blockingRows = kept.count() // materialize before unpersisting parents
    val hotRows = if (withHotRows) {
      val h = hotBase.persist()
      h.count() // materialize off the still-cached parents
      Some(h)
    } else None
    val hotStats = sizes.where(col("block_size") > maxBlockSize)
      .agg(count(lit(1)).as("k"), coalesce(sum(col("block_size")), lit(0L)).as("r"))
      .collect()(0)
    val rKept = rsizes
      .agg(coalesce(sum(when(col("rsize") <= maxBlockSize && col("rsize") >= 2, 1L).otherwise(0L)), lit(0L)))
      .collect()(0).getLong(0)
    exploded.unpersist(); sizes.unpersist(); rsizes.unpersist()
    BlockingOutput(kept, Map(
      "blocking_rows" -> blockingRows,
      "capped_block_keys" -> hotStats.getLong(0),
      "capped_doc_rows" -> hotStats.getLong(1),
      "refined_subblocks_kept" -> rKept), hotRows)
  }

  /** Increment recovery rows for new docs landing in COMMITTED-hot keys
    * (the frozen-structure increment, EntityResolution.addDocuments): the
    * committed refinement/chain rows stay untouched; each new doc emits
    *
    *  1. its two deterministic refinement sub-keys — the SAME
    *     famTag(Refined, hash(block_key, refine)) the batch derives, so the
    *     equi-join pairs it with the kept committed rows of its own
    *     sub-block (and with other new docs in it) with no committed-side
    *     recompute. Sub-keys whose NEW-row count alone exceeds the cap are
    *     dropped (an identical-content flood inside one increment — the
    *     splice chain below keeps it connected, exactly the batch
    *     contract for floods);
    *  2. a SPLICE CHAIN per hot key: the increment's docs sorted by doc_id,
    *     linked consecutively and anchored to the key's committed
    *     representative (min committed member, from block_hot) — chain keys
    *     salted with `chainSalt` so successive increments never collide
    *     with committed chain links. O(|new hot rows|) rows guarantee a
    *     connectivity path into the committed component even where the new
    *     doc's sub-block was dropped or unkept committed-side.
    *
    * Pure function of the NEW rows + per-key committed representative —
    * this is what makes the increment O(delta) where re-deriving the
    * batch hot-key structure would be O(committed hot membership).
    */
  private[graft] def hotInsertRows(newHot: DataFrame, committedReps: DataFrame,
                                   chainSalt: Long, maxBlockSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = hotKeyed(newHot)
    val refined = keyed.select(
      explode(array(col("r0key"), col("r1key"))).as("block_key"), col("doc_id"))
    val rsz = refined.groupBy("block_key").agg(count(lit(1)).as("n"))
    val refinedKept = refined
      .join(rsz.where(col("n") <= maxBlockSize).select("block_key"), "block_key")
    val w = Window.partitionBy("block_key").orderBy("doc_id")
    val splice = newHot.select(col("block_key"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag(col("doc_id"), 1).over(w))
      .join(committedReps, "block_key")
      .withColumn("prev", coalesce(col("prev"), col("rep")))
      .select(
        famTag(Family.Chain, xxhash64(col("block_key"), lit(chainSalt), col("rn"))).as("block_key"),
        explode(array(col("prev"), col("doc_id"))).as("doc_id"))
    refinedKept.unionByName(splice)
  }

  /** Candidate pairs: self equi-join of the blocking output on block_key
    * with doc_id_a < doc_id_b, deduplicated across key families by keeping
    * the MIN block_key per pair (deterministic representative).
    * This is a shuffle hash/sort-merge join on the block key — the
    * distributed replacement for the reference's driver-side
    * collect().toMap + broadcast of the entire AP dataset (AMPI.scala:209),
    * its scalability ceiling.
    */
  def candidatePairs(blocking: DataFrame): DataFrame = {
    val a = blocking.select(col("block_key"), col("doc_id").as("doc_id_a"))
    val b = blocking.select(col("block_key"), col("doc_id").as("doc_id_b"))
    a.join(b, "block_key")
      .where(col("doc_id_a") < col("doc_id_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(min(col("block_key")).as("block_key"))
  }
}
