package graft.operators

import graft.functions.TextSim
import graft.model.ScoredPair
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Batched pairwise scoring within blocks (north rule: "Jaro-Winkler/
  * Levenshtein on span text plus media_ref overlap via weighted Jaccard,
  * vectorized through typed Dataset mapPartitions").
  *
  * Reference analogue: the per-pair merge-scan scorer of AMPI.scala:226-293
  * with its two evidence channels ol_1 (time coverage) / ol_2 (flow ratio)
  * blended under threshold rules (AMPI.scala:385-392), and SIG's
  * inverse-flow weighting of co-occurrence evidence (SIG.scala:46-55).
  *
  * The idf weights ride WITH the data as per-doc (token, weight) arrays
  * computed by a distributed aggregation — at 10¹² docs the media
  * vocabulary is far too large for any driver-side dictionary, so the
  * only driver artifact is the scalar corpus size. (The reference instead
  * collects whole dimension tables to the driver, AMPI.scala:20-66 — the
  * anti-pattern this engine exists to remove.)
  */
object PairScoring {

  final case class ScoreConfig(
      /** blend weight of the text channel */
      gammaText: Double = 0.55,
      /** reject pair outright when text evidence is this weak — the
        * conflict-rejection analogue (AMPI.scala:280,293) */
      conflictTextFloor: Double = 0.15,
      /** max text tokens fed to the O(L^2) Levenshtein kernel */
      maxTokens: Int = 64,
      /** blend the media channel only when BOTH sides carry at least this
        * many media tokens — the conditional-blend analogue of
        * AMPI.scala:385-392 (ol_2 used only when consistent with ol_1):
        * a doc that lost its media spans must not have its perfect text
        * match dragged below threshold by an empty channel */
      minMediaEvidence: Int = 2,
      /** blend weight of the ordered-alignment channel (0 disables) —
        * the flagship matcher's distinctive normalization,
        * AMPI.scala:393-405: per-rank exponential decay over the in-order
        * aligned spans Q, normalized by Q+P+R */
      alignWeight: Double = 0.2,
      /** rank-decay rate γ₃ of the alignment channel (AMPI.scala:404:
        * score_i / e^{γ₃·i}) */
      alignDecay: Double = 0.05,
      /** γ₂-style inner blend between the decayed-coverage term and the
        * raw Q/(Q+P+R) term (AMPI.scala:393-405) */
      alignBlend: Double = 0.5,
      /** M3's cost-weighted denominator (reference Model.scala:529-535:
        * x₁·cost_co + x₂·cost_afcOnly + x₃·cost_apOnly with weights
        * (0.36, 0.14, 0.5)): the alignment ratio becomes
        * Q / (x₁·Q + x₂·P + x₃·R). (1,1,1) = the unweighted Q+P+R form. */
      alignCostCo: Double = 1.0,
      alignCostAOnly: Double = 1.0,
      alignCostBOnly: Double = 1.0,
      /** Candidate PRESCREEN (reference analogue: the top-station
        * intersection prefilter applied before any pair is scored,
        * Model.scala:432-441): when the exact token-overlap ratio
        * |A∩B| / max(|A|,|B|) falls below this, the pair scores 0 without
        * running the O(L²) char-level kernels. Blocking necessarily
        * over-generates (LSH bands fire on shared hot tokens); this is the
        * cheap second stage that keeps the expensive third stage spent on
        * plausible pairs only — measured ~10× scoring throughput on
        * junk-dominated candidate sets. 0 disables.
        *
        * RECALL-CRITICAL: exact-token overlap is only an approximation of
        * char-level similarity — a true pair whose tokens are typo'd on
        * BOTH sides can sit far below its JW/Levenshtein similarity (a
        * doc with 3 of 4 name tokens edited scores overlap ≈ 0.43 while
        * simText ≈ 0.85). The default stays well below the plausible
        * true-pair floor; raise it only with corpus-specific evidence. */
      prescreenOverlap: Double = 0.3,
      /** HARD CONFLICT ELIMINATION (reference M7,
        * MultiUserMatch.scala:104-121: a device observed ELSEWHERE at tap
        * time vetoes the pair regardless of similarity): media tokens
        * carrying this prefix are exclusive identity claims — if both docs
        * assert one and the sets are disjoint, the pair scores 0. Empty
        * string disables. */
      exclusivePrefix: String = "xid:")

  /** Feature relation plus the persisted media-token cache backing it
    * (featuresTokenized always sets it; an Option because erbench reads it
    * as one): the CALLER owns the cache lifetime — release() it once every
    * consumer of `feats` is durable, or one materialized cache leaks per
    * pipeline run in a long-lived session (sweep loops, services).
    */
  final case class Features(feats: DataFrame, mediaTokenCache: Option[DataFrame],
                            /** (mid, df) document frequencies backing the idf
                              * weights — the relation the pipeline snapshots so
                              * an increment can merge in new docs' frequencies
                              * and reproduce batch weights EXACTLY (weight =
                              * ln(1 + N_total/df_merged)) without rescanning
                              * committed docs. Recomputes from the media-token
                              * cache; consume it while that cache is alive. */
                            dfRel: Option[DataFrame] = None) {
    def release(): Unit = mediaTokenCache.foreach(_.unpersist())
  }

  /** Per-doc scoring features, HASH-ENCODED for the pair shuffle, from a
    * pre-tokenized (possibly persisted) relation — the pipeline shares one
    * span-extraction pass with blocking. ONE pass over the (toks, md)
    * projection feeds both the media-idf aggregation and the feature join
    * (round 2 tokenized the source twice per run):
    *
    *  - txt:      the maxTokens-truncated tokens joined by ' ' — the ONE
    *              string per side the char-level JW/Levenshtein channel
    *              needs (an array<string> of tokens would decode to ~64
    *              objects per side per pair);
    *  - tok_ids:  xxhash64 per truncated token, order preserved (LCS +
    *              overlap prescreen run on 8-byte primitives);
    *  - m_ids/m_ws: id-SORTED parallel arrays of media-token hash + idf
    *              weight, computed DISTRIBUTEDLY (explode → df counts →
    *              join back → per-doc sort) — no driver dictionary at any
    *              scale, weight(t) = ln(1 + N/df(t));
    *  - x_ids:    sorted hashes of exclusive-claim tokens (cfg.exclusivePrefix),
    *              extracted BEFORE hashing destroys the prefix.
    *
    * Token-hash collisions (~2^-64 per comparison) can only nudge a
    * channel score, never corrupt ids: doc ids stay strings end-to-end.
    */
  def featuresTokenized(toked: DataFrame, nDocs: Long,
                        cfg: ScoreConfig = ScoreConfig()): Features = {
    graft.GraftExtensions.register(toked.sparkSession)
    val base = toked
    // ONE tokenization pass: the exploded media-token relation feeds BOTH
    // the df aggregation and the join-back, so it is persisted — the
    // aggregation's map stage writes the cache blocks and the join stage
    // reads them within the same action (round 2 tokenized the source
    // twice per run). The cache is compact ((doc_id, long, bool) rows, no
    // text payload) and is RETURNED to the caller (Features.release), so
    // a long-lived session does not accumulate one cache per run; at
    // 10^12 docs this is the relation you'd materialize as a table anyway.
    val mtok = mediaTokenRows(base, cfg.exclusivePrefix)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // mediaTokens is distinct per doc => count(*) per id == document freq
    val dfRel = mtok.groupBy("mid").agg(count(lit(1)).as("df"))
    val w = dfRel.select(col("mid"), log1p(lit(nDocs.toDouble) / col("df")).as("w"))
    val feats = assembleFeatures(base, mtok, w, cfg)
    Features(feats, Some(mtok), Some(dfRel))
  }

  /** Exploded per-doc media-token rows (doc_id, mid, is_x) — the relation
    * both the df aggregation and the feature assembly read.
    */
  private[graft] def mediaTokenRows(base: DataFrame, exclusivePrefix: String): DataFrame =
    base.select(col("doc_id"), explode(col("md")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("mid"),
        (if (exclusivePrefix.isEmpty) lit(false)
         else col("tok").startsWith(exclusivePrefix)).as("is_x"))

  /** The weight-independent text feature columns (doc_id, txt, tok_ids) —
    * shared by the batch assembly and the doc_features snapshot builder.
    */
  private def textFeatureCols(base: DataFrame, cfg: ScoreConfig): DataFrame =
    base.select(col("doc_id"),
      concat_ws(" ", slice(col("toks"), 1, cfg.maxTokens)).as("txt"),
      transform(slice(col("toks"), 1, cfg.maxTokens), t => xxhash64(t)).as("tok_ids"))

  /** Assemble the hash-encoded feature relation from a tokenized base, its
    * media-token rows, and a (mid, w) WEIGHT relation. The weight source is
    * the only thing that differs between a batch run (df self-aggregated
    * over the corpus) and an increment (committed df merged with the new
    * docs'), so both paths flow through this one definition — identical
    * weights in ⇒ bit-identical features and pair scores out.
    */
  private[graft] def assembleFeatures(base: DataFrame, mtok: DataFrame, w: DataFrame,
                                      cfg: ScoreConfig): DataFrame = {
    val media = mtok.join(w, "mid")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("mid"), col("w"), col("is_x")))).as("mw"))
      .select(col("doc_id"),
        transform(col("mw"), x => x.getField("mid")).as("m_ids"),
        transform(col("mw"), x => x.getField("w")).as("m_ws"),
        transform(filter(col("mw"), x => x.getField("is_x")), x => x.getField("mid")).as("x_ids"))
    textFeatureCols(base, cfg)
      .join(media, Seq("doc_id"), "left")
      .select(col("doc_id"), col("txt"), col("tok_ids"),
        coalesce(col("m_ids"), array().cast("array<long>")).as("m_ids"),
        coalesce(col("m_ws"), array().cast("array<double>")).as("m_ws"),
        coalesce(col("x_ids"), array().cast("array<long>")).as("x_ids"))
  }

  /** The per-doc relation the incremental path snapshots as `doc_features`
    * (doc_id, txt, tok_ids, m_ids, x_ids): everything scoring needs EXCEPT
    * the idf weights, which must move with corpus growth and are re-derived
    * from the media_df snapshot at each increment. All arrays are id-sorted
    * (mediaTokens is distinct per doc, so sorting by mid alone reproduces
    * assembleFeatures' struct-sorted order).
    */
  private[graft] def storedFeatures(base: DataFrame, mtok: DataFrame,
                                    cfg: ScoreConfig): DataFrame = {
    val media = mtok.groupBy("doc_id").agg(
      sort_array(collect_list(col("mid"))).as("m_ids"),
      sort_array(collect_list(when(col("is_x"), col("mid")))).as("x_ids"))
    textFeatureCols(base, cfg)
      .join(media, Seq("doc_id"), "left")
      .select(col("doc_id"), col("txt"), col("tok_ids"),
        coalesce(col("m_ids"), array().cast("array<long>")).as("m_ids"),
        coalesce(col("x_ids"), array().cast("array<long>")).as("x_ids"))
  }

  /** Rebuild the full scoring feature relation from a committed
    * doc_features snapshot and a (mid, w) weight relation — no span decode,
    * no re-tokenization of committed docs: the only per-token work is
    * re-attaching weights. Output columns and values are identical to
    * assembleFeatures under equal weights (IncrementalSpec asserts pair
    * scores over the two are bit-equal).
    */
  private[graft] def featuresFromStored(stored: DataFrame, w: DataFrame): DataFrame = {
    val media = stored.select(col("doc_id"), explode(col("m_ids")).as("mid"))
      .join(w, "mid")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("mid"), col("w")))).as("mw"))
      .select(col("doc_id"),
        transform(col("mw"), x => x.getField("mid")).as("mm_ids"),
        transform(col("mw"), x => x.getField("w")).as("mm_ws"))
    stored.select(col("doc_id"), col("txt"), col("tok_ids"), col("x_ids"))
      .join(media, Seq("doc_id"), "left")
      .select(col("doc_id"), col("txt"), col("tok_ids"),
        coalesce(col("mm_ids"), array().cast("array<long>")).as("m_ids"),
        coalesce(col("mm_ws"), array().cast("array<double>")).as("m_ws"),
        col("x_ids"))
  }

  /** Weighted Jaccard from aligned (token, weight) arrays; both sides carry
    * the same global weight for the same token, so
    * inter = Σ_{A∩B} w and union = Σ_A w + Σ_B w − inter.
    */
  def weightedJaccardArrays(
      ta: Seq[String], wa: Seq[Double],
      tb: Seq[String], wb: Seq[Double]): Double = {
    if (ta.isEmpty && tb.isEmpty) return 0.0
    val bset = tb.toSet
    var inter = 0.0
    var sa = 0.0
    var i = 0
    while (i < ta.length) {
      sa += wa(i)
      if (bset.contains(ta(i))) inter += wa(i)
      i += 1
    }
    var sb = 0.0
    var j = 0
    while (j < wb.length) { sb += wb(j); j += 1 }
    val uni = sa + sb - inter
    if (uni <= 0.0) 0.0 else inter / uni
  }

  /** Ordered-alignment channel (reference M1's distinctive normalization,
    * AMPI.scala:393-405): Q = in-order aligned tokens (LCS), P/R = each
    * side's unaligned remainder. The γ₂ blend combines
    *  - the rank-DECAYED coverage Σ_{i<Q} e^{-γ₃ i} / Σ_{i<min(na,nb)}
    *    e^{-γ₃ i} (early aligned spans dominate — the e^{γ₃·i} divisor of
    *    AMPI.scala:404 in normalized form; both sums are closed-form
    *    geometric series), and
    *  - the raw Σ s_i / (Q+P+R) with s_i = 1 — literally AMPI.scala:405's
    *    denominator, since Q+P+R = na+nb−Q.
    * 1.0 for identical sequences, → 0 for disjoint ones.
    */
  def alignScore(textA: Seq[String], textB: Seq[String], decay: Double, blend: Double,
                 costCo: Double = 1.0, costAOnly: Double = 1.0, costBOnly: Double = 1.0): Double = {
    val na = textA.length; val nb = textB.length
    if (na == 0 || nb == 0) return 0.0
    alignScoreFromLcs(TextSim.tokenLcs(textA, textB), na, nb, decay, blend,
      costCo, costAOnly, costBOnly)
  }

  /** The alignment blend given a precomputed LCS length Q (shared by the
    * string and the hashed-id kernels).
    */
  def alignScoreFromLcs(q: Int, na: Int, nb: Int, decay: Double, blend: Double,
                        costCo: Double, costAOnly: Double, costBOnly: Double): Double = {
    if (q == 0 || na == 0 || nb == 0) return 0.0
    def geo(n: Int): Double =
      if (decay <= 0.0) n.toDouble
      else (1.0 - math.exp(-decay * n)) / (1.0 - math.exp(-decay))
    val decayed = geo(q) / geo(math.min(na, nb))
    // M3 weighted denominator (Model.scala:529-535), Q+P+R at (1,1,1)
    val denom = costCo * q + costAOnly * (na - q) + costBOnly * (nb - q)
    val qpr = if (denom <= 0.0) 0.0 else costCo * q / denom
    blend * decayed + (1.0 - blend) * qpr
  }

  /** M7 hard conflict: both docs assert an exclusive-identity media token
    * (prefix-marked) and the claims are disjoint — the pair is vetoed no
    * matter how similar the text (reference MultiUserMatch.scala:104-121:
    * the device was provably elsewhere).
    */
  def exclusiveConflict(mToksA: Seq[String], mToksB: Seq[String], prefix: String): Boolean = {
    if (prefix.isEmpty) return false
    val xa = mToksA.filter(_.startsWith(prefix))
    if (xa.isEmpty) return false
    val xb = mToksB.filter(_.startsWith(prefix))
    if (xb.isEmpty) return false
    val sa = xa.toSet
    !xb.exists(sa.contains)
  }

  /** Exact MULTISET token-overlap ratio |A ⊓ B| / max(|A|,|B|) — O(n)
    * count-map probe. Multiset (not set) intersection: repeated tokens
    * (Zipf-head noise) must count with multiplicity or identical docs
    * carrying duplicates would under-score.
    */
  def tokenOverlapRatio(a: Seq[String], b: Seq[String]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val (small, large) = if (a.length <= b.length) (a, b) else (b, a)
    val counts = new java.util.HashMap[String, Int](small.length * 2)
    small.foreach(t => counts.merge(t, 1, Integer.sum))
    var inter = 0
    val it = large.iterator
    while (it.hasNext) {
      val t = it.next()
      val c = counts.getOrDefault(t, 0)
      if (c > 0) { inter += 1; counts.put(t, c - 1) }
    }
    inter.toDouble / math.max(a.length, b.length)
  }

  /** Blend the channel scores into the final pair score — the one place
    * the blend-path rules live (shared by the scoring kernels AND the
    * parameter-sweep re-blend, which replays it over committed channels).
    */
  def blendChannels(simText: Double, simMedia: Double, simAlign: Double,
                    mediaUsable: Boolean, vetoed: Boolean, cfg: ScoreConfig): Double = {
    val base =
      if (simText < cfg.conflictTextFloor) 0.0
      else if (!mediaUsable) simText
      else cfg.gammaText * simText + (1.0 - cfg.gammaText) * simMedia
    val blended =
      if (base == 0.0) 0.0
      else (1.0 - cfg.alignWeight) * base + cfg.alignWeight * simAlign
    if (vetoed) 0.0 else blended
  }

  /** blendChannels as a COLUMN expression over committed ScoredPair rows —
    * the parameter-sweep path (reference AMPI.scala:371-421 re-blends one
    * cached scored RDD under a γ grid): re-scoring zero pairs, a sweep
    * point is one arithmetic projection. Must mirror blendChannels exactly
    * (SweepSpec asserts the kernel and the column agree).
    */
  def blendColumn(simText: org.apache.spark.sql.Column, simMedia: org.apache.spark.sql.Column,
                  simAlign: org.apache.spark.sql.Column, mediaUsable: org.apache.spark.sql.Column,
                  vetoed: org.apache.spark.sql.Column, cfg: ScoreConfig,
                  gammaText: Double): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val base = when(simText < cfg.conflictTextFloor, lit(0.0))
      .when(!mediaUsable, simText)
      .otherwise(lit(gammaText) * simText + lit(1.0 - gammaText) * simMedia)
    val blended = when(base === 0.0, lit(0.0))
      .otherwise(lit(1.0 - cfg.alignWeight) * base + lit(cfg.alignWeight) * simAlign)
    when(vetoed, lit(0.0)).otherwise(blended)
  }

  /** Pure per-pair kernel (array-weights form), unit-testable off-Spark.
    * Returns (simText, simMedia, simAlign, blended score).
    */
  def scorePairArrays(
      textA: Seq[String], mToksA: Seq[String], mWsA: Seq[Double],
      textB: Seq[String], mToksB: Seq[String], mWsB: Seq[Double],
      cfg: ScoreConfig): (Double, Double, Double, Double) = {
    val ta = if (textA.length > cfg.maxTokens) textA.take(cfg.maxTokens) else textA
    val tb = if (textB.length > cfg.maxTokens) textB.take(cfg.maxTokens) else textB
    // stage 2 of the candidate funnel: cheap exact-overlap prescreen before
    // the O(L²) kernels (see ScoreConfig.prescreenOverlap)
    if (cfg.prescreenOverlap > 0.0 && tokenOverlapRatio(ta, tb) < cfg.prescreenOverlap)
      return (0.0, 0.0, 0.0, 0.0)
    val ja = ta.mkString(" ")
    val jb = tb.mkString(" ")
    val simText = 0.5 * TextSim.jaroWinkler(ja, jb) + 0.5 * TextSim.levenshteinRatio(ja, jb)
    val simMedia = weightedJaccardArrays(mToksA, mWsA, mToksB, mWsB)
    val simAlign =
      if (cfg.alignWeight <= 0.0) 0.0
      else alignScore(ta, tb, cfg.alignDecay, cfg.alignBlend,
        cfg.alignCostCo, cfg.alignCostAOnly, cfg.alignCostBOnly)
    val mediaUsable = math.min(mToksA.size, mToksB.size) >= cfg.minMediaEvidence
    val score = blendChannels(simText, simMedia, simAlign, mediaUsable,
      exclusiveConflict(mToksA, mToksB, cfg.exclusivePrefix), cfg)
    (simText, simMedia, simAlign, score)
  }

  /** Weighted Jaccard over id-SORTED (id, weight) arrays — a merge walk,
    * no set allocation. Both sides carry the same global weight per id, so
    * inter = Σ_{A∩B} w and union = Σ_A w + Σ_B w − inter.
    */
  def weightedJaccardSorted(
      ia: Array[Long], wa: Array[Double],
      ib: Array[Long], wb: Array[Double]): Double = {
    if (ia.length == 0 && ib.length == 0) return 0.0
    var i = 0; var j = 0
    var inter = 0.0; var sa = 0.0; var sb = 0.0
    while (i < ia.length && j < ib.length) {
      if (ia(i) == ib(j)) { inter += wa(i); sa += wa(i); sb += wb(j); i += 1; j += 1 }
      else if (ia(i) < ib(j)) { sa += wa(i); i += 1 }
      else { sb += wb(j); j += 1 }
    }
    while (i < ia.length) { sa += wa(i); i += 1 }
    while (j < ib.length) { sb += wb(j); j += 1 }
    val uni = sa + sb - inter
    if (uni <= 0.0) 0.0 else inter / uni
  }

  /** M7 veto over pre-extracted SORTED exclusive-id arrays: both sides
    * assert claims and the claim sets are disjoint (merge-walk check).
    */
  def exclusiveConflictSorted(xa: Array[Long], xb: Array[Long]): Boolean = {
    if (xa.length == 0 || xb.length == 0) return false
    var i = 0; var j = 0
    while (i < xa.length && j < xb.length) {
      if (xa(i) == xb(j)) return false
      else if (xa(i) < xb(j)) i += 1
      else j += 1
    }
    true
  }

  /** Multiset token-overlap ratio over 64-bit token ids (sort + merge —
    * see OverlapLongExpression, whose columnar form must stay a superset
    * of this exact check).
    */
  def tokenOverlapRatioLong(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 || b.length == 0) return 0.0
    val inter = graft.functions.OverlapLongExpression.multisetIntersect(a.clone(), b.clone())
    inter.toDouble / math.max(a.length, b.length)
  }

  /** Hot-path per-pair kernel over HASH-ENCODED features (see `featuresTokenized`):
    * token ids are xxhash64 longs (pre-truncated to cfg.maxTokens), media
    * ids/weights are id-sorted parallel arrays, exclusive claims are
    * pre-extracted sorted id arrays, and the joined text string is
    * precomputed per doc. Equivalent to scorePairArrays under the hashing
    * (collisions ~2^-64/pair; property-tested in PairScoringSpec); the pair
    * shuffle this kernel reads carries primitives + ONE string per side
    * instead of five string arrays — the round-3 shuffle/decode diet.
    * Returns (simText, simMedia, simAlign, score, mediaUsable, vetoed).
    */
  def scorePairIds(
      txtA: String, tokA: Array[Long], mIdsA: Array[Long], mWsA: Array[Double], xA: Array[Long],
      txtB: String, tokB: Array[Long], mIdsB: Array[Long], mWsB: Array[Double], xB: Array[Long],
      cfg: ScoreConfig): (Double, Double, Double, Double, Boolean, Boolean) = {
    val mediaUsable = math.min(mIdsA.length, mIdsB.length) >= cfg.minMediaEvidence
    if (cfg.prescreenOverlap > 0.0 && tokenOverlapRatioLong(tokA, tokB) < cfg.prescreenOverlap)
      return (0.0, 0.0, 0.0, 0.0, mediaUsable, false)
    val simText = 0.5 * TextSim.jaroWinkler(txtA, txtB) + 0.5 * TextSim.levenshteinRatio(txtA, txtB)
    val simMedia = weightedJaccardSorted(mIdsA, mWsA, mIdsB, mWsB)
    val simAlign =
      if (cfg.alignWeight <= 0.0) 0.0
      else {
        val q = TextSim.tokenLcsLong(tokA, tokB)
        alignScoreFromLcs(q, tokA.length, tokB.length, cfg.alignDecay, cfg.alignBlend,
          cfg.alignCostCo, cfg.alignCostAOnly, cfg.alignCostBOnly)
      }
    val vetoed = cfg.exclusivePrefix.nonEmpty && exclusiveConflictSorted(xA, xB)
    val score = blendChannels(simText, simMedia, simAlign, mediaUsable, vetoed, cfg)
    (simText, simMedia, simAlign, score, mediaUsable, vetoed)
  }

  /** The joined + columnar-prescreened candidate-with-features relation
    * shared by the native and typed scoring paths.
    */
  private def screenedCandidates(
      feats: DataFrame, candidates: DataFrame, cfg: ScoreConfig): DataFrame = {
    def side(s: String) = feats.select(col("doc_id").as(s"doc_id_$s"), col("txt").as(s"txt_$s"),
      col("tok_ids").as(s"tok_$s"), col("m_ids").as(s"mi_$s"),
      col("m_ws").as(s"mw_$s"), col("x_ids").as(s"x_$s"))
    val joinedDf = candidates
      .join(side("a"), "doc_id_a")
      .join(side("b"), "doc_id_b")
      .select("doc_id_a", "doc_id_b", "block_key",
        "txt_a", "tok_a", "mi_a", "mw_a", "x_a",
        "txt_b", "tok_b", "mi_b", "mw_b", "x_b")
    // columnar prescreen FIRST: junk pairs are rejected while still inside
    // Tungsten rows (native overlap_milli_long over primitive long arrays)
    // before the full kernel runs — the measured hot spot on
    // junk-dominated candidate sets. Threshold floor()'d so the columnar
    // filter is a strict SUPERSET of the kernel's exact check (which
    // remains the authority).
    if (cfg.prescreenOverlap <= 0.0) joinedDf
    else {
      val thr = math.floor(cfg.prescreenOverlap * 1000).toInt
      joinedDf.where(graft.functions.OverlapLongExpression.overlapMilliLong(
        col("tok_a"), col("tok_b")) >= thr)
    }
  }

  /** Score all candidate pairs against a PRECOMPUTED feature table (see
    * `featuresTokenized`; callers persist it — the pipeline does — so the idf
    * aggregation and tokenization run once per pipeline, not once per
    * downstream materialization).
    *
    * NATIVE path: the whole kernel is ONE codegen'd expression
    * (ScorePairExpression) in a plain projection — ids and block_key never
    * leave Tungsten, no typed decode/encode boundary (the round-3
    * mapPartitions path allocated a 13-field tuple + ScoredPair per pair;
    * stage census: ~1.4× task-CPU inflation at 4 threads). The six struct
    * extractions share one kernel evaluation via ProjectExec
    * subexpression elimination. scoreFeaturesTyped below is the
    * executable spec; PairScoringSpec asserts the two paths agree.
    */
  def scoreFeatures(
      spark: SparkSession,
      feats: DataFrame,
      candidates: DataFrame,
      cfg: ScoreConfig = ScoreConfig()): Dataset[ScoredPair] = {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val sp = graft.functions.ScorePairExpression.scorePairNative(cfg, Seq(
      col("txt_a"), col("tok_a"), col("mi_a"), col("mw_a"), col("x_a"),
      col("txt_b"), col("tok_b"), col("mi_b"), col("mw_b"), col("x_b")))
    screenedCandidates(feats, candidates, cfg)
      .withColumn("sp", sp)
      .select(col("doc_id_a"), col("doc_id_b"), col("block_key"),
        col("sp.sim_text").as("sim_text"), col("sp.sim_media").as("sim_media"),
        col("sp.sim_align").as("sim_align"), col("sp.score").as("score"),
        col("sp.media_usable").as("media_usable"), col("sp.vetoed").as("vetoed"))
      .as[ScoredPair]
  }

  /** The typed mapPartitions scoring path — kept as the executable spec of
    * scoreFeatures' native expression (PairScoringSpec asserts equality
    * pair-for-pair); not the hot path.
    */
  def scoreFeaturesTyped(
      spark: SparkSession,
      feats: DataFrame,
      candidates: DataFrame,
      cfg: ScoreConfig = ScoreConfig()): Dataset[ScoredPair] = {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val joined = screenedCandidates(feats, candidates, cfg).as[(String, String, Long,
      String, Array[Long], Array[Long], Array[Double], Array[Long],
      String, Array[Long], Array[Long], Array[Double], Array[Long])]
    joined.mapPartitions { it =>
      it.map { case (a, b, bk, txa, ta, mia, mwa, xa, txb, tb, mib, mwb, xb) =>
        val (st, sm, sal, sc, mu, vt) = scorePairIds(txa, ta, mia, mwa, xa, txb, tb, mib, mwb, xb, cfg)
        ScoredPair(a, b, bk, st, sm, sal, sc, mu, vt)
      }
    }
  }
}
