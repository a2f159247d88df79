package graft.operators

import graft.SparkSpec
import graft.eval.Eval
import graft.model.{Doc, Span}
import graft.pipeline.EntityResolution
import graft.functions.TextSim
import org.apache.spark.sql.functions._

class PairScoringSpec extends SparkSpec {

  private val cfg = PairScoring.ScoreConfig()

  test("tokenLcs: identity, disjoint, subsequence, order sensitivity") {
    assert(TextSim.tokenLcs(Seq("a", "b", "c"), Seq("a", "b", "c")) == 3)
    assert(TextSim.tokenLcs(Seq("a", "b"), Seq("x", "y")) == 0)
    assert(TextSim.tokenLcs(Seq("a", "x", "b", "y", "c"), Seq("a", "b", "c")) == 3)
    // reversal destroys in-order alignment (unlike set similarity)
    assert(TextSim.tokenLcs(Seq("a", "b", "c", "d"), Seq("d", "c", "b", "a")) == 1)
    assert(TextSim.tokenLcs(Seq.empty, Seq("a")) == 0)
  }

  test("alignScore: 1.0 on identical, monotone in alignment, decay favors early ranks") {
    val t = Seq("q", "w", "e", "r", "t", "y")
    assert(math.abs(PairScoring.alignScore(t, t, 0.05, 0.5) - 1.0) < 1e-12)
    val partial = PairScoring.alignScore(t, Seq("q", "w", "e"), 0.05, 0.5)
    assert(partial > 0.5 && partial < 1.0) // full prefix of the shorter side
    val none = PairScoring.alignScore(t, Seq("z1", "z2"), 0.05, 0.5)
    assert(none == 0.0)
    // with decay, aligning 3 of 6 scores MORE than 3/6 raw coverage terms
    // would suggest (early ranks dominate the geometric normalizer)
    val half = PairScoring.alignScore(t, Seq("q", "w", "e", "n1", "n2", "n3"), 0.5, 1.0)
    val flat = PairScoring.alignScore(t, Seq("q", "w", "e", "n1", "n2", "n3"), 0.0, 1.0)
    assert(half > flat, s"decayed $half should exceed flat $flat")
  }

  test("alignScore M3 cost weights: reference (0.36,0.14,0.5) reweights the denominator") {
    val a = Seq("p", "q", "r", "s")
    val b = Seq("p", "q", "x", "y", "z")
    // q=2, P=2, R=3; blend=0 isolates the ratio term
    val unweighted = PairScoring.alignScore(a, b, 0.0, 0.0)
    assert(math.abs(unweighted - 2.0 / 7.0) < 1e-12)
    val weighted = PairScoring.alignScore(a, b, 0.0, 0.0, 0.36, 0.14, 0.5)
    val want = 0.36 * 2 / (0.36 * 2 + 0.14 * 2 + 0.5 * 3)
    assert(math.abs(weighted - want) < 1e-12)
    // identical sequences stay 1.0 under any co-weight
    assert(math.abs(PairScoring.alignScore(a, a, 0.0, 0.0, 0.36, 0.14, 0.5) - 1.0) < 1e-12)
  }

  test("exclusiveConflict: disjoint strong ids veto, shared or absent ids don't") {
    assert(PairScoring.exclusiveConflict(Seq("xid:1", "m1"), Seq("xid:2", "m1"), "xid:"))
    assert(!PairScoring.exclusiveConflict(Seq("xid:1", "m1"), Seq("xid:1", "m2"), "xid:"))
    assert(!PairScoring.exclusiveConflict(Seq("m1"), Seq("xid:2"), "xid:")) // one side silent
    assert(!PairScoring.exclusiveConflict(Seq("xid:1"), Seq("xid:1", "xid:2"), "xid:")) // overlap
    assert(!PairScoring.exclusiveConflict(Seq("xid:1"), Seq("xid:2"), "")) // disabled
  }

  test("conflict elimination flips a would-be false merge end-to-end (M7)") {
    import spark.implicits._
    // two docs with IDENTICAL text + shared weak media, but disjoint strong
    // identity claims — without the veto they must merge; with it they must not
    def doc(id: String, xid: String) = Doc(id,
      ("alpha beta gamma delta epsilon zeta".split(" ").zipWithIndex.map {
        case (t, i) => Span("text", t, "", i)
      } ++ Seq(
        Span("media", "", "dev_shared_1", 100), Span("media", "", "dev_shared_2", 101),
        Span("media", "", s"xid:$xid", 102))).toSeq)
    val docs = Seq(doc("d1", "AAA"), doc("d2", "BBB")).toDF()

    val vetoOn = EntityResolution.run(spark, docs)
    val onClusters = vetoOn.assignments.select("cluster_id").distinct().count()
    assert(onClusters == 2, "disjoint xid claims must veto the merge")

    val vetoOff = EntityResolution.run(spark, docs,
      EntityResolution.PipelineConfig(scoring = cfg.copy(exclusivePrefix = "")))
    val offClusters = vetoOff.assignments.select("cluster_id").distinct().count()
    assert(offClusters == 1, "without the veto the identical docs merge (false merge)")
  }

  test("native token_overlap_milli matches the kernel multiset ratio (incl. duplicates)") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val cases = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "a", "a"), Seq("a", "a", "a")),      // duplicates must count
      (Seq("a", "a", "b"), Seq("a", "c", "c")),
      (Seq("x"), Seq("y")),
      (Seq("a", "b"), Seq("b", "a", "z")))
    val df = cases.toDF("ta", "tb")
      .withColumn("m", graft.functions.TokenOverlapExpression.tokenOverlapMilli(col("ta"), col("tb")))
    val got = df.select("m").as[Int].collect().toSeq
    val want = cases.map { case (a, b) =>
      math.floor(PairScoring.tokenOverlapRatio(a, b) * 1000).toInt
    }
    assert(got == want, s"$got != $want")
  }

  private def checkProp(p: org.scalacheck.Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("TopKAggregator: merge of partials equals global top-k for any split (property)") {
    import org.scalacheck.{Gen, Prop}
    val agg = new graft.functions.TopKAggregator(5)
    val rowsGen = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(0.0, 1.0)))
    checkProp(Prop.forAll(rowsGen, Gen.chooseNum(0, 100)) { (rows, cut) =>
      // partition-independence: split anywhere, reduce each side, merge —
      // must equal the single-buffer reduction (what Spark's partial
      // aggregation relies on)
      val global = rows.foldLeft(agg.zero)(agg.reduce)
      val k = if (rows.isEmpty) 0 else cut % (rows.length + 1)
      val (l, r) = rows.splitAt(k)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val mergeOk = agg.finish(merged) == agg.finish(global)
      // and on duplicate-free input the result is the true top-5 under
      // (score desc, id asc)
      val correctOk = rows.distinct != rows || {
        val want = rows.sortBy { case (id, s) => (-s, id) }.map(_._1).take(5)
        agg.finish(global) == want
      }
      mergeOk && correctOk
    })
  }

  test("tokenLcs agrees with a brute-force recursive LCS (property)") {
    import org.scalacheck.{Gen, Prop}
    def brute(a: List[String], b: List[String]): Int = (a, b) match {
      case (x :: xs, y :: ys) =>
        if (x == y) 1 + brute(xs, ys)
        else math.max(brute(xs, b), brute(a, ys))
      case _ => 0
    }
    val tok = Gen.oneOf("a", "b", "c")
    checkProp(Prop.forAll(Gen.listOfN(7, tok), Gen.listOfN(7, tok)) { (a, b) =>
      TextSim.tokenLcs(a, b) == brute(a, b)
    })
  }

  test("prescreen keeps a true pair with heavy both-side typos (seed-99 regression)") {
    // real missed pair from seed 99: 3 of 4 name tokens edited on each
    // side => exact-token overlap 3/7 ≈ 0.43, while char-level sim ≈ 0.85;
    // the prescreen default must sit below such pairs
    val a = Seq("tpfidbis", "fdxvwlccr", "awpptmbr", "lxhvznri", "hot8", "hot8", "hot1")
    val b = Seq("tpmidbs", "dxvwlccr", "awpptmbr", "lhvznri", "hotk", "hot8", "hot1")
    assert(PairScoring.tokenOverlapRatio(a, b) < 0.5) // would die at 0.5
    val (st, _, _, sc) = PairScoring.scorePairArrays(
      a, Seq.empty, Seq.empty, b, Seq.empty, Seq.empty, cfg)
    assert(st > 0.7, s"simText $st")
    assert(sc > 0.6, s"score $sc — prescreen must not kill this pair")
  }

  test("scorePairIds == scorePairArrays under a collision-free token encoding (property)") {
    import org.scalacheck.{Gen, Prop}
    // the hashed-id kernel must reproduce the string kernel exactly when
    // the encoding is injective (xxhash64 collisions are ~2^-64; here we
    // use a perfect dictionary so any mismatch is a kernel bug)
    val tok = Gen.oneOf("alpha", "beta", "gamma", "dlta", "epsilon", "zeta", "eta", "thta")
    val mtok = Gen.oneOf("m1", "m2", "m3", "xid:A", "xid:B", "xid:C")
    def w(t: String): Double = 1.0 + (math.abs(t.hashCode) % 10) / 10.0
    def dict(t: String): Long = t.hashCode.toLong // injective on this alphabet
    val sideGen = Gen.zip(Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, tok)), Gen.listOf(mtok).map(_.distinct))
    checkProp(Prop.forAll(sideGen, sideGen) { case ((ta, ma), (tb, mb)) =>
      val cfgs = Seq(cfg, cfg.copy(prescreenOverlap = 0.0),
        cfg.copy(exclusivePrefix = "", minMediaEvidence = 1, gammaText = 0.7))
      cfgs.forall { c =>
        val (st, sm, sa, sc) = PairScoring.scorePairArrays(
          ta, ma, ma.map(w), tb, mb, mb.map(w), c)
        def enc(toks: Seq[String]) = toks.take(c.maxTokens).map(dict).toArray
        def med(ms: Seq[String]) = {
          val sorted = ms.map(t => (dict(t), w(t))).sortBy(_._1)
          (sorted.map(_._1).toArray, sorted.map(_._2).toArray)
        }
        val (mia, mwa) = med(ma); val (mib, mwb) = med(mb)
        def xs(ms: Seq[String]) =
          if (c.exclusivePrefix.isEmpty) Array.empty[Long]
          else ms.filter(_.startsWith(c.exclusivePrefix)).map(dict).sorted.toArray
        val (st2, sm2, sa2, sc2, _, _) = PairScoring.scorePairIds(
          ta.take(c.maxTokens).mkString(" "), enc(ta), mia, mwa, xs(ma),
          tb.take(c.maxTokens).mkString(" "), enc(tb), mib, mwb, xs(mb), c)
        math.abs(st - st2) < 1e-12 && math.abs(sm - sm2) < 1e-9 &&
          math.abs(sa - sa2) < 1e-12 && math.abs(sc - sc2) < 1e-9
      }
    })
  }

  test("weighted jaccard arrays: symmetric, bounded, idf-sensitive") {
    val w = PairScoring.weightedJaccardArrays(
      Seq("a", "b"), Seq(1.0, 3.0), Seq("b", "c"), Seq(3.0, 1.0))
    assert(math.abs(w - 3.0 / 5.0) < 1e-12)
    assert(PairScoring.weightedJaccardArrays(Seq.empty, Seq.empty, Seq.empty, Seq.empty) == 0.0)
  }

  test("native score_pair expression == typed mapPartitions spec, every pair, both configs") {
    // the native Catalyst path (scoreFeatures) must reproduce the typed
    // executable spec (scoreFeaturesTyped) bit-for-bit on a real blocked
    // candidate set — same equivalence gate as the simhash/overlap natives
    val gen = graft.synth.GenConfig(numEntities = 60, docsPerEntity = 3, seed = 7L)
    val docs = graft.synth.DocGen.docs(spark, gen).toDF()
    val toked = Blocking.tokenized(docs)
    val blocking = Blocking.blockTokenizedFull(toked, 12, 4, 64, 0).rows
    val cands = Blocking.candidatePairs(blocking)
    val nDocs = docs.count()
    Seq(cfg, cfg.copy(prescreenOverlap = 0.0, gammaText = 0.7, minMediaEvidence = 1)).foreach { c =>
      val f = PairScoring.featuresTokenized(toked, nDocs, c)
      val native = PairScoring.scoreFeatures(spark, f.feats, cands, c).toDF()
      val typed = PairScoring.scoreFeaturesTyped(spark, f.feats, cands, c).toDF()
      // names+types must match; nullability legitimately differs (the
      // typed encoder proves primitives non-null, the expression path
      // conservatively tracks child nullability)
      assert(native.schema.map(f => (f.name, f.dataType)) ==
        typed.schema.map(f => (f.name, f.dataType)))
      assert(native.exceptAll(typed).isEmpty && typed.exceptAll(native).isEmpty,
        s"native/typed scoring disagree under $c")
      assert(native.count() > 0, "equivalence test scored zero pairs — not a real gate")
      f.release()
    }
    // engine-plan claims, inspected with AQE off (AdaptiveSparkPlanExec does
    // not expose its inner plan before execution):
    //  - both consumers of the exploded media-token relation (the df
    //    aggregation and the feature join) read its cache, so a run
    //    tokenizes media once;
    //  - score_pair's six struct-field extractions share ONE kernel
    //    evaluation (ProjectExec subexpression elimination): exactly one
    //    ScorePairExpression.score call, inside one codegen span
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cached = PairScoring.featuresTokenized(toked, nDocs, cfg)
      val scans = "InMemoryTableScan".r
        .findAllIn(cached.feats.queryExecution.executedPlan.toString).length
      cached.release()
      assert(scans >= 2, s"media-token relation not shared through its cache ($scans scans)")
      val f = PairScoring.featuresTokenized(toked, nDocs, cfg)
      val calls = PairScoring.scoreFeatures(spark, f.feats, cands, cfg)
        .queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            "ScorePairExpression\\.score\\(".r.findAllIn(w.doCodeGen()._2.body).length
        }
      f.release()
      assert(calls.sum == 1 && calls.count(_ > 0) == 1,
        s"score-call counts per codegen span = $calls (duplicated kernel or codegen fallback)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    blocking.unpersist()
  }
}
