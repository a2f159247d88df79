package graft.streaming

import graft.SparkSpec
import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.model.Doc
import graft.pipeline.EntityResolution
import graft.synth.{DocGen, GenConfig}
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming ingestion (StreamingIngest): micro-batches land as
  * insert-mode increments with per-stage delta snapshots; replayed
  * batches are skipped by the run_id certificate; compaction cadence
  * keys on chain depth; an interrupted increment publishes no record, so
  * its batch replays on the published state.
  */
class StreamingIngestSpec extends SparkSpec {

  private def docsOf(cfg: GenConfig, prefix: String): Seq[Doc] = {
    import spark.implicits._
    DocGen.docs(spark, cfg).map(d => d.copy(doc_id = prefix + d.doc_id)).collect().toSeq
  }

  private def goldOf(cfg: GenConfig, prefix: String) = {
    import spark.implicits._
    DocGen.gold(spark, cfg)
      .map(g => g.copy(doc_id = prefix + g.doc_id, entity_id = prefix + g.entity_id)).toDF()
  }

  test("cadence configs: default merge band rides relative to the pipeline threshold; incoherent explicit configs fail loud") {
    import graft.operators.ClusterMerge
    import graft.pipeline.EntityResolution.PipelineConfig
    // a 0.50 pipeline threshold equals the STOCK mergeFloor — copying only
    // the threshold over the stock config used to crash the stream at its
    // first merge cadence point (require(mergeFloor < threshold) inside
    // foreachBatch); the derived default keeps the stock band width instead
    val low = StreamingIngest.effectiveMerge(PipelineConfig(scoreThreshold = 0.50), None)
    ClusterMerge.validate(low)
    assert(low.threshold == 0.50 && math.abs(low.mergeFloor - 0.40) < 1e-9)
    // an over-0.75 threshold floors promoteScore at the threshold, so the
    // promotion is still an ACCEPTED edge
    val high = StreamingIngest.effectiveMerge(PipelineConfig(scoreThreshold = 0.80), None)
    ClusterMerge.validate(high)
    assert(high.promoteScore == 0.80)
    // explicit configs keep the caller's dials and fail loud when incoherent
    intercept[IllegalArgumentException](ClusterMerge.validate(
      StreamingIngest.effectiveMerge(PipelineConfig(scoreThreshold = 0.45),
        Some(ClusterMerge.MergeConfig()))))
  }

  test("micro-batches ingest as increments: gold-exact, snapshot-per-batch, replay skipped") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 60, docsPerEntity = 3, seed = 42L)
    val cfgB = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 520L)
    val cfgC = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 521L)
    val tmp = Files.createTempDirectory("graft-stream").toString
    EntityResolution.run(spark, DocGen.docs(spark, cfgA).toDF(),
      runDir = Some(tmp), runId = "base").release()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Doc]
    val q = StreamingIngest.start(spark, source.toDF(), tmp,
      compactEvery = 0, trigger = Trigger.ProcessingTime(0),
      checkpointLocation = Some(s"$tmp/_ckpt"))
    try {
      source.addData(docsOf(cfgB, "s1"))
      q.processAllAvailable()
      assert(Snapshots.lastCommitted(tmp, "cluster_assignments").contains(1L))
      source.addData(docsOf(cfgC, "s2"))
      q.processAllAvailable()
      assert(Snapshots.lastCommitted(tmp, "cluster_assignments").contains(2L))
    } finally q.stop()

    // every stage advanced in lockstep; both increments are deltas
    StreamingIngest.Stages.foreach(s =>
      assert(Snapshots.lastCommitted(tmp, s).contains(2L), s"stage $s not at snapshot 2"))
    assert(Snapshots.chainDepth(tmp, "cluster_assignments") == 2)

    // gold-exact over base ∪ both batches
    val gold = goldOf(cfgA, "").unionByName(goldOf(cfgB, "s1")).unionByName(goldOf(cfgC, "s2"))
    val assignments = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(Eval.clusterEquality(assignments, gold), "streamed clusters != gold")
    assert(assignments.count() == cfgA.numDocs + cfgB.numDocs + cfgC.numDocs)

    // exactly-once: replaying a committed batchId is a skip, not a failure
    // (and not a duplicate increment) — even with a non-empty batch
    val replay = docsOf(cfgC, "s2").toDF()
    assert(StreamingIngest.ingestBatch(spark, replay, tmp, batchId = 1L) ==
      StreamingIngest.Skipped)
    assert(Snapshots.lastCommitted(tmp, "cluster_assignments").contains(2L))
  }

  test("compaction cadence: chain depth triggers a full-snapshot rewrite, relations unchanged") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 7L)
    val cfgB = GenConfig(numEntities = 15, docsPerEntity = 3, seed = 77L)
    val tmp = Files.createTempDirectory("graft-stream-cmp").toString
    EntityResolution.run(spark, DocGen.docs(spark, cfgA).toDF(),
      runDir = Some(tmp), runId = "base").release()

    val out = StreamingIngest.ingestBatch(spark, docsOf(cfgB, "s1").toDF(), tmp,
      batchId = 0L, compactEvery = 1)
    assert(out.asInstanceOf[StreamingIngest.Ingested].compacted)
    // delta (id 1) + compaction (id 2); the latest snapshot is FULL again
    assert(Snapshots.lastCommitted(tmp, "cluster_assignments").contains(2L))
    assert(Snapshots.chainDepth(tmp, "cluster_assignments") == 0)
    // compaction changed storage, not the relation
    val pre = Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", 1L)
    val post = Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", 2L)
    assert(pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty)
  }

  test("interrupted increment: the batch replays on the published state; repair sweeps the rest") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 9L)
    val tmp = Files.createTempDirectory("graft-stream-rep").toString
    EntityResolution.run(spark, DocGen.docs(spark, cfgA).toDF(),
      runDir = Some(tmp), runId = "base").release()

    // simulate a crash mid-increment of batch 0: blocking committed its
    // delta, the increment never published its record
    val oneRow = Snapshots.loadCommitted(spark, tmp, "blocking").get.limit(1)
    Snapshots.commitDelta(spark, oneRow, None, tmp, "blocking", "stream-0",
      Map.empty, resolvedRows = 1L)
    Files.delete(java.nio.file.Paths.get(tmp, "_commits", "2.json"))
    StreamingIngest.Stages.foreach(s =>
      assert(Snapshots.lastCommitted(tmp, s).contains(0L), s"stage $s must read its published id"))

    // no repair needed: the certificate reads batch 0 as not done, and it
    // replays cleanly on the published state
    val cfgB = GenConfig(numEntities = 10, docsPerEntity = 3, seed = 99L)
    val out = StreamingIngest.ingestBatch(spark, docsOf(cfgB, "s1").toDF(), tmp, batchId = 0L)
    assert(out.isInstanceOf[StreamingIngest.Ingested])
    val gold = goldOf(cfgA, "").unionByName(goldOf(cfgB, "s1"))
    assert(Eval.clusterEquality(
      Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get, gold))
    // the replay's blocking delta went above the garbage, which repair sweeps
    assert(Snapshots.lastCommitted(tmp, "blocking").contains(2L))
    assert(Snapshots.repair(tmp) == Seq(s"$tmp/blocking/snapshot=1"))
    assert(Snapshots.snapshots(tmp, "blocking") == Seq(0L, 2L))
    assert(Eval.clusterEquality(
      Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get, gold))
  }

  test("a run dir without commit records reads its lockstep stages at their common floor") {
    import spark.implicits._
    // the layout before commit records: a crash mid-increment left
    // blocking one snapshot ahead of the other stages
    val cfgA = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 19L)
    val tmp = Files.createTempDirectory("graft-stream-rec0").toString
    EntityResolution.run(spark, DocGen.docs(spark, cfgA).toDF(),
      runDir = Some(tmp), runId = "stream-3").release()
    Snapshots.commitDelta(spark, Snapshots.loadCommitted(spark, tmp, "blocking").get.limit(1),
      None, tmp, "blocking", "stream-4", Map.empty, resolvedRows = 1L)
    new scala.reflect.io.Directory(new java.io.File(s"$tmp/_commits")).deleteRecursively()
    val r0 = Snapshots.record(tmp)
    assert(r0.version == 0L && r0.runId == "stream-3", s"record 0: $r0")
    StreamingIngest.Stages.foreach(s =>
      assert(r0.stages.get(s).contains(0L), s"stage $s must read the common floor: $r0"))
    // the certificate of the last batch whose clustering committed holds
    assert(StreamingIngest.ingestBatch(spark, docsOf(cfgA, "x").toDF(), tmp, batchId = 3L) ==
      StreamingIngest.Skipped)
    // repair sweeps what ran ahead of the floor, and nothing at or below it
    assert(Snapshots.repair(tmp) == Seq(s"$tmp/blocking/snapshot=1"))
    assert(Snapshots.snapshots(tmp, "blocking") == Seq(0L))
    val cfgB = GenConfig(numEntities = 5, docsPerEntity = 3, seed = 1919L)
    assert(StreamingIngest.ingestBatch(spark, docsOf(cfgB, "s4").toDF(), tmp, batchId = 4L)
      .isInstanceOf[StreamingIngest.Ingested])
    assert(Snapshots.record(tmp).version == 1L)
    assert(Eval.clusterEquality(Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get,
      goldOf(cfgA, "").unionByName(goldOf(cfgB, "s4"))))
  }

  /** The stages whose snapshot id differs between two records' stage maps. */
  private def moved(before: Map[String, Long], after: Map[String, Long]): Set[String] =
    after.keySet.filter(s => !before.get(s).contains(after(s)))

  /** One all-text doc, token per span (the RemovalSpec bridge recipe). */
  private def textDoc(id: String, text: String) =
    Doc(id, text.split(" ").zipWithIndex.map { case (t, i) =>
      graft.model.Span("text", t, "", i) })

  /** A crafted FALSE MERGE through the real pipeline: two strong triangles
    * (8/9 shared tokens intra-entity, ~0.92) glued by a weak cross-entity
    * PARALLEL BUNDLE — the shared tokens sit LATE in the text (a shared
    * prefix would let the Jaro-Winkler channel push the cross pairs past
    * the strong floor); x0's tail "quince" gives its three cross pairs the
    * 5-token overlap (~0.57 at a 0.55 threshold), so the glue is a 3-edge
    * bundle hanging off x0 that single-edge bridge detection cannot see.
    */
  private def plantedMerge: Seq[Doc] =
    Seq("quince", "grape", "plum").zipWithIndex.map { case (t, i) =>
      textDoc(s"x$i", s"liberty alpha apple banana cherry nut oat pear $t") } ++
    Seq("teff", "fonio", "emmer").zipWithIndex.map { case (t, i) =>
      textDoc(s"y$i", s"liberty melon nut oat pear quince rye spelt $t") }

  test("auditRepair composes with streaming: one record keeps the batch certificate valid") {
    import spark.implicits._
    import graft.operators.ClusterAudit
    val docsXY = plantedMerge
    val (xs, ys) = (docsXY.take(3), docsXY.drop(3))
    def doc(id: String, text: String) = textDoc(id, text)
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.55)
    val tmp = Files.createTempDirectory("graft-stream-audit").toString
    val base = EntityResolution.run(spark, (xs ++ ys).toDF(), cfg,
      runDir = Some(tmp), runId = "base")
    // fixture premises, checked loud from the run itself
    def score(a: String, b: String): Option[Double] =
      base.scoredPairs.where(col("doc_id_a") === a && col("doc_id_b") === b)
        .select("score").collect().headOption.map(_.getDouble(0))
    for ((a, b) <- Seq(("x0", "x1"), ("x0", "x2"), ("x1", "x2"),
                       ("y0", "y1"), ("y0", "y2"), ("y1", "y2")))
      assert(score(a, b).exists(_ >= 0.75), s"fixture: intra $a-$b ${score(a, b)}")
    for (y <- Seq("y0", "y1", "y2"))
      assert(score("x0", y).exists(s => s >= 0.55 && s < 0.75),
        s"fixture: cross x0-$y must be weak-accepted, got ${score("x0", y)}")
    for (x <- Seq("x1", "x2"); y <- Seq("y0", "y1", "y2"))
      assert(score(x, y).forall(_ < 0.75), s"fixture: cross $x-$y ${score(x, y)}")
    assert(base.assignments.select("cluster_id").distinct().count() == 1,
      "fixture: the weak bundle must merge both entities at base")
    base.release()

    // batch 0 ingests before the audit (unrelated docs)
    val z = Seq(doc("z0", "zebra yak xenon walrus vole umbra tern snail rook"),
      doc("z1", "zebra yak xenon walrus vole umbra tern snail rat"))
    assert(StreamingIngest.ingestBatch(spark, z.toDF(), tmp, batchId = 0L, cfg)
      .isInstanceOf[StreamingIngest.Ingested])

    // the audit cuts the cross bundle and publishes ONE record: it writes
    // scored_pairs, its tombstones and the assignments, and carries the
    // other four stages forward at their ids and chain depth (no no-op
    // deltas)
    val before = Snapshots.record(tmp).stages
    val depths = StreamingIngest.Stages.map(s => s -> Snapshots.chainDepth(tmp, s)).toMap
    val aud = EntityResolution.auditRepair(spark, tmp,
      ClusterAudit.AuditConfig(threshold = cfg.scoreThreshold))
    assert(aud.counters("audit_committed") == 1L, s"audit must cut: ${aud.counters}")
    assert(aud.counters("audit_bridges_cut") >= 2L,
      s"the cross glue is a PARALLEL bundle: ${aud.counters}")
    val after = Snapshots.record(tmp).stages
    assert(moved(before, after) ==
      Set("scored_pairs", EntityResolution.StageAuditTombstones, "cluster_assignments"),
      s"the audit must write exactly three stages: $before -> $after")
    (StreamingIngest.Stages.toSet -- moved(before, after)).foreach { s =>
      assert(Snapshots.lastCommitted(tmp, s).contains(1L) && Snapshots.chainDepth(tmp, s) ==
        depths(s), s"$s must keep its id and chain depth: $before -> $after")
    }
    assert(Snapshots.lastCommitted(tmp, "cluster_assignments").contains(2L))
    val cutAsg = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(cutAsg.where(col("doc_id").startsWith("x")).select("cluster_id").distinct()
      .exceptAll(cutAsg.where(col("doc_id").startsWith("y")).select("cluster_id").distinct())
      .count() > 0, "x and y entities must be in different clusters after the audit")

    // batch 1 MUST ingest cleanly on the audited state
    val z2 = Seq(doc("z2", "zebra yak xenon walrus vole umbra tern snail robin"))
    assert(StreamingIngest.ingestBatch(spark, z2.toDF(), tmp, batchId = 1L, cfg)
      .isInstanceOf[StreamingIngest.Ingested])
    // and the tombstoned cross pairs stay out of the ACCEPTED evidence
    // (sub-threshold scored candidates legitimately remain in the stage —
    // they are not edges)
    val scored = Snapshots.loadCommitted(spark, tmp, "scored_pairs").get
    assert(scored.where(col("doc_id_a").startsWith("x") &&
      col("doc_id_b").startsWith("y") &&
      col("score") >= cfg.scoreThreshold).isEmpty, "cut pairs must stay retracted")
  }

  test("audit cadence: auditEvery prunes the planted merge mid-stream") {
    import spark.implicits._
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.55)
    val tmp = Files.createTempDirectory("graft-stream-cadence").toString
    EntityResolution.run(spark, plantedMerge.toDF(), cfg,
      runDir = Some(tmp), runId = "base").release()
    def z(id: String, tail: String) =
      textDoc(id, s"zebra yak xenon walrus vole umbra tern snail $tail")

    // batch 0 is NOT a cadence point (auditEvery = 2): merge left standing
    val out0 = StreamingIngest.ingestBatch(spark, Seq(z("z0", "rook"), z("z1", "rat")).toDF(),
      tmp, batchId = 0L, cfg, auditEvery = 2)
    out0 match {
      case StreamingIngest.Ingested(_, _, _, a, _) => assert(a == -1L, s"no audit at batch 0: $a")
      case o => fail(s"expected Ingested, got $o")
    }
    val merged = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(merged.where(col("doc_id").startsWith("x") || col("doc_id").startsWith("y"))
      .select("cluster_id").distinct().count() == 1, "merge must still stand after batch 0")

    // batch 1 IS the cadence point: the audit cuts the 3-edge bundle,
    // publishes its record, and the stream keeps going
    val out1 = StreamingIngest.ingestBatch(spark, Seq(z("z2", "robin")).toDF(),
      tmp, batchId = 1L, cfg, auditEvery = 2)
    out1 match {
      case StreamingIngest.Ingested(_, _, _, a, _) =>
        assert(a >= 2L, s"cadence audit must cut the parallel bundle, cuts=$a")
      case o => fail(s"expected Ingested, got $o")
    }
    assert(Snapshots.record(tmp).runId == "stream-1-audit", s"${Snapshots.record(tmp)}")
    val after = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(after.where(col("doc_id").startsWith("x") || col("doc_id").startsWith("y"))
      .select("cluster_id").distinct().count() == 2, "entities must be split by the audit")
    // crash-replay of the AUDITED batch: the latest cluster_assignments
    // run_id is now "stream-1-audit", not "stream-1" — the certificate
    // must still read batch 1 as done (pre-fix it re-ran addDocuments and
    // crash-looped on the doc-id disjointness require)
    assert(StreamingIngest.ingestBatch(spark, Seq(z("z2", "robin")).toDF(),
      tmp, batchId = 1L, cfg, auditEvery = 2) == StreamingIngest.Skipped,
      "replay of an audited batch must be skipped by the certificate")
    assert(StreamingIngest.ingestBatch(spark, Seq(z("z3", "wren")).toDF(),
      tmp, batchId = 2L, cfg, auditEvery = 2)
      .isInstanceOf[StreamingIngest.Ingested], "the stream must continue past the audit")
  }

  test("merge cadence: mergeEvery heals the planted split mid-stream; certificate survives") {
    import spark.implicits._
    // same crafted corpus, but at the DEFAULT 0.60 threshold the ~0.57
    // cross bundle is rejected — the two triangles come out SPLIT, with the
    // bundle sitting in the [0.50, 0.60) merge band
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.60)
    val tmp = Files.createTempDirectory("graft-stream-mergecad").toString
    val base = EntityResolution.run(spark, plantedMerge.toDF(), cfg,
      runDir = Some(tmp), runId = "base")
    // fixture premises, checked loud: every cross pair below threshold,
    // at least two in the merge band
    val cross = base.scoredPairs.where(col("doc_id_a").startsWith("x") &&
      col("doc_id_b").startsWith("y")).select("score").as[Double].collect()
    assert(cross.forall(_ < 0.60), s"fixture: cross pairs must be rejected: ${cross.toSeq}")
    assert(cross.count(s => s >= 0.50 && s < 0.60) >= 2,
      s"fixture: the band must hold a corroborated bundle: ${cross.toSeq}")
    assert(base.assignments.where(col("doc_id").startsWith("x") ||
      col("doc_id").startsWith("y")).select("cluster_id").distinct().count() == 2,
      "fixture: the entity pair must be split at base")
    base.release()
    def z(id: String, tail: String) =
      textDoc(id, s"zebra yak xenon walrus vole umbra tern snail $tail")

    // batch 0 is NOT a cadence point (mergeEvery = 2): split left standing
    StreamingIngest.ingestBatch(spark, Seq(z("z0", "rook"), z("z1", "rat")).toDF(),
      tmp, batchId = 0L, cfg, mergeEvery = 2) match {
      case StreamingIngest.Ingested(_, _, _, _, m) => assert(m == -1L, s"no merge at batch 0: $m")
      case o => fail(s"expected Ingested, got $o")
    }
    // batch 1 IS the cadence point: the merge heals the split in one record
    // that writes scored_pairs, its ledger and the assignments, carrying
    // the other stages forward at the ids batch 1's increment wrote
    StreamingIngest.ingestBatch(spark, Seq(z("z2", "robin")).toDF(),
      tmp, batchId = 1L, cfg, mergeEvery = 2) match {
      case StreamingIngest.Ingested(_, _, _, _, m) =>
        assert(m == 2L, s"cadence merge must join the two split clusters, merged=$m")
      case o => fail(s"expected Ingested, got $o")
    }
    val Seq(inc, mrg) = Snapshots.recordsSince(tmp, Snapshots.record(tmp).version - 2).get
    assert(inc.runId == "stream-1" && mrg.runId == "stream-1-merge" && mrg.written ==
      Set("scored_pairs", EntityResolution.StageMergePromotions, "cluster_assignments"),
      s"batch 1's records: $inc, $mrg")
    (StreamingIngest.Stages.toSet -- mrg.written).foreach(s =>
      assert(mrg.stages(s) == inc.stages(s), s"$s must carry batch 1's id: $inc -> $mrg"))
    val after = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(after.where(col("doc_id").startsWith("x") || col("doc_id").startsWith("y"))
      .select("cluster_id").distinct().count() == 1, "the entity must be whole after the merge")
    // crash-replay of the MERGED batch: the latest run_id is
    // "stream-1-merge" — the certificate must still read batch 1 as done
    assert(StreamingIngest.ingestBatch(spark, Seq(z("z2", "robin")).toDF(),
      tmp, batchId = 1L, cfg, mergeEvery = 2) == StreamingIngest.Skipped,
      "replay of a merged batch must be skipped by the certificate")
    // batch 2 (not a cadence point) also brings a SECOND planted split:
    // the same corpus under rot13 — the same token-equality structure, so
    // the same scores and blocking, and no token shared with x/y
    def rot13(t: String) =
      t.map(c => if (c >= 'a' && c <= 'z') ((c - 'a' + 13) % 26 + 'a').toChar else c)
    val rotated = plantedMerge.map(d => d.copy(doc_id = "r" + d.doc_id,
      spans = d.spans.map(sp => sp.copy(text = rot13(sp.text)))))
    assert(StreamingIngest.ingestBatch(spark, (z("z3", "wren") +: rotated).toDF(),
      tmp, batchId = 2L, cfg, mergeEvery = 2)
      .isInstanceOf[StreamingIngest.Ingested], "the stream must continue past the merge")
    def clusters(cond: org.apache.spark.sql.Column): Long =
      Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get.where(cond)
        .select("cluster_id").distinct().count()
    val isR = col("doc_id").startsWith("r")
    assert(clusters(isR) == 2, "fixture: the rotated entity pair must arrive split")
    // batch 3 is the next cadence point: the first merge left a watermark,
    // so this one runs SCOPED — and still heals the rotated split
    StreamingIngest.ingestBatch(spark, Seq(z("z4", "finch")).toDF(),
      tmp, batchId = 3L, cfg, mergeEvery = 2) match {
      case StreamingIngest.Ingested(_, _, _, _, m) =>
        assert(m == 2L, s"the scoped cadence merge must join the rotated split, merged=$m")
      case o => fail(s"expected Ingested, got $o")
    }
    val mc = Snapshots.lastCounters(tmp, "cluster_assignments")
    assert(mc.get("merge_committed").contains(1L) && mc.get("merge_incremental").contains(1L) &&
      !mc.contains("merge_scope_full_fallback"), s"the cadence merge must commit scoped: $mc")
    assert(Snapshots.record(tmp).written ==
      Set("scored_pairs", EntityResolution.StageMergePromotions, "cluster_assignments"),
      s"the scoped cadence merge writes three stages: ${Snapshots.record(tmp)}")
    assert(clusters(isR) == 1, "the rotated entity must be whole after the scoped merge")
    assert(clusters(col("doc_id").startsWith("x") || col("doc_id").startsWith("y")) == 1,
      "the first entity must stay whole")
    // the scoped pass left nothing a full pass would still merge
    val full = EntityResolution.mergeRepair(spark, tmp, StreamingIngest.effectiveMerge(cfg, None))
    assert(full.counters("merge_committed") == 0L,
      s"a full merge found what the scoped cadence missed: ${full.counters}")
  }
}
