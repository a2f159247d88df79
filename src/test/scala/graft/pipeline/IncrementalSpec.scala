package graft.pipeline

import graft.SparkSpec
import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.operators.Blocking
import graft.synth.{DocGen, GenConfig}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental ER (EntityResolution.addDocuments): the increment must
  * leave every committed row immutable (append-only delta snapshots),
  * create fresh pairs only where a new doc is involved and score them
  * bit-equal to a batch run over the union (merged-df idf == batch idf),
  * emit the batch run's raw-key blocking rows while no key crosses the
  * cap, stay gold-exact on clustering (equal to that batch run's),
  * maintain its counters, and keep hot-key connectivity through the
  * splice chain.
  */
class IncrementalSpec extends SparkSpec {

  private def keyRows(df: DataFrame): Seq[(Long, String)] =
    df.select("block_key", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  private def pairRows(df: DataFrame): Seq[(String, String, Long)] =
    Blocking.candidatePairs(df).select("doc_id_a", "doc_id_b", "block_key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq

  private def asg(df: DataFrame): Seq[(String, String)] =
    df.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq

  test("addDocuments: blocking/candidates bit-equal to batch; fresh scores bit-equal; clusters = batch = gold") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 120, docsPerEntity = 3, seed = 42L)
    val cfgB = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 314L)
    val docsA = DocGen.docs(spark, cfgA).toDF().cache()
    val docsB = DocGen.docs(spark, cfgB).map(d => d.copy(doc_id = "n" + d.doc_id)).toDF().cache()
    val goldAll = DocGen.gold(spark, cfgA).toDF().unionByName(
      DocGen.gold(spark, cfgB)
        .map(g => g.copy(doc_id = "n" + g.doc_id, entity_id = "n" + g.entity_id)).toDF()).cache()

    val tmp = Files.createTempDirectory("graft-incr").toString
    val base = EntityResolution.run(spark, docsA, runDir = Some(tmp), runId = "base")
    val baseAssign = asg(base.assignments)
    val baseCapped = base.counters("capped_block_keys")
    base.release()

    // the increment must not leak caches into the session (materialize the
    // test's own lazy caches first so they don't appear mid-increment)
    docsB.count(); goldAll.count()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val inc = EntityResolution.addDocuments(spark, docsB, tmp, runId = "incr")
    val leaked = spark.sparkContext.getPersistentRDDs -- persistedBefore
    assert(leaked.isEmpty, s"addDocuments leaked persisted RDDs: ${leaked.keySet}")

    val tmp2 = Files.createTempDirectory("graft-batch").toString
    val batch = EntityResolution.run(spark, docsA.unionByName(docsB), runDir = Some(tmp2), runId = "full")

    // raw-key blocking rows and candidate pairs: batch equivalence. No key
    // crosses the cap in this increment, so every raw row is the one batch
    // emits; the sub-keys of the already-hot key differ by design (arrivals
    // splice to a committed representative, the merged membership is not
    // re-refined)
    assert(inc.counters("capped_block_keys") == baseCapped, "a key crossed the cap mid-increment")
    def raw(df: DataFrame): DataFrame = df.where(Blocking.isRawKey(col("block_key")))
    assert(keyRows(raw(inc.blocking)) == keyRows(raw(batch.blocking)),
      "incremental raw-key blocking != batch blocking")
    assert(pairRows(raw(inc.blocking)) == pairRows(raw(batch.blocking)),
      "incremental raw-key candidates != batch candidates")

    // fresh pairs (absent from the base scored set) must exist; those met
    // through a raw key are in the batch universe, and every fresh pair the
    // batch run also derives scores BIT-equal to it — merged df/n
    // reproduce batch weights
    val basePairs = base.scoredPairs.select("doc_id_a", "doc_id_b")
    val fresh = inc.scoredPairs.join(basePairs, Seq("doc_id_a", "doc_id_b"), "left_anti")
      .select(col("doc_id_a"), col("doc_id_b"), col("block_key"), col("score").as("s_inc"),
        col("sim_media").as("m_inc"))
    assert(fresh.count() > 0, "increment produced no fresh pairs")
    assert(inc.counters("pairs_fresh") > 0)
    val cmp = fresh.join(
      batch.scoredPairs.select(col("doc_id_a"), col("doc_id_b"), col("score").as("s_bat"),
        col("sim_media").as("m_bat")),
      Seq("doc_id_a", "doc_id_b"), "left")
    assert(cmp.where(col("s_bat").isNull && Blocking.isRawKey(col("block_key"))).isEmpty,
      "raw-key fresh pair missing from batch universe")
    val drifted = cmp.where(col("s_inc") =!= col("s_bat") || col("m_inc") =!= col("m_bat"))
    assert(drifted.isEmpty,
      s"fresh scores differ from batch: ${drifted.limit(5).collect().mkString("; ")}")

    // clustering: gold-exact AND batch-exact on this corpus
    assert(Eval.clusterEquality(inc.assignments, goldAll), "incremental clusters != gold")
    assert(asg(inc.assignments) == asg(batch.assignments), "incremental clusters != batch clusters")

    // the run dir is now a time-travel log: snapshot 0 = the base run,
    // snapshot 1 = the incremented corpus, for every stage
    assert(Snapshots.snapshots(tmp, "cluster_assignments") == Seq(0L, 1L))
    assert(Snapshots.snapshots(tmp, EntityResolution.StageMediaDf) == Seq(0L, 1L))
    assert(asg(Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", 0L)) == baseAssign)
    assert(Snapshots.counters(tmp, EntityResolution.StageMediaDf, 1L)("n_docs") ==
      cfgA.numDocs + cfgB.numDocs)

    batch.release(); docsA.unpersist(); docsB.unpersist(); goldAll.unpersist()
  }

  test("small-to-hot transition: an entity crossing the block-size cap mid-increment stays whole") {
    // base: 40 docs of a planted entity (all its keys small) + background;
    // increment: +110 docs of the SAME entity, pushing every key it emits
    // over the cap in one batch — the flooded keys splice to a committed
    // representative, so arrivals and committed members stay connected
    import spark.implicits._
    val bgCfg = GenConfig(numEntities = 80, docsPerEntity = 3, seed = 7L)
    val plantedCfg = GenConfig(numEntities = 1, docsPerEntity = 150, seed = 777L)
    val bg = DocGen.docs(spark, bgCfg).toDF().cache()
    val planted = DocGen.docs(spark, plantedCfg).map(d => d.copy(doc_id = "p" + d.doc_id)).toDF().cache()
    val first = planted.where(col("doc_id") < "pd000000000040")
    val rest = planted.where(col("doc_id") >= "pd000000000040")
    val goldAll = DocGen.gold(spark, bgCfg).toDF().unionByName(
      DocGen.gold(spark, plantedCfg)
        .map(g => g.copy(doc_id = "p" + g.doc_id, entity_id = "p" + g.entity_id)).toDF())

    val tmp = Files.createTempDirectory("graft-incr-hot").toString
    val base = EntityResolution.run(spark, bg.unionByName(first), runDir = Some(tmp), runId = "base")
    val baseCapped = base.counters("capped_block_keys")
    base.release()
    val inc = EntityResolution.addDocuments(spark, rest, tmp, runId = "incr")
    assert(inc.counters("capped_block_keys") > baseCapped, "increment must drive keys over the cap")
    assert(inc.counters("pairs_fresh") > 0)

    val plantedClusters = inc.assignments.where(col("doc_id").startsWith("p"))
      .select("cluster_id").distinct().count()
    assert(plantedClusters == 1, s"planted entity split into $plantedClusters clusters")
    assert(Eval.clusterEquality(inc.assignments, goldAll), "incremental clusters != gold")

    bg.unpersist(); planted.unpersist()
  }

  test("chained increments: two successive addDocuments equal one batch run, counters maintained") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 100, docsPerEntity = 3, seed = 5L)
    val cfgB = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 55L)
    val cfgC = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 555L)
    val docsA = DocGen.docs(spark, cfgA).toDF()
    val docsB = DocGen.docs(spark, cfgB).map(d => d.copy(doc_id = "n" + d.doc_id)).toDF()
    val docsC = DocGen.docs(spark, cfgC).map(d => d.copy(doc_id = "m" + d.doc_id)).toDF()
    val tmp = Files.createTempDirectory("graft-incr-chain").toString
    EntityResolution.run(spark, docsA, runDir = Some(tmp), runId = "base").release()
    // the incrementally-MAINTAINED counters and manifest rows match the
    // resolved relations after every link
    def assertCounters(inc: EntityResolution.Result, nDocs: Long): Unit = {
      val nBlock = inc.blocking.count()
      assert(inc.counters("blocking_rows") == nBlock,
        s"blocking_rows drifted: counter=${inc.counters("blocking_rows")} resolved=$nBlock")
      assert(Snapshots.lastRows(tmp, "blocking").contains(nBlock))
      assert(Snapshots.lastRows(tmp, "scored_pairs").contains(inc.scoredPairs.count()))
      assert(Snapshots.lastRows(tmp, "cluster_assignments").contains(nDocs))
      assert(inc.counters("docs_total") == nDocs)
      assert(Snapshots.lastCounters(tmp, EntityResolution.StageMediaDf).get("n_docs").contains(nDocs))
    }
    assertCounters(EntityResolution.addDocuments(spark, docsB, tmp, runId = "i1"),
      cfgA.numDocs + cfgB.numDocs)
    val inc2 = EntityResolution.addDocuments(spark, docsC, tmp, runId = "i2")
    assertCounters(inc2, cfgA.numDocs + cfgB.numDocs + cfgC.numDocs)
    val batch = EntityResolution.run(spark, docsA.unionByName(docsB).unionByName(docsC))
    assert(asg(inc2.assignments) == asg(batch.assignments),
      "chained incremental clusters != batch clusters")
    batch.release()
  }

  test("insert mode: committed rows immutable, fresh pairs new-doc-only, gold-exact clusters, delta snapshots resolve") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 120, docsPerEntity = 3, seed = 42L)
    val cfgB = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 314L)
    val docsA = DocGen.docs(spark, cfgA).toDF().cache()
    val docsB = DocGen.docs(spark, cfgB).map(d => d.copy(doc_id = "n" + d.doc_id)).toDF().cache()
    val goldAll = DocGen.gold(spark, cfgA).toDF().unionByName(
      DocGen.gold(spark, cfgB)
        .map(g => g.copy(doc_id = "n" + g.doc_id, entity_id = "n" + g.entity_id)).toDF()).cache()

    val tmp = Files.createTempDirectory("graft-ins").toString
    val base = EntityResolution.run(spark, docsA, runDir = Some(tmp), runId = "base")
    val baseAssign = asg(base.assignments)
    val baseBlockRows = keyRows(base.blocking)
    base.release()

    docsB.count(); goldAll.count()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val inc = EntityResolution.addDocuments(spark, docsB, tmp, runId = "ins")
    val leaked = spark.sparkContext.getPersistentRDDs -- persistedBefore
    assert(leaked.isEmpty, s"insert increment leaked persisted RDDs: ${leaked.keySet}")
    assert(inc.counters("insert_mode") == 1L)

    // append-only blocking: every committed row survives verbatim
    val resolvedBlock = keyRows(inc.blocking)
    assert(baseBlockRows.toSet.subsetOf(resolvedBlock.toSet),
      "insert mode moved/removed a committed blocking row")
    // committed pairs immutable: every base scored row present with
    // identical channels (full-row set containment)
    def scoredRows(df: DataFrame): Set[String] =
      df.selectExpr("concat_ws('|', doc_id_a, doc_id_b, score, sim_text, sim_media, sim_align)")
        .collect().map(_.getString(0)).toSet
    assert(scoredRows(base.scoredPairs).subsetOf(scoredRows(inc.scoredPairs)),
      "insert mode mutated a committed scored pair")
    // fresh pairs involve a new doc on at least one side
    val freshOldOld = inc.scoredPairs
      .join(base.scoredPairs.select("doc_id_a", "doc_id_b"), Seq("doc_id_a", "doc_id_b"), "left_anti")
      .where(!col("doc_id_a").startsWith("n") && !col("doc_id_b").startsWith("n"))
    assert(freshOldOld.isEmpty, "insert mode created an old-old pair (committed universe moved)")

    // clustering: gold-exact on the combined corpus
    assert(Eval.clusterEquality(inc.assignments, goldAll), "insert-mode clusters != gold")
    assert(inc.assignments.count() == cfgA.numDocs + cfgB.numDocs)

    // delta snapshots: manifest row counts match the resolved relations;
    // time-travel to the pre-increment snapshot is intact
    assert(Snapshots.lastRows(tmp, "blocking").contains(inc.blocking.count()))
    assert(Snapshots.lastRows(tmp, "scored_pairs").contains(inc.scoredPairs.count()))
    assert(Snapshots.lastRows(tmp, "cluster_assignments").contains(inc.assignments.count()))
    assert(asg(Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", 0L)) == baseAssign)

    docsA.unpersist(); docsB.unpersist(); goldAll.unpersist()
  }


  test("insert mode: new docs of a committed-HOT entity connect through sub-keys + splice chain") {
    import spark.implicits._
    val bgCfg = GenConfig(numEntities = 80, docsPerEntity = 3, seed = 7L)
    val plantedCfg = GenConfig(numEntities = 1, docsPerEntity = 170, seed = 777L)
    val bg = DocGen.docs(spark, bgCfg).toDF().cache()
    val planted = DocGen.docs(spark, plantedCfg).map(d => d.copy(doc_id = "p" + d.doc_id)).toDF().cache()
    val first = planted.where(col("doc_id") < "pd000000000150")
    val rest = planted.where(col("doc_id") >= "pd000000000150")
    val goldAll = DocGen.gold(spark, bgCfg).toDF().unionByName(
      DocGen.gold(spark, plantedCfg)
        .map(g => g.copy(doc_id = "p" + g.doc_id, entity_id = "p" + g.entity_id)).toDF())

    val tmp = Files.createTempDirectory("graft-ins-hot").toString
    val base = EntityResolution.run(spark, bg.unionByName(first), runDir = Some(tmp), runId = "base")
    assert(base.counters("capped_block_keys") > 0, "fixture: planted entity must be hot at base")
    base.release()
    val inc = EntityResolution.addDocuments(spark, rest, tmp, runId = "ins")
    assert(inc.counters("insert_hot_rows") > 0,
      "new docs of a hot entity must land in committed-hot keys")
    // splice connectivity: all 170 planted docs in ONE cluster
    val plantedClusters = inc.assignments.where(col("doc_id").startsWith("p"))
      .select("cluster_id").distinct().count()
    assert(plantedClusters == 1, s"planted hot entity split into $plantedClusters clusters")
    assert(Eval.clusterEquality(inc.assignments, goldAll), "insert-mode clusters != gold")
    bg.unpersist(); planted.unpersist()
  }

  test("insert mode: a committed-SMALL key flooded by one arrival batch splices to the committed members") {
    import spark.implicits._
    // base: 40 docs of a planted entity — every key it emits is SMALL
    // (under the 64 cap) and passes raw. One arrival batch then brings 105
    // more docs of the SAME entity, pushing its keys past the cap inside a
    // single increment. Routing those keys over the new rows alone would
    // refine/chain the arrivals among themselves and never derive a single
    // arrival↔committed candidate (the committed rows at the key are raw,
    // not refined) — the entity would silently split, and block_hot would
    // record a new-docs-only membership that mis-routes every later
    // increment. The fix splices the flood to a COMMITTED representative.
    val bgCfg = GenConfig(numEntities = 80, docsPerEntity = 3, seed = 11L)
    val plantedCfg = GenConfig(numEntities = 1, docsPerEntity = 150, seed = 778L)
    val bg = DocGen.docs(spark, bgCfg).toDF().cache()
    val planted = DocGen.docs(spark, plantedCfg).map(d => d.copy(doc_id = "p" + d.doc_id)).toDF().cache()
    val first = planted.where(col("doc_id") < "pd000000000040")
    val flood = planted.where(col("doc_id") >= "pd000000000040" && col("doc_id") < "pd000000000145")
    val tail = planted.where(col("doc_id") >= "pd000000000145")
    val goldAll = DocGen.gold(spark, bgCfg).toDF().unionByName(
      DocGen.gold(spark, plantedCfg)
        .map(g => g.copy(doc_id = "p" + g.doc_id, entity_id = "p" + g.entity_id)).toDF())

    val tmp = Files.createTempDirectory("graft-ins-flood").toString
    val base = EntityResolution.run(spark, bg.unionByName(first), runDir = Some(tmp), runId = "base")
    base.release()

    val inc = EntityResolution.addDocuments(spark, flood, tmp, runId = "flood")
    assert(inc.counters("insert_hot_rows") >= 105,
      s"flood rows must take the splice path, not routeKeyed: ${inc.counters("insert_hot_rows")}")
    val plantedClusters = inc.assignments.where(col("doc_id").startsWith("p"))
      .select("cluster_id").distinct().count()
    assert(plantedClusters == 1,
      s"flooded committed-small entity split into $plantedClusters clusters")
    // gold restricted to the docs ingested SO FAR (the tail batch lands
    // below) — the equality gate now checks doc universes, not just the
    // overlap, so comparing against goldAll here would rightly fail
    val goldPre = goldAll.where(!col("doc_id").startsWith("p") ||
      col("doc_id") < "pd000000000145")
    assert(Eval.clusterEquality(inc.assignments, goldPre), "insert-mode clusters != gold")

    // block_hot now carries the key's FULL membership (committed + flood):
    // a later small arrival of the same entity routes committed-hot and
    // still reaches the whole entity
    val inc2 = EntityResolution.addDocuments(spark, tail, tmp, runId = "tail")
    assert(inc2.counters("insert_hot_rows") > 0,
      "post-flood arrivals must route through the now-hot key")
    val plantedClusters2 = inc2.assignments.where(col("doc_id").startsWith("p"))
      .select("cluster_id").distinct().count()
    assert(plantedClusters2 == 1, s"post-flood arrival split the entity: $plantedClusters2")
    assert(Eval.clusterEquality(inc2.assignments, goldAll), "post-flood clusters != gold")
    bg.unpersist(); planted.unpersist()
  }

  test("incremental verbs refuse a drift-state history (stages at unequal snapshot ids)") {
    import spark.implicits._
    // simulate a verb crashed between its scored_pairs commit and the rest
    // of its commit sequence (the state a crashed mergeRepair/auditRepair/
    // increment leaves): the non-self-recovering verbs must fail loud
    // instead of silently operating on the drift
    val cfgA = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 51L)
    val cfgB = GenConfig(numEntities = 10, docsPerEntity = 3, seed = 5151L)
    val docsA = DocGen.docs(spark, cfgA).toDF()
    val docsB = DocGen.docs(spark, cfgB).map(d => d.copy(doc_id = "n" + d.doc_id)).toDF()
    val tmp = Files.createTempDirectory("graft-drift").toString
    EntityResolution.run(spark, docsA, runDir = Some(tmp), runId = "base").release()
    val scored = Snapshots.loadCommitted(spark, tmp, "scored_pairs").get
    Snapshots.commitDelta(spark, scored.limit(0).repartition(1), None,
      tmp, "scored_pairs", "crashed-verb", Map.empty,
      Snapshots.lastRows(tmp, "scored_pairs").getOrElse(0L))

    val eAdd = intercept[IllegalArgumentException](
      EntityResolution.addDocuments(spark, docsB, tmp, runId = "i"))
    assert(eAdd.getMessage.contains("unequal snapshot ids"))
    val eRm = intercept[IllegalArgumentException](
      EntityResolution.removeDocuments(spark, docsA.select("doc_id").limit(1), tmp))
    assert(eRm.getMessage.contains("unequal snapshot ids"))
    val eCompact = intercept[IllegalArgumentException](
      EntityResolution.compactRun(spark, tmp))
    assert(eCompact.getMessage.contains("unequal snapshot ids"))
    // the cut audit refuses too: its own crashed state (retraction
    // committed, relabel not) leaves the cut cluster DISCONNECTED, and a
    // re-run would hit the report-never-repair branch and silently no-op —
    // unlike mergeRepair, whose drift rule converges, it must fail loud
    val eAudit = intercept[IllegalArgumentException](
      EntityResolution.auditRepair(spark, tmp, runId = "a"))
    assert(eAudit.getMessage.contains("unequal snapshot ids"))

    // streaming's trim-based repair restores lockstep; the verbs then run
    graft.streaming.StreamingIngest.repair(tmp)
    val audited = EntityResolution.auditRepair(spark, tmp, runId = "a2")
    assert(audited.counters("audit_committed") == 0L) // clean clusters: no cuts
    val inc = EntityResolution.addDocuments(spark, docsB, tmp, runId = "i2")
    assert(inc.counters("insert_mode") == 1L)
  }

  test("compactRun: delta chains materialize bit-identically; further increments rebase on the compacted snapshots") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 60, docsPerEntity = 3, seed = 21L)
    val cfgB = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 2121L)
    val cfgC = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 212121L)
    val docsA = DocGen.docs(spark, cfgA).toDF()
    val docsB = DocGen.docs(spark, cfgB).map(d => d.copy(doc_id = "n" + d.doc_id)).toDF()
    val docsC = DocGen.docs(spark, cfgC).map(d => d.copy(doc_id = "m" + d.doc_id)).toDF()
    val tmp = Files.createTempDirectory("graft-compact").toString
    EntityResolution.run(spark, docsA, runDir = Some(tmp), runId = "base").release()
    val inc = EntityResolution.addDocuments(spark, docsB, tmp, runId = "ins")
    val preAssign = asg(inc.assignments)
    val preBlock = keyRows(inc.blocking)
    val preRows = Snapshots.lastRows(tmp, "blocking")

    EntityResolution.compactRun(spark, tmp)
    // bit-identical relations, now as FULL snapshots (id advanced by one)
    assert(Snapshots.snapshots(tmp, "cluster_assignments") == Seq(0L, 1L, 2L))
    assert(asg(Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get) == preAssign)
    assert(keyRows(Snapshots.loadCommitted(spark, tmp, "blocking").get) == preBlock)
    assert(Snapshots.lastRows(tmp, "blocking") == preRows)
    // pre-compaction ids still time-travel
    assert(asg(Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", 1L)) == preAssign)

    // a further insert increment rebases onto the compacted base
    val goldAll = DocGen.gold(spark, cfgA).toDF()
      .unionByName(DocGen.gold(spark, cfgB)
        .map(g => g.copy(doc_id = "n" + g.doc_id, entity_id = "n" + g.entity_id)).toDF())
      .unionByName(DocGen.gold(spark, cfgC)
        .map(g => g.copy(doc_id = "m" + g.doc_id, entity_id = "m" + g.entity_id)).toDF())
    val inc2 = EntityResolution.addDocuments(spark, docsC, tmp, runId = "ins2")
    assert(Eval.clusterEquality(inc2.assignments, goldAll),
      "post-compaction increment clusters != gold")
  }

  test("insert mode: six chained increments with mid-chain compaction stay gold-exact (no drift accumulation)") {
    import spark.implicits._
    // the bounded-divergence claim, exercised: frozen-structure inserts
    // compound across a chain (each rebases on the previous delta state,
    // and compaction rebases the chain mid-way) — clusters must equal gold
    // after EVERY link, not just the first
    val baseCfg = GenConfig(numEntities = 60, docsPerEntity = 3, seed = 31L)
    val tmp = Files.createTempDirectory("graft-ins-chain").toString
    EntityResolution.run(spark, DocGen.docs(spark, baseCfg).toDF(),
      runDir = Some(tmp), runId = "base").release()
    var gold = DocGen.gold(spark, baseCfg).toDF()
    (1 to 6).foreach { i =>
      val cfg = GenConfig(numEntities = 10, docsPerEntity = 3, seed = 3100L + i)
      val docs = DocGen.docs(spark, cfg).map(d => d.copy(doc_id = s"c$i" + d.doc_id)).toDF()
      gold = gold.unionByName(DocGen.gold(spark, cfg)
        .map(g => g.copy(doc_id = s"c$i" + g.doc_id, entity_id = s"c$i" + g.entity_id)).toDF())
      val inc = EntityResolution.addDocuments(spark, docs, tmp, runId = s"ins$i")
      assert(Eval.clusterEquality(inc.assignments, gold), s"chain link $i: clusters != gold")
      if (i == 3) EntityResolution.compactRun(spark, tmp) // rebase mid-chain
    }
    assert(Snapshots.lastRows(tmp, "cluster_assignments")
      .contains(baseCfg.numDocs + 6 * 30L))
    // post-chain: accumulated delta depth is the three post-compaction links
    assert(Snapshots.chainDepth(tmp, "cluster_assignments") == 3)
  }

  test("Main --add-entities surface: increments a committed run and reports combined-gold metrics") {
    val baseCfg = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 11L)
    val addCfg = baseCfg.copy(numEntities = 10, seed = 1011L)
    val tmp = Files.createTempDirectory("graft-incr-cli").toString
    EntityResolution.run(spark, DocGen.docs(spark, baseCfg).toDF(),
      runDir = Some(tmp), runId = "base").release()
    val json = graft.Main.incrementRun(spark, tmp, baseCfg, addCfg, doEval = true)
    assert(json.contains(""""docs_added":30"""), json)
    assert(json.contains(""""docs_total":120"""), json)
    assert(json.contains(""""f1":1.0"""), json)
    assert(json.contains(""""cluster_equality":true"""), json)
    // the increment committed a second snapshot of every stage
    assert(Snapshots.snapshots(tmp, "cluster_assignments") == Seq(0L, 1L))
  }

  test("addDocuments fails loud on a non-incremental base and on duplicate doc_ids") {
    val cfg = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 3L)
    val docs = DocGen.docs(spark, cfg).toDF()
    // no committed run at all
    val empty = Files.createTempDirectory("graft-incr-none").toString
    val e1 = intercept[RuntimeException](EntityResolution.addDocuments(spark, docs, empty))
    assert(e1.getMessage.contains("no committed"))
    // duplicate doc ids
    val tmp = Files.createTempDirectory("graft-incr-dup").toString
    EntityResolution.run(spark, docs, runDir = Some(tmp)).release()
    val e2 = intercept[IllegalArgumentException](EntityResolution.addDocuments(spark, docs, tmp))
    assert(e2.getMessage.contains("disjoint"))
  }
}
