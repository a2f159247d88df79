package graft.pipeline

import graft.SparkSpec
import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.model.{Doc, Span}
import graft.synth.{DocGen, GenConfig}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retraction (EntityResolution.removeDocuments): remove committed docs
  * from a checkpointed run without re-reading the surviving corpus.
  *
  * Contract under test:
  *  - every stage loses exactly the removed docs' rows (delta snapshots
  *    resolve; pre-removal snapshots stay time-travelable);
  *  - every scored pair touching a removed doc leaves the evidence set,
  *    and SURVIVING pairs keep their committed channels bit-identically;
  *  - affected clusters are recomputed over surviving edges: removing a
  *    cluster's min doc relabels it to the new min, removing the only
  *    bridge doc SPLITS the cluster (no star-edge leakage), and splice
  *    healing re-connects hot-key survivors the scorer still vouches for;
  *  - removals compose with insert increments and compaction.
  */
class RemovalSpec extends SparkSpec {

  private def asg(df: DataFrame): Seq[(String, String)] =
    df.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq

  private def scoredRows(df: DataFrame): Set[String] =
    df.selectExpr("concat_ws('|', doc_id_a, doc_id_b, score, sim_text, sim_media, sim_align)")
      .collect().map(_.getString(0)).toSet

  test("removeDocuments: stages shrink exactly, survivors immutable, clusters gold-exact, min relabeled") {
    import spark.implicits._
    val cfg = GenConfig(numEntities = 120, docsPerEntity = 3, seed = 42L)
    val docs = DocGen.docs(spark, cfg).toDF().cache()
    val gold = DocGen.gold(spark, cfg).toDF().cache()

    val tmp = Files.createTempDirectory("graft-rm").toString
    val base = EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "base")
    val baseAssign = asg(base.assignments)
    val baseScored = scoredRows(base.scoredPairs)
    base.release()

    // remove: ALL docs of one entity, the MIN doc of another, one non-min
    // doc of a third — entity ids in gold order
    val ents = gold.select("entity_id").distinct().orderBy("entity_id")
      .limit(3).collect().map(_.getString(0))
    val allOfE0 = gold.where(col("entity_id") === ents(0)).select("doc_id")
    val minOfE1 = gold.where(col("entity_id") === ents(1))
      .agg(min("doc_id").as("doc_id"))
    val nonMinOfE2 = gold.where(col("entity_id") === ents(2))
      .agg(max("doc_id").as("doc_id"))
    val removed = allOfE0.unionByName(minOfE1).unionByName(nonMinOfE2).cache()
    val nRemoved = removed.count()
    assert(nRemoved == 5)

    removed.count(); gold.count() // materialize test caches pre-snapshot
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val res = EntityResolution.removeDocuments(spark, removed, tmp, runId = "rm")
    val leaked = spark.sparkContext.getPersistentRDDs -- persistedBefore
    assert(leaked.isEmpty, s"removeDocuments leaked persisted RDDs: ${leaked.keySet}")

    // stage shrinkage: no removed doc anywhere, resolved counts match
    assert(res.assignments.count() == cfg.numDocs - nRemoved)
    assert(res.assignments.join(removed, "doc_id").isEmpty, "removed doc still assigned")
    assert(res.blocking.join(removed, "doc_id").isEmpty, "removed doc still in blocking")
    assert(Snapshots.loadCommitted(spark, tmp, EntityResolution.StageDocFeatures).get
      .join(removed, "doc_id").isEmpty, "removed doc still in doc_features")
    assert(Snapshots.loadCommitted(spark, tmp, EntityResolution.StageBlockHot).get
      .join(removed, "doc_id").isEmpty, "removed doc still in block_hot")
    val rmA = removed.select(col("doc_id").as("doc_id_a"))
    val rmB = removed.select(col("doc_id").as("doc_id_b"))
    assert(res.scoredPairs.join(rmA, "doc_id_a").isEmpty &&
      res.scoredPairs.join(rmB, "doc_id_b").isEmpty,
      "a retracted doc's pair survived in the evidence set")
    // surviving pairs keep their committed channels bit-identically
    assert(scoredRows(res.scoredPairs).subsetOf(baseScored),
      "removal mutated a surviving committed pair")
    assert(Snapshots.lastRows(tmp, "scored_pairs").contains(res.scoredPairs.count()))
    assert(Snapshots.lastRows(tmp, "cluster_assignments").contains(cfg.numDocs - nRemoved))

    // clusters: gold-exact vs the SURVIVING gold; min-doc removal relabels
    val goldLeft = gold.join(removed, Seq("doc_id"), "left_anti")
    assert(Eval.clusterEquality(res.assignments, goldLeft), "post-removal clusters != gold")
    val e1NewMin = gold.where(col("entity_id") === ents(1))
      .join(removed, Seq("doc_id"), "left_anti")
      .agg(min("doc_id")).collect()(0).getString(0)
    val e1Cluster = res.assignments
      .join(gold.where(col("entity_id") === ents(1)).select("doc_id"), "doc_id")
      .select("cluster_id").distinct().collect().map(_.getString(0))
    assert(e1Cluster.toSeq == Seq(e1NewMin),
      s"cluster of entity ${ents(1)} not relabeled to new min: ${e1Cluster.toSeq} != $e1NewMin")

    // media_df decremented: n_docs counter shrinks with the corpus
    assert(Snapshots.lastCounters(tmp, EntityResolution.StageMediaDf)("n_docs") ==
      cfg.numDocs - nRemoved)
    assert(res.counters("docs_removed") == nRemoved)
    assert(res.counters("pairs_removed") > 0)

    // time travel: the pre-removal snapshot still holds every doc
    assert(asg(Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", 0L)) == baseAssign)

    docs.unpersist(); gold.unpersist(); removed.unpersist()
  }

  test("removing the only bridge doc SPLITS the cluster (no star-edge leakage)") {
    import spark.implicits._
    // A and C share only the head token (so they block together and their
    // below-threshold pair IS in the committed universe); B overlaps each
    // heavily. Fixture asserts verify the premise from the run itself.
    def doc(id: String, text: String) =
      Doc(id, text.split(" ").zipWithIndex.map { case (t, i) => Span("text", t, "", i) })
    val a = doc("a1", "liberty alpha apple banana cherry date elder fig grape")
    val b = doc("b1", "liberty alpha apple banana cherry nut oat pear quince")
    val c = doc("c1", "liberty melon nut oat pear quince rye spelt teff")
    val docs = Seq(a, b, c).toDF()

    // run at a 0.55 threshold: the split semantics under test are
    // threshold-independent, and the crafted B↔C overlap lands at ~0.57
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.55)
    val tmp = Files.createTempDirectory("graft-rm-bridge").toString
    val base = EntityResolution.run(spark, docs, cfg, runDir = Some(tmp), runId = "base")
    val t = cfg.scoreThreshold
    def score(x: String, y: String): Option[Double] =
      base.scoredPairs.where(col("doc_id_a") === x && col("doc_id_b") === y)
        .select("score").collect().headOption.map(_.getDouble(0))
    // fixture premise, checked loud: A-B and B-C strong; A-C weak or
    // prescreen-dropped (either way, no direct A-C evidence)
    assert(score("a1", "b1").exists(_ >= t), s"fixture: score(a,b)=${score("a1", "b1")} < $t")
    assert(score("b1", "c1").exists(_ >= t), s"fixture: score(b,c)=${score("b1", "c1")} < $t")
    assert(score("a1", "c1").forall(_ < t), s"fixture: score(a,c)=${score("a1", "c1")} not weak")
    assert(base.assignments.select("cluster_id").distinct().count() == 1,
      "fixture: bridge must merge all three docs at base")
    base.release()

    val res = EntityResolution.removeDocuments(spark, Seq("b1").toDF("doc_id"), tmp, cfg,
      runId = "rm")
    val after = asg(res.assignments)
    assert(after == Seq(("a1", "a1"), ("c1", "c1")),
      s"survivors must split into singletons, got $after")
  }

  test("hot-entity removal: splice healing keeps survivors whole") {
    import spark.implicits._
    val bgCfg = GenConfig(numEntities = 80, docsPerEntity = 3, seed = 7L)
    val plantedCfg = GenConfig(numEntities = 1, docsPerEntity = 170, seed = 777L)
    val bg = DocGen.docs(spark, bgCfg).toDF().cache()
    val planted = DocGen.docs(spark, plantedCfg).map(d => d.copy(doc_id = "p" + d.doc_id)).toDF().cache()

    val tmp = Files.createTempDirectory("graft-rm-hot").toString
    val base = EntityResolution.run(spark, bg.unionByName(planted), runDir = Some(tmp), runId = "base")
    assert(base.counters("capped_block_keys") > 0, "fixture: planted entity must be hot")
    base.release()

    // remove the first 30 planted docs — the lexicographic head holds the
    // committed chain/refinement representatives, the worst case for
    // survivor connectivity
    val removed = planted.select("doc_id").orderBy("doc_id").limit(30).cache()
    val res = EntityResolution.removeDocuments(spark, removed, tmp, runId = "rm")
    assert(res.counters("heal_pairs_scored") > 0,
      "removing chain heads must trigger splice healing")
    val plantedClusters = res.assignments.where(col("doc_id").startsWith("p"))
      .select("cluster_id").distinct().count()
    assert(plantedClusters == 1, s"planted survivors split into $plantedClusters clusters")
    assert(res.assignments.where(col("doc_id").startsWith("p")).count() == 140)

    val goldLeft = DocGen.gold(spark, bgCfg).toDF().unionByName(
      DocGen.gold(spark, plantedCfg)
        .map(g => g.copy(doc_id = "p" + g.doc_id, entity_id = "p" + g.entity_id)).toDF())
      .join(removed, Seq("doc_id"), "left_anti")
    assert(Eval.clusterEquality(res.assignments, goldLeft), "post-removal clusters != gold")
    bg.unpersist(); planted.unpersist(); removed.unpersist()
  }

  test("removal composes with insert increments and compaction") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 60, docsPerEntity = 3, seed = 21L)
    val cfgB = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 2121L)
    val docsA = DocGen.docs(spark, cfgA).toDF()
    val docsB = DocGen.docs(spark, cfgB).map(d => d.copy(doc_id = "n" + d.doc_id)).toDF()
    val goldA = DocGen.gold(spark, cfgA).toDF()
    val goldB = DocGen.gold(spark, cfgB)
      .map(g => g.copy(doc_id = "n" + g.doc_id, entity_id = "n" + g.entity_id)).toDF()

    val tmp = Files.createTempDirectory("graft-rm-chain").toString
    EntityResolution.run(spark, docsA, runDir = Some(tmp), runId = "base").release()
    // retract the first 5 entities of A, then insert corpus B
    val removed = goldA.select("entity_id").distinct().orderBy("entity_id").limit(5)
      .join(goldA, "entity_id").select("doc_id").cache()
    EntityResolution.removeDocuments(spark, removed, tmp, runId = "rm")

    val inc = EntityResolution.addDocuments(spark, docsB, tmp, runId = "ins")
    val goldLeft = goldA.join(removed, Seq("doc_id"), "left_anti").unionByName(goldB)
    assert(Eval.clusterEquality(inc.assignments, goldLeft),
      "removal-then-insert clusters != gold")
    assert(inc.assignments.count() == cfgA.numDocs - 15 + cfgB.numDocs)
    assert(Snapshots.lastCounters(tmp, "blocking").contains("removed_docs"),
      "insert increment dropped the removal history marker")

    EntityResolution.compactRun(spark, tmp)
    val preAssign = asg(inc.assignments)
    assert(asg(Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get) == preAssign,
      "compaction changed post-removal assignments")
    removed.unpersist()
  }

  test("add-then-remove round trip lands back on the base clustering exactly") {
    import spark.implicits._
    val cfgA = GenConfig(numEntities = 80, docsPerEntity = 3, seed = 9L)
    val cfgB = GenConfig(numEntities = 25, docsPerEntity = 3, seed = 99L)
    val docsA = DocGen.docs(spark, cfgA).toDF()
    val docsB = DocGen.docs(spark, cfgB).map(d => d.copy(doc_id = "n" + d.doc_id)).toDF()
    val tmp = Files.createTempDirectory("graft-rm-rt").toString
    val base = EntityResolution.run(spark, docsA, runDir = Some(tmp), runId = "base")
    val baseAssign = asg(base.assignments)
    base.release()
    EntityResolution.addDocuments(spark, docsB, tmp, runId = "ins")
    val res = EntityResolution.removeDocuments(spark, docsB.select("doc_id"), tmp, runId = "rm")
    assert(asg(res.assignments) == baseAssign,
      "add→remove round trip did not restore the base clustering")
  }

  test("physical deletion: remove -> compact -> expire leaves no trace of the doc on disk") {
    import spark.implicits._
    val cfg = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 17L)
    val tmp = Files.createTempDirectory("graft-rm-expire").toString
    EntityResolution.run(spark, DocGen.docs(spark, cfg).toDF(),
      runDir = Some(tmp), runId = "base").release()
    val victim = DocGen.gold(spark, cfg).toDF()
      .agg(min("doc_id").as("doc_id"))
    val victimId = victim.collect()(0).getString(0)
    EntityResolution.removeDocuments(spark, victim, tmp, runId = "rm")

    // expiration protects a live delta chain: the removal delta (id 1)
    // resolves against base (id 0), so keep-1 retires neither
    EntityResolution.expireRun(tmp, keepLast = 1)
    assert(Snapshots.snapshots(tmp, "cluster_assignments") == Seq(0L, 1L),
      "expire broke a live delta chain")

    // compact (latest snapshots re-materialize WITHOUT the removed rows),
    // then expire: pre-removal ids and their data dirs are gone
    EntityResolution.compactRun(spark, tmp)
    val dropped = EntityResolution.expireRun(tmp, keepLast = 1)
    assert(dropped("cluster_assignments").nonEmpty, "expire retired nothing after compaction")
    assert(Snapshots.snapshots(tmp, "cluster_assignments").size == 1)
    // latest relations still load and lack the victim
    val assign = Snapshots.loadCommitted(spark, tmp, "cluster_assignments").get
    assert(assign.count() == cfg.numDocs - 1)
    assert(assign.where(col("doc_id") === victimId).isEmpty)
    // no parquet file under the run dir mentions the victim doc any more
    val files = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)))(
      _.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq)
    assert(files.nonEmpty)
    files.foreach { f =>
      val df = spark.read.parquet(f)
      Seq("doc_id", "doc_id_a", "doc_id_b").filter(df.columns.contains).foreach { c =>
        assert(df.where(col(c) === victimId).isEmpty,
          s"$f still holds the removed doc in column $c")
      }
    }
    // time-travel to the expired id fails loud
    val e = intercept[IllegalArgumentException](
      Snapshots.loadSnapshot(spark, tmp, "cluster_assignments", 0L))
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("replaceDocuments: a revision moves the doc between clusters; fresh docs insert in the same call") {
    import spark.implicits._
    val cfg = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 33L)
    val docs = DocGen.docs(spark, cfg).toDF().cache()
    val gold = DocGen.gold(spark, cfg).toDF().cache()
    val tmp = Files.createTempDirectory("graft-replace").toString
    EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "base").release()

    // revision: give entity-0's max doc the CONTENT of an entity-1 doc —
    // after replace it must cluster with entity 1, exactly as a batch run
    // over the edited corpus would put it
    val ents = gold.select("entity_id").distinct().orderBy("entity_id")
      .limit(2).collect().map(_.getString(0))
    val victimId = gold.where(col("entity_id") === ents(0))
      .agg(max("doc_id")).collect()(0).getString(0)
    val donorId = gold.where(col("entity_id") === ents(1))
      .agg(min("doc_id")).collect()(0).getString(0)
    val donor = DocGen.docs(spark, cfg).filter(_.doc_id == donorId).head()
    val revision = Seq(donor.copy(doc_id = victimId)).toDS().toDF()
    // plus one genuinely new doc (a fresh entity) in the same call
    val freshCfg = GenConfig(numEntities = 1, docsPerEntity = 1, seed = 3333L)
    val fresh = DocGen.docs(spark, freshCfg).map(d => d.copy(doc_id = "z" + d.doc_id)).toDF()

    val res = EntityResolution.replaceDocuments(spark, revision.unionByName(fresh), tmp,
      runId = "rep")
    assert(res.counters("docs_replaced") == 1)
    assert(res.assignments.count() == cfg.numDocs + 1)

    // expected gold after the edit: victim belongs to entity 1 now
    val editedGold = gold.where(col("doc_id") =!= victimId)
      .unionByName(Seq((victimId, ents(1))).toDF("doc_id", "entity_id"))
      .unionByName(DocGen.gold(spark, freshCfg)
        .map(g => g.copy(doc_id = "z" + g.doc_id, entity_id = "z" + g.entity_id)).toDF())
    assert(Eval.clusterEquality(res.assignments, editedGold),
      "post-replace clusters != edited gold")
    val victimCluster = res.assignments.where(col("doc_id") === victimId)
      .select("cluster_id").collect()(0).getString(0)
    val donorCluster = res.assignments.where(col("doc_id") === donorId)
      .select("cluster_id").collect()(0).getString(0)
    assert(victimCluster == donorCluster, "revised doc did not move to the donor's cluster")
    docs.unpersist(); gold.unpersist()
  }

  test("removeDocuments fails loud on unknown and empty doc sets") {
    import spark.implicits._
    val cfg = GenConfig(numEntities = 20, docsPerEntity = 3, seed = 3L)
    val tmp = Files.createTempDirectory("graft-rm-bad").toString
    EntityResolution.run(spark, DocGen.docs(spark, cfg).toDF(),
      runDir = Some(tmp), runId = "base").release()
    // a refused call must leave no pin or cache behind
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val e1 = intercept[IllegalArgumentException](
      EntityResolution.removeDocuments(spark, Seq("nope").toDF("doc_id"), tmp))
    assert(e1.getMessage.contains("not in the committed corpus"))
    assert(leaked.isEmpty, s"refused removal (unknown id) leaked persisted RDDs $leaked")
    val e2 = intercept[IllegalArgumentException](
      EntityResolution.removeDocuments(spark, Seq.empty[String].toDF("doc_id"), tmp))
    assert(e2.getMessage.contains("empty"))
    assert(leaked.isEmpty, s"refused removal (empty set) leaked persisted RDDs $leaked")
  }

  test("Main --replace-entities surface: revisions keep the gold clustering") {
    val baseCfg = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 13L)
    val tmp = Files.createTempDirectory("graft-rep-cli").toString
    EntityResolution.run(spark, DocGen.docs(spark, baseCfg).toDF(),
      runDir = Some(tmp), runId = "base").release()
    val json = graft.Main.replaceRun(spark, tmp, baseCfg, 5, doEval = true)
    assert(json.contains(""""docs_replaced":15"""), json)
    assert(json.contains(""""docs_total":90"""), json)
    assert(json.contains(""""cluster_equality":true"""), json)
    // retract + insert = two delta snapshots per stage on one history
    assert(Snapshots.snapshots(tmp, "cluster_assignments") == Seq(0L, 1L, 2L))
  }

  test("Main --remove-entities surface: retracts and reports surviving-gold metrics") {
    val baseCfg = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 11L)
    val tmp = Files.createTempDirectory("graft-rm-cli").toString
    EntityResolution.run(spark, DocGen.docs(spark, baseCfg).toDF(),
      runDir = Some(tmp), runId = "base").release()
    val json = graft.Main.removalRun(spark, tmp, baseCfg, 5, doEval = true)
    assert(json.contains(""""docs_removed":15"""), json)
    assert(json.contains(""""docs_total":75"""), json)
    assert(json.contains(""""f1":1.0"""), json)
    assert(json.contains(""""cluster_equality":true"""), json)
    assert(Snapshots.snapshots(tmp, "cluster_assignments") == Seq(0L, 1L))
  }
}
