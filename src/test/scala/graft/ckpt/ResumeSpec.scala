package graft.ckpt

import graft.SparkSpec
import graft.pipeline.EntityResolution
import graft.synth.{DocGen, GenConfig}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Resume gate (FIXTURES.md §6): with stages `blocking` and `scored_pairs`
  * committed and `cluster_assignments` absent, a resumed run must reuse the
  * first two byte-identically and produce clusters equal to an
  * uninterrupted run.
  */
class ResumeSpec extends SparkSpec {

  private val cfg = GenConfig(numEntities = 40, docsPerEntity = 3, seed = 7L)

  private def rmStage(dir: String, stage: String): Unit = {
    val p = Path.of(dir, stage)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
  }

  test("pipeline resumes from last committed snapshot") {
    val docs = DocGen.docs(spark, cfg).toDF().cache()
    val tmp = Files.createTempDirectory("graft-resume").toString

    // uninterrupted run with checkpoints
    val full = EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "r1")
    val fullAssign = full.assignments.collect().map(r => (r.getString(0), r.getString(1))).sorted

    // simulate a crash after scoring: drop only the clustering snapshot
    rmStage(tmp, "cluster_assignments")
    assert(Snapshots.lastCommitted(tmp, "blocking").isDefined)
    assert(Snapshots.lastCommitted(tmp, "scored_pairs").isDefined)
    assert(Snapshots.lastCommitted(tmp, "cluster_assignments").isEmpty)

    val blockingBytes = Files.walk(Path.of(tmp, "blocking")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).toVector

    val resumed = EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "r2", resume = true)
    val resumedAssign = resumed.assignments.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(resumedAssign.toSeq == fullAssign.toSeq, "resumed clusters differ from uninterrupted run")
    assert(resumed.counters.contains("blocking_resumed"), "blocking stage was recomputed")
    assert(resumed.counters.contains("scored_pairs_resumed"), "scoring stage was recomputed")

    // committed snapshots untouched (byte-identical reuse)
    val blockingBytesAfter = Files.walk(Path.of(tmp, "blocking")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).toVector
    assert(blockingBytesAfter == blockingBytes)

    // lineage rows present for every committed stage
    val lin = Snapshots.lineage(spark, tmp).get
    val stages = lin.select("stage").distinct().collect().map(_.getString(0)).toSet
    // block_hot is committed too but this corpus has zero hot keys, so its
    // snapshot is empty and contributes no per-partition lineage rows
    assert(stages == Set("blocking", "scored_pairs", "cluster_assignments",
      "doc_features", "media_df"))
    assert(lin.where("rows_out < 0").isEmpty)
    // every incremental-base stage has a committed snapshot regardless
    Seq("block_hot", "doc_features", "media_df").foreach(s =>
      assert(Snapshots.lastCommitted(tmp, s).isDefined, s"aux stage $s not committed"))
  }

  test("run into an existing run dir without resume republishes every stage") {
    val small = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 7L)
    val big = small.copy(numEntities = 35)
    val tmp = Files.createTempDirectory("graft-rerun").toString
    EntityResolution.run(spark, DocGen.docs(spark, small).toDF(), runDir = Some(tmp),
      runId = "r1").release()
    val res = EntityResolution.run(spark, DocGen.docs(spark, big).toDF(), runDir = Some(tmp),
      runId = "r2")
    assert(res.assignments.count() == big.numDocs, "CC ran over the first run's doc universe")
    assert(graft.eval.Eval.clusterEquality(res.assignments, DocGen.gold(spark, big).toDF()))
    // the aux stages are this run's, not the first run's
    val rec = Snapshots.record(tmp)
    assert(rec.runId == "r2" && rec.written == EntityResolution.LockstepStages.toSet, s"$rec")
    Seq("doc_features", "media_df").foreach(s =>
      assert(Snapshots.lastCounters(tmp, s)("n_docs") == big.numDocs, s"stale $s"))
    res.release()
  }

  test("resume after a crash between the blocking and block_hot commits recomputes blocking") {
    val spark2 = spark
    import spark2.implicits._
    val docs = DocGen.docs(spark, cfg).toDF().cache()
    val tmp = Files.createTempDirectory("graft-resume-aux").toString
    val full = EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "r1")
    val fullAssign = full.assignments.collect().map(r => (r.getString(0), r.getString(1))).sorted
    full.release()
    // what a fresh run leaves when it crashes right after its first stage
    // commit: the blocking snapshot and no commit record
    (Seq("_commits") ++ EntityResolution.LockstepStages.filter(_ != "blocking"))
      .foreach(rmStage(tmp, _))
    assert(Snapshots.lastCommitted(tmp, "blocking").contains(0L))
    assert(Snapshots.lastCommitted(tmp, "block_hot").isEmpty)

    val resumed = EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "r2", resume = true)
    assert(!resumed.counters.contains("blocking_resumed"), "blocking resumed without its block_hot")
    assert(resumed.assignments.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      == fullAssign.toSeq)
    assert(Snapshots.record(tmp).stages.keySet == EntityResolution.LockstepStages.toSet)
    resumed.release()
    // the published base serves the insert increment
    val arrivals = DocGen.docs(spark, GenConfig(numEntities = 2, docsPerEntity = 3, seed = 4242L))
      .map(d => d.copy(doc_id = "arr" + d.doc_id)).toDF()
    val added = EntityResolution.addDocuments(spark, arrivals, tmp, runId = "incr")
    assert(added.assignments.count() == cfg.numDocs + 6)
    docs.unpersist()
  }

  test("snapshotReport: the --snapshot-id surface re-evaluates an older run read-only") {
    val docs = DocGen.docs(spark, cfg).toDF().cache()
    val tmp = Files.createTempDirectory("graft-snapid").toString
    EntityResolution.run(spark, docs, runDir = Some(tmp), runId = "r1")
    val json = graft.Main.snapshotReport(spark, tmp, 0L, cfg, doEval = true)
    assert(json.contains(""""snapshot_id":0"""), json)
    assert(json.contains(s""""docs":${cfg.numDocs}"""), json)
    assert(json.contains(s""""clusters":${cfg.numEntities}"""), json)
    assert(json.contains(""""cluster_equality":true"""), json)
    // unknown snapshot id fails loud through the same surface
    intercept[IllegalArgumentException](
      graft.Main.snapshotReport(spark, tmp, 9L, cfg, doEval = false))
    docs.unpersist()
  }

  test("time-travel: older snapshot stays readable and byte-stable after a newer commit") {
    import org.apache.spark.sql.functions.lit
    val spark2 = spark
    import spark2.implicits._
    val tmp = Files.createTempDirectory("graft-tt").toString
    val v0 = Seq(("a", 1L), ("b", 2L)).toDF("doc_id", "n")
    val c0 = Snapshots.commit(spark, v0, tmp, "stage_x", "r1", Map("rows" -> 2L))
    assert(c0.snapshotId == 0L)
    val snap0 = Snapshots.loadSnapshot(spark, tmp, "stage_x", 0L)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val bytes0 = Files.walk(Path.of(tmp, "stage_x", "snapshot=0")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).toVector

    // a newer commit with DIFFERENT content must not disturb snapshot 0
    val v1 = v0.withColumn("n", lit(99L)).union(Seq(("c", 3L)).toDF("doc_id", "n"))
    val c1 = Snapshots.commit(spark, v1, tmp, "stage_x", "r1", Map("rows" -> 3L))
    assert(c1.snapshotId == 1L)
    assert(Snapshots.snapshots(tmp, "stage_x") == Seq(0L, 1L))
    // latest = snapshot 1
    assert(Snapshots.loadCommitted(spark, tmp, "stage_x").get.count() == 3L)
    // time-travel = snapshot 0, identical rows, identical bytes
    val again = Snapshots.loadSnapshot(spark, tmp, "stage_x", 0L)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(again.toSeq == snap0.toSeq)
    val bytes0After = Files.walk(Path.of(tmp, "stage_x", "snapshot=0")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).toVector
    assert(bytes0After == bytes0)
    // unknown id fails loud
    intercept[IllegalArgumentException](Snapshots.loadSnapshot(spark, tmp, "stage_x", 7L))
  }

  test("incompatible snapshot format version fails loud with an explicit error") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = Files.createTempDirectory("graft-ver").toString
    Snapshots.commit(spark, Seq(("a", 1L)).toDF("doc_id", "n"), tmp, "stage_v", "r1", Map.empty)
    // rewrite the manifest as an older format version
    val m = Path.of(tmp, "stage_v", "snapshot=0", "_manifest.json")
    Files.writeString(m, Files.readString(m).replace(
      s""""format_version":${Snapshots.FormatVersion}""", """"format_version":1"""))
    val e = intercept[Snapshots.IncompatibleSnapshotException](
      Snapshots.loadSnapshot(spark, tmp, "stage_v", 0L))
    assert(e.getMessage.contains("format_version 1"))
    // a manifest with NO version field (pre-versioning layout) reads as v1
    Files.writeString(m, Files.readString(m).replace(""""format_version":1,""", ""))
    intercept[Snapshots.IncompatibleSnapshotException](
      Snapshots.loadSnapshot(spark, tmp, "stage_v", 0L))
  }
}
