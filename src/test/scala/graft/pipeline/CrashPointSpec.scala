package graft.pipeline

import graft.SparkSpec
import graft.ckpt.Snapshots
import graft.model.{Doc, Span}
import graft.operators.ClusterAudit
import graft.streaming.StreamingIngest
import graft.synth.{DocGen, GenConfig}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Crash points of every multi-stage verb (replace included: its two
  * halves publish one record), with no hook in the engine.
  * Stage snapshot dirs are immutable once committed, so deleting what a
  * completed verb published — its commit record and every stage snapshot
  * dir it created after the first j, in commit order — leaves a run dir
  * byte-identical to one whose writer crashed after j stage commits. At
  * every such point the run must read exactly its pre-verb state, and
  * `ingestBatch` of the verb's batch must pass the certificate (not done)
  * and enter the increment, which then stops at its own disjointness check
  * on a doc the corpus already holds; at the middle crash point of the
  * insert a fresh batch must ingest in full, and at the last crash point
  * of every verb re-running it must reach the uncrashed run's clusters.
  */
class CrashPointSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = Files.createTempDirectory("graft-crash").toString

  private def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    scala.util.Using.resource(Files.walk(s))(_.forEach { p =>
      val d = Paths.get(dst).resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    })
  }

  private def deleteDir(dir: String): Unit =
    scala.util.Using.resource(Files.walk(Paths.get(dir)))(
      _.iterator.asScala.toSeq.reverse.foreach(p => Files.delete(p)))

  private def list(dir: String): Seq[Path] =
    if (!Files.isDirectory(Paths.get(dir))) Seq.empty
    else scala.util.Using.resource(Files.list(Paths.get(dir)))(_.iterator.asScala.toList)

  private def stages(dir: String): Seq[String] =
    list(dir).filter(Files.isDirectory(_)).map(_.getFileName.toString).filterNot(_.startsWith("_"))

  /** Every committed stage snapshot dir of `dir`, with its commit time. */
  private def snapshotDirs(dir: String): Map[(String, String), Long] =
    stages(dir).flatMap(s => list(s"$dir/$s").map(_.getFileName.toString)
      .filter(_.startsWith("snapshot=")).flatMap { snap =>
        val marker = Paths.get(dir, s, snap, "_COMMITTED")
        Option.when(Files.exists(marker))((s, snap) -> Files.getLastModifiedTime(marker).toMillis)
      }).toMap

  private def resolved(dir: String, names: Seq[String]): Map[String, Option[Long]] =
    names.map(s => s -> Snapshots.lastCommitted(dir, s)).toMap

  private def rows(dir: String, stage: String): Seq[String] =
    Snapshots.loadCommitted(spark, dir, stage).toSeq.flatMap(_.collect().map(_.toString)).sorted

  private def clusters(dir: String): Set[(String, String)] =
    Snapshots.loadCommitted(spark, dir, "cluster_assignments").get
      .as[(String, String)].collect().toSet

  /** Fresh arrivals no corpus here contains. */
  private lazy val arrivals = DocGen.docs(spark, GenConfig(numEntities = 2, docsPerEntity = 3,
    seed = 4242L)).map(d => d.copy(doc_id = "arr" + d.doc_id)).toDF()
  /** A doc every corpus here already holds. */
  private lazy val known = planted.take(1).toDF()

  /** Run `verb` (a verb of streaming batch `batchId`) on a copy of `pre`,
    * then replay every crash point of it. Returns the uncrashed run dir.
    */
  private def crashPoints(name: String, pre: String, batchId: Long, ingestMid: Boolean = false)(
      verb: String => Unit): String = {
    val done = s"$scratch/$name-done"
    copyDir(pre, done)
    val preSnaps = snapshotDirs(pre).keySet
    val preRecords = list(s"$pre/_commits").map(_.getFileName.toString).toSet
    verb(done)
    val created = (snapshotDirs(done) -- preSnaps).toSeq.sortBy(_._2).map(_._1)
    val records = list(s"$done/_commits").map(_.getFileName.toString).toSet -- preRecords
    // one commit point per verb: deleting this one record is the crash
    assert(records.size == 1, s"$name published ${records.size} records, not one: $records")
    val all = stages(done)
    val preState = resolved(pre, all)
    assert(created.nonEmpty && resolved(done, all) != preState, s"$name committed nothing")
    assert(StreamingIngest.ingestBatch(spark, arrivals, done, batchId) == StreamingIngest.Skipped,
      s"$name: the uncrashed run must certify batch $batchId")

    def crashAt(j: Int, tag: String): String = {
      val dir = s"$scratch/$name-crash$j$tag"
      copyDir(done, dir)
      records.foreach(r => Files.delete(Paths.get(dir, "_commits", r)))
      created.drop(j).foreach { case (s, snap) => deleteDir(s"$dir/$s/$snap") }
      dir
    }
    for (j <- 0 to created.size) {
      val dir = crashAt(j, "")
      assert(resolved(dir, all) == preState,
        s"$name crashed after ${created.take(j)}: ${resolved(dir, all)} != $preState")
      if (j == created.size) all.foreach(s =>
        assert(rows(dir, s) == rows(pre, s), s"$name: $s does not read its pre-verb relation"))
      // the certificate reads the batch as not done and nothing refuses the
      // history: the increment runs up to its input check
      val e = intercept[IllegalArgumentException](
        StreamingIngest.ingestBatch(spark, known, dir, batchId))
      assert(e.getMessage.contains("disjoint"), s"$name crashed after ${created.take(j)}: $e")
      if (ingestMid && j == created.size / 2) assert(StreamingIngest.ingestBatch(spark, arrivals, dir, batchId)
        .isInstanceOf[StreamingIngest.Ingested], s"$name crashed after ${created.take(j)}")
    }
    val rerun = crashAt(created.size, "-rerun")
    verb(rerun)
    assert(clusters(rerun) == clusters(done), s"$name: the re-run's clusters differ")
    done
  }

  private def textDoc(id: String, text: String) =
    Doc(id, text.split(" ").toSeq.zipWithIndex.map { case (t, i) => Span("text", t, "", i) })

  /** The StreamingIngestSpec recipe: two strong triangles glued by a weak
    * 3-edge cross bundle (~0.57) — a false merge at threshold 0.55, a
    * false split in the merge band at 0.60.
    */
  private def planted: Seq[Doc] =
    Seq("quince", "grape", "plum").zipWithIndex.map { case (t, i) =>
      textDoc(s"x$i", s"liberty alpha apple banana cherry nut oat pear $t") } ++
    Seq("teff", "fonio", "emmer").zipWithIndex.map { case (t, i) =>
      textDoc(s"y$i", s"liberty melon nut oat pear quince rye spelt $t") }

  private val corpusCfg = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 61L)
  private lazy val corpus = DocGen.docs(spark, corpusCfg).toDF().unionByName(planted.toDF())

  test("a crash between any two stage commits of insert, removal, audit and compaction reads as before the verb") {
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.55)
    val base = s"$scratch/base55"
    EntityResolution.run(spark, corpus, cfg, runDir = Some(base), runId = "base").release()
    val added = DocGen.docs(spark, GenConfig(numEntities = 5, docsPerEntity = 3, seed = 6161L))
      .map(d => d.copy(doc_id = "n" + d.doc_id)).toDF()
    val afterAdd = crashPoints("add", base, 1L, ingestMid = true)(dir =>
      EntityResolution.addDocuments(spark, added, dir, cfg, runId = "stream-1").release())
    val gone = DocGen.docs(spark, corpusCfg).toDF().select("doc_id").orderBy("doc_id").limit(4)
    val afterRemove = crashPoints("remove", afterAdd, 2L)(dir =>
      EntityResolution.removeDocuments(spark, gone, dir, cfg, runId = "stream-2-rm").release())
    val afterAudit = crashPoints("audit", afterRemove, 3L) { dir =>
      val a = EntityResolution.auditRepair(spark, dir,
        ClusterAudit.AuditConfig(threshold = cfg.scoreThreshold), runId = "stream-3-audit")
      assert(a.counters("audit_committed") == 1L, s"the audit must cut: ${a.counters}")
    }
    crashPoints("compact", afterAudit, 5L)(dir =>
      EntityResolution.compactRun(spark, dir, runId = "stream-5-compact"))
  }

  test("a crash between any two stage commits of a committing mergeRepair reads as before the verb") {
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.60)
    val base = s"$scratch/base60"
    EntityResolution.run(spark, corpus, cfg, runDir = Some(base), runId = "base").release()
    crashPoints("merge", base, 4L) { dir =>
      val m = EntityResolution.mergeRepair(spark, dir, StreamingIngest.effectiveMerge(cfg, None),
        runId = "stream-4-merge")
      assert(m.counters("merge_committed") == 1L, s"the merge must heal: ${m.counters}")
    }
  }

  test("a crash between any two stage commits of replaceDocuments reads as before the verb") {
    val cfg = EntityResolution.PipelineConfig(scoreThreshold = 0.55)
    val base = s"$scratch/base-replace"
    EntityResolution.run(spark, corpus, cfg, runDir = Some(base), runId = "base").release()
    // revisions of the first three entities: the retraction half and the
    // insert half each commit all six stages
    val revised = DocGen.docsRevised(spark, corpusCfg, 9).toDF()
    crashPoints("replace", base, 6L) { dir =>
      val r = EntityResolution.replaceDocuments(spark, revised, dir, cfg, runId = "stream-6-replace")
      assert(r.counters("docs_replaced") == 9L, s"${r.counters}")
      r.release()
    }
  }
}
