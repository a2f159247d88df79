package graft.ckpt

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSpec
import graft.pipeline.EntityResolution
import graft.synth.{DocGen, GenConfig}
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, spark_partition_id}
import scala.jdk.CollectionConverters._

/** Delta snapshots (Snapshots.commitDelta): merge-on-read resolution —
  * `base.antiJoin(removes, keys) ∪ adds` — over arbitrary chain depth,
  * with the base snapshot untouched (time-travel byte-stability) and the
  * manifest carrying format_version 3 + the caller-maintained resolved
  * row count — and the recorded read schemas that let every read skip
  * schema inference.
  */
class DeltaSnapshotSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("commitDelta: adds, keyed removes, chained deltas, time-travel to base") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-delta").toString
    val base = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
    Snapshots.commit(spark, base, tmp, "t", "r0", Map("n" -> 3L))

    // delta 1: replace b (remove by key + re-add), add d
    val adds1 = Seq(("b", 20L), ("d", 4L)).toDF("k", "v")
    val rm1 = Seq("b").toDF("k")
    val c1 = Snapshots.commitDelta(spark, adds1, Some((rm1, Seq("k"))), tmp, "t", "r1",
      Map("n" -> 4L), resolvedRows = 4L)
    assert(c1.snapshotId == 1L && c1.rows == 4L)
    assert(rows(Snapshots.loadSnapshot(spark, tmp, "t", 1L)) ==
      Set(("a", 1L), ("b", 20L), ("c", 3L), ("d", 4L)))

    // delta 2 on top of delta 1: remove a (no re-add), add e — resolution
    // recurses through the chain and the anti-join applies to the RESOLVED
    // base (delta-1 rows are removable too)
    val adds2 = Seq(("e", 5L)).toDF("k", "v")
    val rm2 = Seq("a", "d").toDF("k")
    Snapshots.commitDelta(spark, adds2, Some((rm2, Seq("k"))), tmp, "t", "r2",
      Map("n" -> 3L), resolvedRows = 3L)
    assert(rows(Snapshots.loadCommitted(spark, tmp, "t").get) ==
      Set(("b", 20L), ("c", 3L), ("e", 5L)))

    // time-travel: the full base and the intermediate delta stay readable
    assert(rows(Snapshots.loadSnapshot(spark, tmp, "t", 0L)) ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
    assert(rows(Snapshots.loadSnapshot(spark, tmp, "t", 1L)) ==
      Set(("a", 1L), ("b", 20L), ("c", 3L), ("d", 4L)))

    // manifest bookkeeping: resolved row counts + counters per snapshot
    assert(Snapshots.committedRows(tmp, "t", 0L).contains(3L))
    assert(Snapshots.committedRows(tmp, "t", 2L).contains(3L))
    assert(Snapshots.lastRows(tmp, "t").contains(3L))
    assert(Snapshots.counters(tmp, "t", 2L)("n") == 3L)
  }

  test("resolved delta is schema-order-identical to its base (non-leading remove key)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-delta-ord").toString
    // base column order (doc, cl); remove keyed on the SECOND column — a
    // USING-column anti-join moves key columns to the front, which the
    // resolver must undo or positional consumers (exceptAll, parquet
    // appends) silently compare doc against cl
    val base = Seq(("x1", "c1"), ("x2", "c1"), ("y1", "c2")).toDF("doc", "cl")
    Snapshots.commit(spark, base, tmp, "t", "r0", Map.empty)
    val adds = Seq(("x9", "c9")).toDF("doc", "cl")
    Snapshots.commitDelta(spark, adds, Some((Seq("c2").toDF("cl"), Seq("cl"))),
      tmp, "t", "r1", Map.empty, resolvedRows = 3L)
    val resolved = Snapshots.loadCommitted(spark, tmp, "t").get
    assert(resolved.columns.toSeq == Seq("doc", "cl"),
      s"resolved delta reordered columns: ${resolved.columns.toSeq}")
    // positional equality with an equivalent full relation must hold
    val expected = Seq(("x1", "c1"), ("x2", "c1"), ("x9", "c9")).toDF("doc", "cl")
    assert(resolved.exceptAll(expected).isEmpty && expected.exceptAll(resolved).isEmpty)
    assert(resolved.where(col("doc") === "y1").isEmpty)
  }

  test("commitDelta without removes is a pure append; requires a committed base") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-delta-app").toString
    // no base -> fail loud
    val e = intercept[RuntimeException](Snapshots.commitDelta(spark,
      Seq(("x", 1L)).toDF("k", "v"), None, tmp, "t", "r", Map.empty, 1L))
    assert(e.getMessage.contains("no committed base"))
    Snapshots.commit(spark, Seq(("a", 1L)).toDF("k", "v"), tmp, "t", "r0", Map.empty)
    Snapshots.commitDelta(spark, Seq(("b", 2L)).toDF("k", "v"), None, tmp, "t", "r1",
      Map.empty, 2L)
    assert(rows(Snapshots.loadCommitted(spark, tmp, "t").get) == Set(("a", 1L), ("b", 2L)))
  }

  private val mapper = new ObjectMapper()

  private def manifestPath(dir: String, stage: String, id: Long): Path =
    Path.of(dir, stage, s"snapshot=$id", "_manifest.json")

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Jobs `body` starts. Listener events arrive asynchronously, so a
    * sentinel job before and after the body brackets exactly its jobs:
    * events are delivered in order, so once the closing sentinel's start
    * is seen every job the body started has been counted.
    */
  private def jobsStarted[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(2)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.job.description") == "sentinel")) {
          opened.countDown(); closed.countDown()
        } else if (opened.getCount == 0L) jobs.incrementAndGet()
    }
    def sentinel(): Unit = {
      sc.setJobDescription("sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel()
      assert(opened.await(60, TimeUnit.SECONDS), "opening sentinel job never seen")
      val a = body
      sentinel()
      assert(closed.await(60, TimeUnit.SECONDS), "closing sentinel job never seen")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("recorded read schemas: every stage, a removal delta and an empty-adds delta read as plain parquet does") {
    val tmp = Files.createTempDirectory("graft-delta-schema").toString
    val gen = GenConfig(numEntities = 30, docsPerEntity = 3, seed = 5L)
    EntityResolution.run(spark, DocGen.docs(spark, gen).toDF(), runDir = Some(tmp)).release()
    // a removal commits keyed-remove deltas, with empty adds on most stages
    val gone = DocGen.docs(spark, gen).toDF().select("doc_id").orderBy("doc_id").limit(4)
    EntityResolution.removeDocuments(spark, gone, tmp).release()
    // an empty-adds lockstep delta without removes
    Snapshots.commitDelta(spark, Snapshots.loadCommitted(spark, tmp, "blocking").get
      .limit(0).repartition(1), None, tmp, "blocking", "noop",
      Snapshots.lastCounters(tmp, "blocking"), Snapshots.lastRows(tmp, "blocking").get)

    val stages = Seq("blocking", "scored_pairs", "cluster_assignments",
      EntityResolution.StageBlockHot, EntityResolution.StageDocFeatures,
      EntityResolution.StageMediaDf)
    var removesSeen = 0
    for (stage <- stages; id <- Snapshots.snapshots(tmp, stage)) {
      val m = mapper.readTree(Files.readString(manifestPath(tmp, stage, id)))
      for (part <- Seq("data", "removes")
           if Files.isDirectory(Path.of(tmp, stage, s"snapshot=$id", part))) {
        assert(m.has(s"${part}_schema"), s"$stage/$id: no recorded $part schema")
        val recorded = Snapshots.readPart(spark, tmp, stage, id, part)
        val inferred = spark.read.parquet(s"$tmp/$stage/snapshot=$id/$part")
        assert(recorded.schema == inferred.schema, s"$stage/$id/$part schema")
        assert(sortedRows(recorded) == sortedRows(inferred), s"$stage/$id/$part rows")
        if (part == "removes") removesSeen += 1
      }
      // lineage rows are the (read partition, rows) pairs of the old
      // groupBy(spark_partition_id()) over the re-read data
      val lineage = spark.read.parquet(s"$tmp/$stage/snapshot=$id/lineage")
        .select("read_partition_id", "rows_out").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      val grouped = spark.read.parquet(s"$tmp/$stage/snapshot=$id/data")
        .groupBy(spark_partition_id()).agg(count(lit(1))).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(lineage == grouped, s"$stage/$id lineage")
      if (!Snapshots.isDelta(tmp, stage, id))
        assert(Snapshots.committedRows(tmp, stage, id).contains(grouped.toSeq.map(_._2).sum))
    }
    assert(removesSeen >= 3, "the removal committed no keyed removes")

    // manifests written before the schema was recorded still load (by
    // inference), and resolve to the same relation
    val before = Snapshots.loadCommitted(spark, tmp, "scored_pairs").get
    val beforeRows = sortedRows(before)
    for (id <- Snapshots.snapshots(tmp, "scored_pairs")) {
      val p = manifestPath(tmp, "scored_pairs", id)
      val m = mapper.readTree(Files.readString(p)).asInstanceOf[ObjectNode]
      m.remove(Seq("data_schema", "removes_schema").asJava)
      Files.writeString(p, mapper.writeValueAsString(m))
      assert(!Files.readString(p).contains("_schema"))
    }
    val after = Snapshots.loadCommitted(spark, tmp, "scored_pairs").get
    assert(after.schema == before.schema)
    assert(sortedRows(after) == beforeRows)
  }

  test("job-count pins: a delta-chain load starts no job, a commit starts three") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-delta-jobs").toString
    Snapshots.commit(spark, Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"),
      tmp, "t", "r0", Map.empty)
    for (i <- 1 to 3)
      Snapshots.commitDelta(spark, Seq((s"n$i", i.toLong)).toDF("k", "v"),
        Some((Seq(Seq("a", "b", "c")(i - 1)).toDF("k"), Seq("k"))), tmp, "t", s"r$i",
        Map.empty, resolvedRows = 3L)
    assert(Snapshots.chainDepth(tmp, "t") == 3)
    val (loaded, loadJobs) = jobsStarted(Snapshots.loadCommitted(spark, tmp, "t").get)
    assert(loadJobs == 0, s"loading a depth-3 delta chain started $loadJobs jobs")
    assert(rows(loaded) == Set(("n1", 1L), ("n2", 2L), ("n3", 3L)))

    // data write, lineage count, lineage write
    val (_, commitJobs) = jobsStarted(
      Snapshots.commit(spark, Seq(("x", 9L)).toDF("k", "v"), tmp, "u", "r0", Map("n" -> 1L)))
    assert(commitJobs == 3, s"a one-partition commit started $commitJobs jobs")
  }
}
