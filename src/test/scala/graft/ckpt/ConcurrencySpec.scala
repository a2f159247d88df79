package graft.ckpt

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Staged-commit concurrency contract: every commit writes into a private
  * `_attempt_` directory and publishes with ONE atomic rename, so (a) two
  * uncoordinated writers racing the same snapshot id produce exactly one
  * committed snapshot plus one loud ConcurrentCommitException — never a
  * shared directory with interleaved files; (b) a writer that crashes
  * before publishing leaves only invisible staging garbage, swept by
  * repair's cleanAttempts, and crash garbage under a `snapshot=` name is
  * never published onto (fresh ids go above it); (c) two writers that both
  * read commit record v race at record v + 1, and exactly one publishes it.
  */
class ConcurrencySpec extends SparkSpec {

  private def vals(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("publish CAS: the id-losing commit fails loud and the winner's bytes are untouched") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cas").toString
    Snapshots.commit(spark, Seq(1L, 2L).toDF("v"), tmp, "t", "writerA", Map.empty)
    val dataFiles = {
      val d = Paths.get(s"$tmp/t/snapshot=0/data")
      scala.util.Using.resource(Files.list(d))(_.toArray.toSeq.map(_.toString)).sorted
    }

    // a second writer that computed the SAME next id (the race, made
    // deterministic through the package-private commitAt seam)
    val ex = intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.commitAt(spark, Seq(99L).toDF("v"), tmp, "t", "writerB", Map.empty, 0L)
    }
    assert(ex.getMessage.contains("snapshot=0") && ex.getMessage.contains("another writer"))

    // winner byte-identical: same file listing, same rows; loser invisible
    val after = {
      val d = Paths.get(s"$tmp/t/snapshot=0/data")
      scala.util.Using.resource(Files.list(d))(_.toArray.toSeq.map(_.toString)).sorted
    }
    assert(after == dataFiles)
    assert(vals(Snapshots.loadSnapshot(spark, tmp, "t", 0L)) == Set(1L, 2L))
    assert(Snapshots.snapshots(tmp, "t") == Seq(0L))
    // the loser's staged attempt was deleted on the failed publish
    val leftover = scala.util.Using.resource(Files.list(Paths.get(s"$tmp/t")))(
      _.toArray.toSeq.map(p => Paths.get(p.toString).getFileName.toString))
    assert(!leftover.exists(_.startsWith("_attempt_")), s"stale attempt left: $leftover")
  }

  test("two live writers racing one stage: exactly one committed snapshot per id, no interleaving") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-race").toString
    Snapshots.commit(spark, Seq(0L).toDF("v"), tmp, "t", "base", Map.empty)

    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def writer(tag: Long) = pool.submit(new java.util.concurrent.Callable[String] {
      def call(): String = {
        start.await()
        try { Snapshots.commit(spark, Seq(tag, tag).toDF("v"), tmp, "t", s"w$tag", Map.empty); "ok" }
        catch { case _: Snapshots.ConcurrentCommitException => "lost" }
      }
    })
    val (fa, fb) = (writer(111L), writer(222L))
    start.countDown()
    val outcomes = Seq(fa, fb).map(_.get(120, TimeUnit.SECONDS)).sorted
    pool.shutdown()

    // both-win (serialized by timing: ids 1 and 2) or one-loses (id 1 only)
    // are the only legal outcomes; either way every committed snapshot
    // holds exactly ONE writer's rows and ids are contiguous
    val ids = Snapshots.snapshots(tmp, "t")
    assert(outcomes == Seq("ok", "ok") || outcomes == Seq("lost", "ok"), s"outcomes=$outcomes")
    assert(ids == (0L until (1L + outcomes.count(_ == "ok"))), s"ids=$ids outcomes=$outcomes")
    ids.drop(1).foreach { id =>
      val v = vals(Snapshots.loadSnapshot(spark, tmp, "t", id))
      assert(v == Set(111L) || v == Set(222L), s"snapshot=$id interleaved: $v")
    }
  }

  test("a marker-less snapshot dir is never a publish target: commit goes above it, repair sweeps it") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-garbage").toString
    Snapshots.commit(spark, Seq(0L).toDF("v"), tmp, "t", "base", Map.empty) // id 0
    // crash garbage at the next id: a snapshot dir without its marker (a
    // dropSnapshot interrupted after deleting the marker, say)
    Seq(13L).toDF("v").write.parquet(s"$tmp/t/snapshot=1/data")
    assert(Snapshots.snapshots(tmp, "t") == Seq(0L)) // invisible to readers
    val c = Snapshots.commit(spark, Seq(111L).toDF("v"), tmp, "t", "w", Map.empty)
    assert(c.snapshotId == 2L, "a fresh id goes above every snapshot dir, garbage included")
    assert(Snapshots.snapshots(tmp, "t") == Seq(0L, 2L))
    assert(Snapshots.lastCommitted(tmp, "t").contains(2L))
    assert(vals(Snapshots.loadCommitted(spark, tmp, "t").get) == Set(111L))
    assert(Snapshots.repair(tmp) == Seq(s"$tmp/t/snapshot=1"))
    assert(Snapshots.snapshotDirIds(tmp, "t") == Seq(0L, 2L))
    assert(vals(Snapshots.loadSnapshot(spark, tmp, "t", 0L)) == Set(0L))
  }

  test("a crashed writer's staging dir is invisible to readers and swept by cleanAttempts") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stale").toString
    Snapshots.commit(spark, Seq(7L).toDF("v"), tmp, "t", "r0", Map("n" -> 1L))

    // simulate a crash mid-staging: attempt dir with data+lineage, no publish
    val attempt = Paths.get(s"$tmp/t/_attempt_deadbeef")
    Seq(5L).toDF("v").write.parquet(s"$attempt/data")
    Seq(5L).toDF("rows_out").write.parquet(s"$attempt/lineage")

    assert(Snapshots.snapshots(tmp, "t") == Seq(0L))
    assert(Snapshots.snapshotDirIds(tmp, "t") == Seq(0L))
    assert(vals(Snapshots.loadCommitted(spark, tmp, "t").get) == Set(7L))
    // the run-wide lineage log never reads staged lineage
    assert(Snapshots.lineage(spark, tmp).get.select("rows_out").collect().map(_.getLong(0)).toSeq
      == Seq(1L))

    val swept = Snapshots.cleanAttempts(tmp, "t")
    assert(swept.size == 1 && swept.head.contains("_attempt_deadbeef"))
    assert(!Files.exists(attempt))
    // committed state untouched by the sweep
    assert(vals(Snapshots.loadCommitted(spark, tmp, "t").get) == Set(7L))
  }

  test("cleanAttempts sweeps a crashed attempt that already holds its _COMMITTED marker") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-marked").toString
    Snapshots.commit(spark, Seq(7L).toDF("v"), tmp, "t", "r0", Map("n" -> 1L))
    // a writer that crashed between writing the marker inside its attempt
    // and the publish rename
    val marked = Paths.get(s"$tmp/t/_attempt_cafe")
    Seq(9L).toDF("v").write.parquet(s"$marked/data")
    Files.writeString(marked.resolve("_COMMITTED"), "ok")
    // and one that crashed mid-write
    val partial = Paths.get(s"$tmp/t/_attempt_feed")
    Seq(5L).toDF("v").write.parquet(s"$partial/data")
    val swept = Snapshots.cleanAttempts(tmp, "t")
    assert(swept.map(p => Paths.get(p).getFileName.toString).sorted ==
      Seq("_attempt_cafe", "_attempt_feed"), s"swept $swept")
    assert(!Files.exists(marked) && !Files.exists(partial))
    assert(Snapshots.snapshots(tmp, "t") == Seq(0L))
    assert(vals(Snapshots.loadCommitted(spark, tmp, "t").get) == Set(7L))
    assert(Snapshots.repair(tmp).isEmpty, "nothing left to sweep")
  }

  test("record CAS: two writers from record v, exactly one publishes v + 1") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-record-cas").toString
    Snapshots.commit(spark, Seq(0L).toDF("v"), tmp, "t", "base", Map.empty)
    val v = Snapshots.record(tmp)
    // both writers staged a stage snapshot on top of record v (ids 1, 2)
    Snapshots.commitAt(spark, Seq(111L).toDF("v"), tmp, "t", "wA", Map.empty, 1L)
    Snapshots.commitAt(spark, Seq(222L).toDF("v"), tmp, "t", "wB", Map.empty, 2L)
    def rec(writer: String, id: Long) =
      Snapshots.Record(v.version + 1, writer, "test", v.stages + ("t" -> id), Set("t"))
    Snapshots.publishAt(tmp, rec("wA", 1L))
    val ex = intercept[Snapshots.ConcurrentCommitException](Snapshots.publishAt(tmp, rec("wB", 2L)))
    assert(ex.getMessage.contains(s"commit record ${v.version + 1}"))
    // the winner's state resolves; the loser's snapshot stays invisible
    assert(Snapshots.record(tmp) == rec("wA", 1L))
    assert(Snapshots.lastCommitted(tmp, "t").contains(1L))
    assert(vals(Snapshots.loadCommitted(spark, tmp, "t").get) == Set(111L))
    val leftover = scala.util.Using.resource(Files.list(Paths.get(s"$tmp/_commits")))(
      _.toArray.toSeq.map(p => Paths.get(p.toString).getFileName.toString))
    assert(leftover.sorted == Seq("1.json", "2.json"), s"stale temp files: $leftover")
  }

  test("record CAS: a verb holding a stale record loses loud; its snapshots stay invisible") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-record-stale").toString
    Snapshots.commit(spark, Seq(0L).toDF("v"), tmp, "t", "base", Map.empty)
    // writer B opens its transaction at record 1 and stages a delta...
    val txn = Snapshots.begin(tmp, "wB", "test")
    Snapshots.commitDelta(spark, Seq(222L).toDF("v"), None, tmp, "t", "wB", Map.empty, 2L)
    // ...while writer A, on another thread, publishes record 2
    val pool = Executors.newSingleThreadExecutor()
    pool.submit(new Runnable {
      def run(): Unit = Snapshots.commit(spark, Seq(111L).toDF("v"), tmp, "t", "wA", Map.empty)
    }).get(120, TimeUnit.SECONDS)
    pool.shutdown()
    intercept[Snapshots.ConcurrentCommitException](txn.publish())
    txn.close()
    assert(Snapshots.record(tmp).runId == "wA")
    assert(Snapshots.lastCommitted(tmp, "t").contains(2L))
    assert(vals(Snapshots.loadCommitted(spark, tmp, "t").get) == Set(111L))
    // the loser's delta (id 1) is garbage no record names: repair sweeps it
    assert(Snapshots.repair(tmp) == Seq(s"$tmp/t/snapshot=1"))
    assert(Snapshots.snapshots(tmp, "t") == Seq(0L, 2L))
  }
}
