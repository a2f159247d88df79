package graft

import graft.pipeline.EntityResolution
import graft.synth.{DocGen, GenConfig}
import org.apache.spark.sql.SparkSession

/** SUPPLEMENTARY benchmarks the frozen driver contract (graft.Bench)
  * cannot carry — separate main, separate JSON line; never replaces a
  * driver-contract number:
  *
  *  - noop-sink isolation (optimization guide §1.4) for the slowest
  *    queries: `df.write.format("noop")` computes every column of every
  *    row, so the timing excludes count()-specific pruning and any sink;
  *  - the scoped merge-audit cadence prices: one full mergeRepair, one
  *    scoped pass over its own relabel delta, and the steady-state IDLE
  *    scoped pass (`er_merge_incremental_idle_sec` — the recurring cost
  *    of ASKING whether anything split, the round-5 verdict's "Done"
  *    criterion for watermark-scoping the merge audit);
  *  - the cut audit's idle twin for comparison.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_ENTITIES
  * (same semantics as graft.Bench).
  */
object BenchExtra {

  private val localDir = s"/dev/shm/graft-benchextra-${ProcessHandle.current().pid()}"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val entities = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENTITIES", "200000").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
    import spark.implicits._
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    try {
      // 1) noop-sink isolation of the slowest queries (count() can prune)
      val noopNames = Seq("q36_er_cluster", "q20_dedup_minhash_lsh", "q16_day_overlap_pairs",
        "q35_weighted_jaccard", "q48_weekly_monthly", "q33_kde_patterns", "q25_embed_ivf_topk")
      val noop = noopNames.map { name =>
        spark.sparkContext.setJobDescription(s"noop: $name")
        val t = timed {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        spark.sparkContext.setJobDescription(null)
        f""""$name":$t%.3f"""
      }.mkString(",")

      // 2) merge-audit cadence prices on a bench-shaped committed run
      val cfg = GenConfig(numEntities = entities, docsPerEntity = 3, seed = 42L)
      val corpusP = s"$localDir-corpus"
      DocGen.docs(spark, cfg).toDF().write.mode("overwrite").parquet(corpusP)
      val runDir = s"$localDir-run"
      val tBase = timed {
        EntityResolution.run(spark, spark.read.parquet(corpusP),
          runDir = Some(runDir), runId = "extra-base").release()
      }
      val tAudit = timed {
        EntityResolution.auditRepair(spark, runDir, runId = "extra-audit").release()
      }
      val tAuditIdle = timed {
        EntityResolution.auditRepair(spark, runDir, runId = "extra-audit2",
          incremental = true)
      }
      val tMergeFull = timed {
        EntityResolution.mergeRepair(spark, runDir, runId = "extra-merge")
      }
      // scoped pass #1 re-judges the full merge's own relabel delta (its
      // watermark is stamped pre-commit, see EntityResolution.MergeWatermark)
      var scoped1Clusters = -1L
      val tMergeScoped = timed {
        scoped1Clusters = EntityResolution.mergeRepair(spark, runDir,
          runId = "extra-merge2", incremental = true)
          .counters.getOrElse("merge_scope_clusters", -1L)
      }
      // scoped pass #2 is the steady-state idle cadence point: zero scope
      var idleClusters = -1L
      val tMergeIdle = timed {
        idleClusters = EntityResolution.mergeRepair(spark, runDir,
          runId = "extra-merge3", incremental = true)
          .counters.getOrElse("merge_scope_clusters", -1L)
      }
      println(s"""{"metric":"bench_extra","sf":"$sfDir","noop_sec":{$noop},""" +
        f""""er_base_sec":$tBase%.3f,"er_audit_sec":$tAudit%.3f,""" +
        f""""er_audit_incremental_idle_sec":$tAuditIdle%.3f,""" +
        f""""er_merge_full_sec":$tMergeFull%.3f,""" +
        f""""er_merge_scoped_sec":$tMergeScoped%.3f,"er_merge_scoped_clusters":$scoped1Clusters,""" +
        f""""er_merge_incremental_idle_sec":$tMergeIdle%.3f,"er_merge_idle_scope_clusters":$idleClusters}""")
    } finally {
      spark.stop()
      import scala.reflect.io.Directory
      Seq(localDir, s"$localDir-corpus", s"$localDir-run").foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }
}
