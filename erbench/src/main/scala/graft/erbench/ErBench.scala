package graft.erbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.ckpt.Snapshots
import graft.eval.Eval
import graft.pipeline.EntityResolution
import graft.synth.{DocGen, GenConfig}
import org.apache.spark.erbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark program: runs one workload through the engine's public API in
  * one JVM at local[nproc] and writes the raw samples (setup times, spans
  * with their Spark costs, output checks, layer facts) as one JSON object.
  * `erbench/run.py` builds this program, launches it and turns the raw
  * samples into the reported metrics.
  *
  * Usage: ErBench --workload batch|churn --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE
  * DIR receives every generated input and run directory; the caller
  * deletes it.
  */
object ErBench {

  /** Setup is repeated this many times per run; the summary reports the
    * median.
    */
  val SetupReps = 3

  final case class Op(name: String, span: Int, ok: Boolean, error: String)
  final case class Check(name: String, value: Double, limit: String, ok: Boolean)

  /** Everything one workload run records. */
  final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                  val traced: Boolean, val work: String) {
    val tracer = new Tracer(spark.sparkContext, s"erbench-$seed")
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val setupS = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Op]
    val checks = ArrayBuffer.empty[Check]
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var inputBytes = 0L
    var runDirBytes = 0L

    /** One timed engine call. A throw is recorded as a failed operation
      * and rethrown: later operations depend on this one's output.
      */
    def op[A](name: String)(body: => A): A = {
      val before = tracer.all.size
      try {
        val r = tracer.span(name)(body)
        ops += Op(name, before, ok = true, "")
        r
      } catch {
        case NonFatal(e) =>
          ops += Op(name, before, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          throw e
      }
    }

    /** An untimed output check: `ok` false counts as a failed operation. */
    def check(name: String, value: Double, limit: String, ok: Boolean): Unit =
      checks += Check(name, value, limit, ok)

    def setup(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      setupS += (System.nanoTime() - t0) / 1e9
    }

    def path(name: String): String = s"$work/$name"
  }

  // ---------------------------------------------------------------- host

  /** Spark-independent CPU calibration: the same xorshift loop as
    * `graft.Bench.calibrate`, copied so the benchmark owns it. Milliseconds
    * for 5e7 steps, best of three after one warm-up.
    */
  def calibrateMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var s = 0L; var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
      if (s == 42L) System.err.print("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e6
    }
    once()
    math.min(once(), math.min(once(), once()))
  }

  def loadAvg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  // ------------------------------------------------------------- storage

  /** Every regular file under `dir` with its size. */
  def files(dir: String): Map[Path, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def dirBytes(dir: String): Long = files(dir).values.sum

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  // ------------------------------------------------------------- checks

  /** Same rows (as multisets) in both relations. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Pairwise F1 of the committed run at `dir` against the gold labels, at
    * shared blocking keys.
    */
  def f1Of(spark: SparkSession, dir: String, gold: DataFrame): Double = {
    val blocking = Snapshots.loadCommitted(spark, dir, "blocking").get
    val assign = Snapshots.loadCommitted(spark, dir, "cluster_assignments").get
    Eval.pairwiseF1(assign, EntityResolution.labeledPairs(blocking, gold)).f1
  }

  def checkF1(ctx: Ctx, dir: String, gold: DataFrame): Unit = {
    val f1 = f1Of(ctx.spark, dir, gold)
    ctx.check("f1", f1, ">= 0.99", f1 >= 0.99)
  }

  def genConfig(entities: Int, seed: Long): GenConfig =
    GenConfig(numEntities = entities, docsPerEntity = 3, seed = seed, numPartitions = 4)

  def writeDocs(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  // --------------------------------------------------------------- main

  def session(threads: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("erbench")
      // the engine's own session settings (graft.Main)
      .config("spark.sql.shuffle.partitions", threads * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep every scratch byte inside the work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toInt
    val traced = arg("--trace") == "1"
    val work = arg("--work")
    val out = arg("--out")
    require(Set("batch", "churn")(workload), s"unknown workload $workload")
    val threads = Runtime.getRuntime.availableProcessors()
    val calib = calibrateMs()
    val load = loadAvg1m()
    val spark = session(threads, work)
    var error = ""
    val ctx = new Ctx(spark, seed, seconds, traced, work)
    try {
      try {
        if (workload == "batch") BatchWorkload.run(ctx) else ChurnWorkload.run(ctx)
      } catch {
        case NonFatal(e) =>
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
      }
      BusDrain.drain(spark.sparkContext)
      val host = Seq("calib_ms" -> calib, "loadavg_1m" -> load,
        "nproc" -> threads.toDouble, "threads" -> threads.toDouble,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
        "heap_peak_mb" -> heapPeakMb())
      Files.writeString(Paths.get(out), Json.obj(Seq(
        "workload" -> Json.str(workload),
        "seed" -> Json.num(seed.toDouble),
        "seconds" -> Json.num(seconds.toDouble),
        "trace" -> Json.bool(traced),
        "threads" -> Json.num(threads.toDouble),
        "error" -> Json.str(error),
        "host" -> Json.obj(host.map { case (k, v) => k -> Json.num(v) }),
        "setup_s" -> Json.arr(ctx.setupS.map(Json.num).toSeq),
        "input_bytes" -> Json.num(ctx.inputBytes.toDouble),
        "run_dir_bytes" -> Json.num(ctx.runDirBytes.toDouble),
        "ops" -> Json.arr(ctx.ops.map(o => Json.obj(Seq(
          "name" -> Json.str(o.name), "span" -> Json.num(o.span.toDouble),
          "ok" -> Json.bool(o.ok), "error" -> Json.str(o.error)))).toSeq),
        "checks" -> Json.arr(ctx.checks.map(c => Json.obj(Seq(
          "name" -> Json.str(c.name), "value" -> Json.num(c.value),
          "limit" -> Json.str(c.limit), "ok" -> Json.bool(c.ok)))).toSeq),
        "facts" -> Json.obj(ctx.facts.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.arr(ctx.tracer.all.map { s =>
          val c = ctx.listener.costOf(s.id)
          Json.obj(Seq(
            "id" -> Json.num(s.id.toDouble), "name" -> Json.str(s.name),
            "parent" -> Json.num(s.parent.toDouble), "run_id" -> Json.str(s.runId),
            "start_s" -> Json.num(s.startNs / 1e9), "end_s" -> Json.num(s.endNs / 1e9),
            "jobs" -> Json.num(c.jobs.toDouble),
            "task_cpu_s" -> Json.num(c.taskCpuNs / 1e9),
            "shuffle_write_bytes" -> Json.num(c.shuffleWriteBytes.toDouble),
            "spill_bytes" -> Json.num(c.spillBytes.toDouble),
            "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })))
        }))) + "\n")
    } finally spark.stop()
  }
}

/** Minimal JSON text builder (the benchmark emits numbers, strings, booleans,
  * arrays and objects only).
  */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
