package graft.ckpt

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot/lineage layer over Parquet.
  *
  * No Iceberg runtime jar ships in /opt/spark/jars (offline resolution), so
  * this implements the snapshot semantics the north rule actually uses —
  * atomic commit, per-partition lineage rows + counters, resume from the
  * last committed snapshot — behind a small interface; an Iceberg catalog
  * drops in behind the same calls when available (SURVEY.md §7.4).
  *
  * Layout: <runDir>/<stage>/snapshot=<id>/data/      (parquet files)
  *         <runDir>/<stage>/snapshot=<id>/removes/   (delta snapshots only)
  *         <runDir>/<stage>/snapshot=<id>/lineage/   (parquet files)
  *         <runDir>/<stage>/snapshot=<id>/_manifest.json
  *         <runDir>/<stage>/snapshot=<id>/_COMMITTED (atomic marker)
  *         <runDir>/_commits/<v>.json                (run-level commit records)
  *
  * Like a Delta Lake log entry or an Iceberg metadata pointer, record v
  * names every stage's snapshot id; the "latest" readers resolve through
  * the latest record ([[lastCommitted]]). A verb writes its snapshots in a
  * [[Txn]] and publishes one record, so a crash before that leaves the run
  * as before the verb. Time travel ([[loadSnapshot]]) reads any id.
  *
  * Like an Iceberg table's snapshot metadata, the manifest records the
  * read schema of `data/` and `removes/`, so no read of a committed
  * snapshot pays a schema-inference job; manifests written before the
  * schema was recorded fall back to inference.
  *
  * Reference analogue of lineage counters: LongAccumulator side channels
  * printed at job end (APCompletion.scala:210-258) — upgraded to durable
  * per-partition rows committed WITH the data they describe.
  */
object Snapshots {

  /** Snapshot FORMAT version, recorded in every manifest and checked on
    * read: a resume/audit against a snapshot written by an incompatible
    * layout fails with an explicit error instead of a downstream schema
    * mismatch. History: v1 (unversioned, rounds 1–2) = lineage column
    * `partition_id`, ScoredPair without media_usable/vetoed; v2 (round 3+)
    * = lineage `read_partition_id`, 9-column ScoredPair; v3 (round 5+) =
    * DELTA snapshot (manifest carries `delta_base` + `remove_keys`; data/
    * holds only the added rows) — resolved on read against its base chain.
    * A reader accepts v2 (full) and v3 (delta) snapshots. The recorded
    * read schemas (`data_schema`, `removes_schema`) are an additive field
    * of both versions: a manifest without them reads by inference.
    */
  val FormatVersion = 2
  val DeltaFormatVersion = 3

  /** A just-committed snapshot: `path` is its `data/` dir, `schema` the
    * read schema recorded for it ([[read]] reads it back without a job). */
  final case class Committed(stage: String, snapshotId: Long, path: String, rows: Long,
                             schema: StructType)

  final class IncompatibleSnapshotException(msg: String) extends RuntimeException(msg)

  /** Thrown when another writer published the same snapshot id while this
    * commit was staging, or the next commit record first — two
    * uncoordinated writers share a run dir (e.g. a streaming ingester plus
    * a manual increment). Nothing the losing commit wrote becomes visible:
    * a lost stage publish deletes its staged attempt, a lost record leaves
    * its stage snapshots unnamed garbage for [[repair]]. Serialize writers
    * per run dir and retry.
    */
  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  private def stageDir(runDir: String, stage: String) = s"$runDir/$stage"

  private def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return
    val all = scala.util.Using.resource(Files.walk(p))(_.toArray.toSeq.map(_.toString))
    all.sorted.reverse.foreach(q => Files.deleteIfExists(Paths.get(q)))
  }

  /** Allocate a staging directory for a commit attempt, invisible to every
    * reader (readers only match `snapshot=` names; [[lineage]] skips
    * `_attempt_` paths). The commit point is [[publish]]'s atomic rename.
    */
  private def stageAttempt(stageD: String): String = {
    Files.createDirectories(Paths.get(stageD))
    s"$stageD/_attempt_${java.util.UUID.randomUUID().toString.take(12)}"
  }

  /** The stage commit point: atomically rename a fully-written attempt dir
    * (data + lineage + manifest + _COMMITTED already inside) to its
    * `snapshot=<id>` name. rename(2) fails if the target exists, so when two
    * writers race one id exactly one publishes; the loser's staged files are
    * deleted and it fails loud. Nothing is recovered here: [[nextId]] puts
    * every fresh id above every snapshot dir, crash garbage included.
    */
  private def publish(attempt: String, snapPath: String, runDir: String,
                      stage: String, snapId: Long): Unit =
    try Files.move(Paths.get(attempt), Paths.get(snapPath), StandardCopyOption.ATOMIC_MOVE)
    catch {
      // rename(2) onto an existing non-empty dir surfaces as EEXIST/ENOTEMPTY
      // (FileAlreadyExists/DirectoryNotEmpty/raw FileSystemException depending
      // on the JDK path); the target-exists guard keeps genuine IO errors
      // (EXDEV, EACCES, disk full) propagating untouched
      case e: java.nio.file.FileSystemException if Files.exists(Paths.get(snapPath)) =>
        deleteRecursively(attempt)
        throw new ConcurrentCommitException(
          s"$stage/snapshot=$snapId under $runDir was committed by another writer while " +
            s"this commit was staging (lost the publish race, ${e.getClass.getSimpleName}) — " +
            "two uncoordinated writers share this run dir; serialize commits per run dir")
    }

  /** DESTRUCTIVE: delete every staged-commit attempt dir of a stage. An
    * attempt is invisible to readers and garbage once its writer is gone —
    * also one that crashed after writing its `_COMMITTED` marker but before
    * the publish rename. Repair's domain: only call when no writer is live
    * on the run dir, since a live writer's staging dir is indistinguishable
    * from a stale one. Returns the deleted paths.
    */
  def cleanAttempts(runDir: String, stage: String): Seq[String] = {
    val attempts = names(stageDir(runDir, stage)).filter(_.startsWith("_attempt_"))
      .map(n => s"${stageDir(runDir, stage)}/$n")
    attempts.foreach(deleteRecursively)
    attempts
  }

  /** Entry names of directory `d` (none when absent). Files.list holds a dir
    * fd until closed — close it or a long-lived session leaks one per call.
    */
  private def names(d: String): Seq[String] =
    if (!Files.isDirectory(Paths.get(d))) Seq.empty
    else scala.util.Using.resource(Files.list(Paths.get(d)))(
      _.iterator.asScala.map(_.getFileName.toString).toList)

  private def isCommitted(runDir: String, stage: String, id: Long): Boolean =
    Files.exists(Paths.get(s"${stageDir(runDir, stage)}/snapshot=$id/_COMMITTED"))

  /** All COMMITTED snapshot ids of a stage, ascending — the time-ordered
    * snapshot log time travel reads (each commit is monotone, so id order =
    * commit order), whether a record names the snapshot or not.
    */
  def snapshots(runDir: String, stage: String): Seq[Long] =
    snapshotDirIds(runDir, stage).filter(isCommitted(runDir, stage, _))

  /** The snapshot id of a stage that readers see: the one this thread's
    * open [[Txn]] on `runDir` wrote, else the one its entry record (outside
    * a Txn, the latest record) names — if that snapshot is still on disk.
    */
  def lastCommitted(runDir: String, stage: String): Option[Long] = {
    val t = openTxn(runDir)
    t.flatMap(_.written.get(stage)).orElse(t.fold(record(runDir))(_.base).stages.get(stage))
      .filter(isCommitted(runDir, stage, _))
  }

  /** ALL snapshot directory ids of a stage, committed or NOT — partial
    * (crash-interrupted, marker-less) directories included. A new
    * snapshot's id goes above all of them.
    */
  def snapshotDirIds(runDir: String, stage: String): Seq[Long] =
    names(stageDir(runDir, stage)).filter(_.startsWith("snapshot="))
      .map(_.stripPrefix("snapshot=").toLong).sorted

  private def nextId(runDir: String, stage: String): Long =
    snapshotDirIds(runDir, stage).lastOption.fold(0L)(_ + 1L)

  /** A published commit, `<runDir>/_commits/<version>.json`: its verb and
    * run id, every stage's snapshot id, and the stages it wrote.
    */
  final case class Record(version: Long, runId: String, verb: String,
                          stages: Map[String, Long], written: Set[String])

  private def commitsDir(runDir: String) = s"$runDir/_commits"

  private def recordVersions(runDir: String): Seq[Long] =
    names(commitsDir(runDir)).filter(_.matches("""\d+\.json"""))
      .map(_.stripSuffix(".json").toLong).sorted

  private def readRecord(runDir: String, version: Long): Record = {
    val n = Json.readTree(Files.readString(Paths.get(commitsDir(runDir), s"$version.json")))
    Record(version, n.get("run_id").asText, n.get("verb").asText,
      n.get("stages").properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap,
      n.get("written").asScala.map(_.asText).toSet)
  }

  /** Record 0, a run dir with no published record (written before records
    * existed): each lockstep stage at the highest id all of them reached,
    * every other stage at its latest id; the last lockstep stage's run id.
    */
  private def record0(runDir: String): Record = {
    val lockstep = graft.pipeline.EntityResolution.LockstepStages
    val latest = names(runDir).filterNot(_.startsWith("_"))
      .flatMap(s => snapshots(runDir, s).lastOption.map(s -> _)).toMap
    val floor = latest.filter(e => lockstep.contains(e._1)).values.minOption.getOrElse(-1L)
    val stages = latest.flatMap { case (s, id) =>
      if (!lockstep.contains(s)) Some(s -> id)
      else snapshots(runDir, s).filter(_ <= floor).lastOption.map(s -> _)
    }
    Record(0L, stages.get(lockstep.last).flatMap(manifest(runDir, lockstep.last, _))
      .flatMap(_.runId).getOrElse(""), "", stages, Set.empty)
  }

  /** The latest record (or record 0): one listing and one parse. */
  def record(runDir: String): Record =
    recordVersions(runDir).lastOption.fold(record0(runDir))(readRecord(runDir, _))

  /** The records after version `w`; None if one is gone or `w` is ahead. */
  def recordsSince(runDir: String, w: Long): Option[Seq[Record]] = {
    val versions = recordVersions(runDir)
    val latest = versions.lastOption.getOrElse(0L)
    val later = versions.filter(_ > w)
    Option.when(w <= latest && later == (w + 1L to latest))(later.map(readRecord(runDir, _)))
  }

  /** Create record `rec.version` exclusively: a temp file link(2)ed into
    * place is never seen partial, and a taken version fails loud — the CAS
    * seam the concurrency test drives (package-private).
    */
  private[ckpt] def publishAt(runDir: String, rec: Record): Unit = {
    val tmp = Paths.get(commitsDir(runDir), s"_tmp_${java.util.UUID.randomUUID()}")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, Json.writeValueAsString(Map[String, Any]("version" -> rec.version,
      "run_id" -> rec.runId, "verb" -> rec.verb, "stages" -> rec.stages.asJava,
      "written" -> rec.written.toSeq.sorted.asJava).asJava))
    try Files.createLink(tmp.resolveSibling(s"${rec.version}.json"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => throw new ConcurrentCommitException(
        s"${rec.verb} ${rec.runId} lost commit record ${rec.version} under $runDir to another writer")
    } finally Files.deleteIfExists(tmp)
  }

  /** One verb's open transaction on a run dir: the record it read at entry
    * and the stage snapshots it wrote since (seen by this thread's reads).
    */
  final class Txn private[Snapshots] (val runDir: String, runId: String, verb: String,
                                      val base: Record) {
    private[Snapshots] val written = scala.collection.mutable.Map.empty[String, Long]
    private var published = false

    /** The verb's one commit point: record base + 1, the other stages
      * carried forward (none written: none published); the current version.
      */
    def publish(): Long = {
      val v = base.version + (if (written.isEmpty) 0L else 1L)
      if (!published && written.nonEmpty)
        publishAt(runDir, Record(v, runId, verb, base.stages ++ written, written.keySet.toSet))
      published = true
      v
    }

    /** End the transaction; what it wrote but never published stays
      * invisible garbage for [[repair]].
      */
    def close(): Unit = open.remove()
  }

  private val open = new ThreadLocal[Txn]
  private def openTxn(runDir: String): Option[Txn] = Option(open.get).filter(_.runDir == runDir)

  /** Open `verb`'s transaction on `runDir`: one per thread, no nesting. */
  def begin(runDir: String, runId: String, verb: String): Txn = {
    require(open.get == null, s"$verb: a transaction is already open on this thread")
    open.set(new Txn(runDir, runId, verb, record(runDir)))
    open.get
  }

  /** Run `body` as one commit, or inside this thread's open one. */
  def atomically[T](runDir: String, runId: String, verb: String)(body: => T): T =
    if (openTxn(runDir).isDefined) body
    else {
      val t = begin(runDir, runId, verb)
      try { val r = body; t.publish(); r } finally t.close()
    }

  /** Atomically commit `df` as the next snapshot of `stage`: stage data +
    * per-partition lineage rows + manifest + _COMMITTED marker into a
    * private `_attempt_` directory (invisible to every reader), then
    * atomically rename it to `snapshot=<id>` (above every snapshot dir),
    * published by this thread's open [[Txn]] or else by a record of its
    * own. A crash at any earlier point leaves only invisible
    * garbage, so resume recomputes the stage; a CONCURRENT writer
    * publishing the same id first makes this commit fail loud with
    * [[ConcurrentCommitException]] instead of both writers interleaving
    * files in one shared directory.
    * Returns the committed handle; the DataFrame read back is the
    * canonical stage output (also truncates upstream lineage — doubles
    * as the reference's cache() of reused RDDs, FormatSmartCardData:48).
    */
  def commit(spark: SparkSession, df: DataFrame, runDir: String, stage: String,
             runId: String, counters: Map[String, Long]): Committed =
    atomically(runDir, runId, "commit")(
      commitAt(spark, df, runDir, stage, runId, counters, nextId(runDir, stage)))

  /** [[commit]]'s stage write at a caller-chosen snapshot id (no record) —
    * the CAS seam the concurrency test drives (package-private).
    */
  private[ckpt] def commitAt(spark: SparkSession, df: DataFrame, runDir: String, stage: String,
                             runId: String, counters: Map[String, Long],
                             snapId: Long): Committed =
    stageAndPublish(spark, df, None, runDir, stage, runId, counters, snapId, delta = None)

  /** Atomically commit a DELTA snapshot: `adds` rows plus an optional
    * keyed-remove relation against the PREVIOUS committed snapshot —
    * resolved on read as `base.antiJoin(removes, removeKeys) ∪ adds`. The
    * write is O(|adds| + |removes|) regardless of the base size — the
    * merge-on-read half of the incremental contract (the batch run is the
    * compaction that re-materializes a full snapshot). `resolvedRows` is
    * the caller-maintained logical row count of the RESOLVED relation
    * (recorded in the manifest like a full snapshot's count; callers of
    * the incremental path already maintain it by exact merge arithmetic).
    *
    * Read cost: one (typically broadcast) anti-join + union per delta in
    * the chain since the last full snapshot — keep chains short by
    * compacting (a full [[commit]]) every O(10) increments.
    */
  def commitDelta(spark: SparkSession, adds: DataFrame,
                  removes: Option[(DataFrame, Seq[String])],
                  runDir: String, stage: String, runId: String,
                  counters: Map[String, Long], resolvedRows: Long): Committed =
    atomically(runDir, runId, "commit") {
      val baseId = lastCommitted(runDir, stage).getOrElse(
        sys.error(s"commitDelta: no committed base snapshot for $stage under $runDir"))
      // the record CAS guards the base: a writer that published since this
      // transaction read its record makes OUR (stale-base) delta lose loud
      stageAndPublish(spark, adds, removes, runDir, stage, runId, counters,
        nextId(runDir, stage), delta = Some((baseId, resolvedRows)))
    }

  /** The one commit path: write `data` (plus a delta's deduplicated keyed
    * `removes`), the lineage rows, the manifest and the `_COMMITTED` marker
    * into a private attempt dir, then [[publish]] it as `snapshot=<snapId>`.
    * `delta` = (base id, resolved rows) for a delta snapshot; a full
    * snapshot's row count is the sum of its lineage counts.
    *
    * Jobs per commit: the data write (plus the removes write of a delta),
    * the lineage count and the lineage write. The read schemas go into the
    * manifest straight from the written relations' schemas, so neither the
    * lineage count nor any later read infers them.
    */
  private def stageAndPublish(spark: SparkSession, data: DataFrame,
                              removes: Option[(DataFrame, Seq[String])],
                              runDir: String, stage: String, runId: String,
                              counters: Map[String, Long], snapId: Long,
                              delta: Option[(Long, Long)]): Committed = {
    val snapPath = s"${stageDir(runDir, stage)}/snapshot=$snapId"
    val attempt = stageAttempt(stageDir(runDir, stage))
    val dataPath = s"$attempt/data"
    val dataSchema = readSchema(data.schema)
    data.write.mode(SaveMode.Overwrite).parquet(dataPath)
    val removesSchema = removes.map { case (rm, keys) =>
      val keyed = rm.selectExpr(keys: _*).dropDuplicates(keys)
      keyed.write.mode(SaveMode.Overwrite).parquet(s"$attempt/removes")
      readSchema(keyed.schema)
    }

    // lineage describes what THIS commit wrote (a delta's adds). The
    // partition ids are the POST-READ partitioning of the committed files
    // (hence `read_partition_id`), not the writer tasks — what a resumed
    // consumer of the snapshot will actually see.
    val parts = readPartitionCounts(spark, dataPath, dataSchema)
    import spark.implicits._
    val sortedCounters = counters.toSeq.sortBy(_._1)
    parts.toSeq.toDF("read_partition_id", "rows_out")
      .withColumn("run_id", lit(runId))
      .withColumn("stage", lit(stage))
      .withColumn("snapshot_id", lit(snapId))
      .withColumn("counters",
        map(sortedCounters.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))
      .withColumn("committed_at", current_timestamp())
      // local-relation write: no cluster job re-scans the data for lineage
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$attempt/lineage")

    val rows = delta.fold(parts.map(_._2).sum)(_._2)
    val m = Json.createObjectNode()
      .put("format_version", if (delta.isDefined) DeltaFormatVersion else FormatVersion)
      .put("run_id", runId).put("stage", stage).put("snapshot_id", snapId).put("rows", rows)
    delta.foreach { case (baseId, _) =>
      m.put("delta_base", baseId)
      val keys = m.putArray("remove_keys")
      removes.toSeq.flatMap(_._2).foreach(k => keys.add(k))
    }
    val c = m.putObject("counters")
    sortedCounters.foreach { case (k, v) => c.put(k, v) }
    m.set[JsonNode]("data_schema", Json.readTree(dataSchema.json))
    removesSchema.foreach(s => m.set[JsonNode]("removes_schema", Json.readTree(s.json)))
    Files.writeString(Paths.get(s"$attempt/_manifest.json"), Json.writeValueAsString(m))
    // marker rides INSIDE the attempt: the publish rename makes the
    // directory appear fully committed in one atomic step
    Files.writeString(Paths.get(s"$attempt/_COMMITTED"), "ok")
    publish(attempt, snapPath, runDir, stage, snapId)
    openTxn(runDir).foreach(_.written(stage) = snapId)
    Committed(stage, snapId, s"$snapPath/data", rows, dataSchema)
  }

  /** Rows per READ partition of a committed data dir, empty partitions
    * skipped: one shuffle-free job (each scan task counts its rows) over
    * the schema-known scan of no columns. The (partition, rows) pairs
    * equal what a `groupBy(spark_partition_id())` over the re-read gives,
    * without that plan's inference job and exchange.
    */
  private def readPartitionCounts(spark: SparkSession, path: String,
                                  schema: StructType): Seq[(Int, Long)] =
    readParquet(spark, path, Some(schema)).select().queryExecution.toRdd
      .mapPartitionsWithIndex { (i, it) =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        if (n == 0L) Iterator.empty else Iterator.single(i -> n)
      }
      .collect().toSeq

  /** The schema a parquet read of data written from `schema` reports:
    * file sources read every field, element and map value as nullable.
    */
  private def readSchema(schema: StructType): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    nullable(schema).asInstanceOf[StructType]
  }

  /** The one reader of committed parquet: with a recorded schema the scan
    * starts no job until an action; without one Spark infers it (one job).
    */
  private def readParquet(spark: SparkSession, path: String,
                          schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)

  /** Read back the data of a snapshot this process just committed. */
  def read(spark: SparkSession, committed: Committed): DataFrame =
    readParquet(spark, committed.path, Some(committed.schema))

  /** One part (`data` or `removes`) of a committed snapshot, read with the
    * schema its manifest records (inferred for manifests without one).
    */
  private[ckpt] def readPart(spark: SparkSession, runDir: String, stage: String, id: Long,
                             part: String): DataFrame =
    readParquet(spark, s"${stageDir(runDir, stage)}/snapshot=$id/$part",
      manifest(runDir, stage, id).flatMap(_.schema(part)))

  private val Json = new ObjectMapper()

  /** The fields of a committed snapshot's `_manifest.json`. */
  private final class Manifest(node: JsonNode) {
    private def get(k: String): Option[JsonNode] = Option(node.get(k))
    /** absent field reads as v1 (pre-versioning layouts) */
    def formatVersion: Int = get("format_version").fold(1)(_.asInt)
    def runId: Option[String] = get("run_id").map(_.asText)
    def rows: Option[Long] = get("rows").map(_.asLong)
    def counters: Map[String, Long] = get("counters").fold(Map.empty[String, Long])(
      _.properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
    /** (base snapshot id, remove-key columns); None for a full snapshot */
    def delta: Option[(Long, Seq[String])] = get("delta_base").map(b =>
      (b.asLong, get("remove_keys").fold(Seq.empty[String])(_.asScala.map(_.asText).toSeq)))
    /** recorded read schema of `part` (`data` or `removes`) */
    def schema(part: String): Option[StructType] = get(s"${part}_schema")
      .map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])
  }

  /** A snapshot's parsed manifest; None when absent (pre-manifest layouts). */
  private def manifest(runDir: String, stage: String, id: Long): Option[Manifest] = {
    val m = Paths.get(s"${stageDir(runDir, stage)}/snapshot=$id/_manifest.json")
    if (Files.exists(m)) Some(new Manifest(Json.readTree(Files.readString(m)))) else None
  }

  /** Counters recorded in a committed snapshot's manifest (the durable
    * side-channel a later increment reads back — e.g. media_df's `n_docs`,
    * the corpus size behind the committed idf weights). Empty map when the
    * manifest is absent.
    */
  def counters(runDir: String, stage: String, snapshotId: Long): Map[String, Long] =
    manifest(runDir, stage, snapshotId).fold(Map.empty[String, Long])(_.counters)

  /** Counters of the LATEST committed snapshot of a stage. */
  def lastCounters(runDir: String, stage: String): Map[String, Long] =
    lastCommitted(runDir, stage).map(counters(runDir, stage, _)).getOrElse(Map.empty)

  /** Logical (resolved) row count recorded in a committed snapshot's
    * manifest — for a delta snapshot this is the caller-maintained count of
    * the RESOLVED relation, so increments can maintain the next count
    * without an O(committed) recount.
    */
  def committedRows(runDir: String, stage: String, snapshotId: Long): Option[Long] =
    manifest(runDir, stage, snapshotId).flatMap(_.rows)

  /** Row count of the LATEST committed snapshot of a stage. */
  def lastRows(runDir: String, stage: String): Option[Long] =
    lastCommitted(runDir, stage).flatMap(committedRows(runDir, stage, _))

  /** Number of DELTA hops from the latest committed snapshot down to its
    * full base (0 = latest is a full snapshot; also 0 when the stage has
    * no snapshot). The merge-on-read cost a reader currently pays — the
    * number compaction cadence decisions key on.
    */
  def chainDepth(runDir: String, stage: String): Int = {
    @annotation.tailrec
    def walk(id: Long, depth: Int): Int = deltaMeta(runDir, stage, id) match {
      case Some((baseId, _)) => walk(baseId, depth + 1)
      case None => depth
    }
    lastCommitted(runDir, stage).map(walk(_, 0)).getOrElse(0)
  }

  /** DESTRUCTIVE: remove one snapshot directory (committed or partial) —
    * garbage no record names, or a snapshot [[expire]] retires. Refuses to
    * drop a snapshot that a LATER delta snapshot uses as its base (that
    * would orphan the chain).
    */
  private def dropSnapshot(runDir: String, stage: String, snapshotId: Long): Unit = {
    val dependents = snapshots(runDir, stage).filter(_ > snapshotId)
      .filter(deltaMeta(runDir, stage, _).exists(_._1 == snapshotId))
    require(dependents.isEmpty,
      s"dropSnapshot: $stage/snapshot=$snapshotId is the delta base of " +
        s"snapshot(s) ${dependents.mkString(",")} — drop those first")
    val dir = Paths.get(s"${stageDir(runDir, stage)}/snapshot=$snapshotId")
    if (!Files.isDirectory(dir)) return
    // delete the commit marker FIRST so a crash mid-delete leaves an
    // uncommitted (invisible) partial, never a half-deleted committed one
    Files.deleteIfExists(dir.resolve("_COMMITTED"))
    deleteRecursively(dir.toString)
  }

  /** The delta bases snapshot `id` resolves through, transitively. */
  private def baseChain(runDir: String, stage: String, id: Long): Set[Long] =
    deltaMeta(runDir, stage, id) match {
      case Some((b, _)) => baseChain(runDir, stage, b) + b
      case None => Set.empty
    }

  /** DESTRUCTIVE: retire old snapshots of a stage — keep the newest
    * `keepLast` committed ids and the latest record's (plus, transitively,
    * any base a RETAINED delta resolves against: expiration never breaks a
    * live chain — compact first to free a chain's base) and delete the
    * rest, and the records naming them. This is the
    * PHYSICAL-deletion half of retraction: `removeDocuments`
    * retracts rows from the latest snapshot logically, but pre-removal
    * snapshot ids keep them readable (and on disk) until expired here.
    * Returns the dropped ids. Uncommitted partial directories are repair's
    * domain, not expiration's — untouched.
    */
  def expire(runDir: String, stage: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"expire: keepLast must be >= 1 (got $keepLast)")
    val ids = snapshots(runDir, stage)
    val kept0 = ids.takeRight(keepLast).toSet ++ lastCommitted(runDir, stage)
    val kept = kept0 ++ kept0.flatMap(baseChain(runDir, stage, _))
    val dropped = ids.filterNot(kept)
    // records first, so no record is ever left naming a deleted snapshot
    recordVersions(runDir).map(readRecord(runDir, _))
      .filter(_.stages.get(stage).exists(dropped.contains))
      .foreach(r => Files.delete(Paths.get(commitsDir(runDir), s"${r.version}.json")))
    // newest-first: any delta depending on an expired base is itself
    // expired (a kept delta keeps its chain), so descending order always
    // satisfies dropSnapshot's dependent guard
    dropped.sorted.reverse.foreach(dropSnapshot(runDir, stage, _))
    dropped
  }

  /** DESTRUCTIVE sweep: every stage's staging attempts, then each snapshot
    * dir above the oldest id any record names that no record names nor a
    * named delta resolves through. Opt-in, never automatic: a live writer's
    * unpublished snapshots look like a crashed one's. The deleted paths.
    */
  def repair(runDir: String): Seq[String] = {
    val published = recordVersions(runDir).map(readRecord(runDir, _))
    val recs = if (published.isEmpty) Seq(record0(runDir)) else published
    recs.flatMap(_.stages.keys).distinct.flatMap { s =>
      val attempts = cleanAttempts(runDir, s)
      val named = recs.flatMap(_.stages.get(s)).toSet
      val keep = named ++ named.flatMap(baseChain(runDir, s, _))
      val garbage = snapshotDirIds(runDir, s).filter(id => id > named.min && !keep(id))
      garbage.reverse.foreach(dropSnapshot(runDir, s, _))
      attempts ++ garbage.map(id => s"${stageDir(runDir, s)}/snapshot=$id")
    }
  }

  /** Fails loud on a manifest format this build cannot read (an absent
    * manifest — pre-manifest layouts — reads as v1).
    */
  private def checkVersion(runDir: String, stage: String, id: Long,
                           m: Option[Manifest]): Unit = {
    val v = m.fold(1)(_.formatVersion)
    if (v != FormatVersion && v != DeltaFormatVersion) throw new IncompatibleSnapshotException(
      s"snapshot $stage/snapshot=$id in $runDir has format_version $v, this build reads " +
        s"$FormatVersion/$DeltaFormatVersion — re-run the producing stage (resume from an " +
        "older build's snapshots would fail on schema mismatch downstream; failing loud here)")
  }

  /** Whether a committed snapshot is a DELTA (resolves against a base). */
  def isDelta(runDir: String, stage: String, snapshotId: Long): Boolean =
    deltaMeta(runDir, stage, snapshotId).isDefined

  /** The raw ADDS relation of one committed snapshot — a delta's appended
    * rows, or a full snapshot's entire data — with NO base resolution. For
    * consumers that scan the commit log itself (e.g. the incremental
    * audit's touched-cluster derivation reads each unaudited delta's adds
    * instead of resolving the whole chain).
    */
  def snapshotAdds(spark: SparkSession, runDir: String, stage: String,
                   snapshotId: Long): DataFrame =
    readPart(spark, runDir, stage, snapshotId, "data")

  /** Delta metadata of a committed snapshot: (base snapshot id, remove-key
    * columns), or None for a full snapshot.
    */
  private def deltaMeta(runDir: String, stage: String, id: Long): Option[(Long, Seq[String])] =
    manifest(runDir, stage, id).flatMap(_.delta)

  /** Resolve a snapshot to its logical relation: full snapshots read their
    * data dir directly; delta snapshots recursively resolve their base,
    * apply the keyed remove (anti-join — the remove relation is small and
    * Spark broadcasts it by file-size estimate), and union the adds. Every
    * snapshot in the chain is version-checked, and every dir is read with
    * its recorded schema, so building the relation starts no job.
    */
  private def resolve(spark: SparkSession, runDir: String, stage: String, id: Long): DataFrame = {
    val m = manifest(runDir, stage, id)
    checkVersion(runDir, stage, id, m)
    val adds = readPart(spark, runDir, stage, id, "data")
    m.flatMap(_.delta) match {
      case None => adds
      case Some((baseId, keys)) =>
        val base = resolve(spark, runDir, stage, baseId)
        val rmPath = Paths.get(s"${stageDir(runDir, stage)}/snapshot=$id/removes")
        val kept =
          if (Files.isDirectory(rmPath) && keys.nonEmpty)
            // a USING-column anti-join moves the key columns to the front
            // of the output schema — restore the base's column order so a
            // resolved delta is schema-identical to its base snapshot
            // (positional consumers like exceptAll depend on it)
            base.join(readPart(spark, runDir, stage, id, "removes"), keys, "left_anti")
              .select(base.columns.map(col).toIndexedSeq: _*)
          else base
        kept.unionByName(adds)
    }
  }

  /** Read the snapshot of a stage that readers see ([[lastCommitted]]). */
  def loadCommitted(spark: SparkSession, runDir: String, stage: String): Option[DataFrame] =
    lastCommitted(runDir, stage).map { id => loadSnapshot(spark, runDir, stage, id) }

  /** TIME-TRAVEL read: a SPECIFIC committed snapshot of a stage by id —
    * older snapshots stay readable (and byte-stable) after newer commits,
    * since a commit only ever adds a new snapshot=<id+1> directory. Delta
    * snapshots resolve against their base chain transparently. Throws if
    * the id was never committed or has an incompatible format.
    */
  def loadSnapshot(spark: SparkSession, runDir: String, stage: String, snapshotId: Long): DataFrame = {
    require(snapshots(runDir, stage).contains(snapshotId),
      s"no committed snapshot $stage/snapshot=$snapshotId under $runDir " +
        s"(committed: ${snapshots(runDir, stage).mkString(",")})")
    resolve(spark, runDir, stage, snapshotId)
  }

  /** MAJOR-compact a stage's delta chain: materialize the RESOLVED latest
    * relation as a full snapshot (next id), carrying the latest counters
    * forward. Subsequent reads stop paying the merge-on-read chain and
    * subsequent deltas rebase onto the compacted snapshot; time-travel to
    * pre-compaction ids is unaffected (compaction only appends). No-op
    * shape for an already-full latest snapshot (it just rewrites it) — the
    * caller decides cadence (every O(10) increments keeps chains short).
    */
  def compact(spark: SparkSession, runDir: String, stage: String, runId: String): Committed = {
    val id = lastCommitted(runDir, stage).getOrElse(
      sys.error(s"compact: no committed snapshot for $stage under $runDir"))
    // `compacted_from` marks this full snapshot as STORAGE-level (relation
    // bit-identical to snapshot `id`): log-scanning consumers — the
    // incremental audit's touched-cluster derivation — skip it instead of
    // treating an unmarked full snapshot as "everything may have changed"
    commit(spark, resolve(spark, runDir, stage, id), runDir, stage, runId,
      counters(runDir, stage, id) + ("compacted_from" -> id))
  }

  /** All lineage rows of a run directory (time-ordered snapshot log). */
  def lineage(spark: SparkSession, runDir: String): Option[DataFrame] = {
    val d = Paths.get(runDir)
    if (!Files.isDirectory(d)) return None
    val paths = scala.util.Using.resource(Files.walk(d))(_.toArray.toSeq.map(_.toString))
      .filter(p => p.endsWith("/lineage") && !p.contains("/_attempt_"))
    if (paths.isEmpty) None
    else Some(spark.read.parquet(paths: _*))
  }
}
