package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The transformation registry — typed replacement for the reference's
  * "algorithm" impressions (`/root/reference/Yuki/kernel/image_job.py:15-21`,
  * lookup `/root/reference/Yuki/kernel/container_job.py:44-61`): a step's
  * `transform` name resolves to a Scala function instead of a container
  * image; inputs arrive as named DataFrames instead of symlinked dirs.
  */
final class TransformRegistry {
  type Transform = (SparkSession, Map[String, DataFrame], ParamMap) => DataFrame
  private val transforms = mutable.Map[String, Transform]()

  def register(name: String)(fn: Transform): this.type = {
    transforms(name) = fn; this
  }
  def resolve(name: String): Transform =
    transforms.getOrElse(name, sys.error(s"unknown transform '$name'"))
  def names: Set[String] = transforms.keySet.toSet
}

/** One step's run record — the engine's `status.json`
  * (`/root/reference/Yuki/kernel/VJob.py:127-156`): status plus
  * started/finished/duration, maintained by the runner. */
final case class StepRun(
    status: StepStatus,
    startedAt: Option[Long] = None,
    finishedAt: Option[Long] = None) {
  def durationMs: Option[Long] =
    for (s <- startedAt; f <- finishedAt) yield f - s
}

/** Manifest entry returned by collect (the reference downloads stageout
  * files, `/root/reference/Yuki/kernel/reana_workflow.py:259-313`; here
  * outputs already live in the warehouse, so collect returns paths +
  * schema + row counts). */
final case class StepArtifact(id: String, impression: String, path: String,
    schemaDDL: String, rows: Long)

/** A registered external data source (A1–A3): the engine's analogue of the
  * reference's upload-created impression (`Yuki/server/routes/upload.py:
  * 16-36`) — except registration is METADATA-ONLY (schema + a file-listing
  * fingerprint), because copying 100 TB into a warehouse is the wrong
  * primitive; Spark reads the data where it lives. */
final case class SourceRef(
    name: String,
    impression: String,
    path: String,
    format: String,
    schemaDDL: String,
    options: Map[String, String] = Map.empty)

/** Pipeline runner — Yuki's workflow semantics on one SparkSession.
  *
  * Executes a [[PipelineSpec]] in topological order with content-addressed
  * step caching: each step's "impression id" is the hash of its transform
  * name, parameters, and its inputs' impression ids, so any upstream change
  * reruns exactly the affected suffix of the DAG — the same
  * materialization-reuse rule as the reference (terminal-status deps become
  * inputs, `/root/reference/Yuki/kernel/VWorkflow.py:429-437`; only
  * raw/failed admitted, `/root/reference/Yuki/server/routes/execution.py:42-44`).
  *
  * Scale posture: the runner touches only metadata on the driver; all data
  * movement is `spark.read.parquet` → transform → `df.write.parquet`, so a
  * 100 TB step shuffles on the cluster exactly as its operators dictate and
  * the cache check is one filesystem stat per step. What a step boundary
  * needs to know of an output (its schema and row count) is read from the
  * parquet footers on the driver, so it starts no Spark job.
  */
final class Runner(
    spark: SparkSession,
    registry: TransformRegistry,
    warehouse: String) {

  /** The session this runner executes on (e.g. for listener installation). */
  def session: SparkSession = spark

  /** Registered transform names — the engine's operator vocabulary, the
    * typed analogue of listing which algorithm impressions exist. */
  def transformNames: Set[String] = registry.names

  // registered sources are first-class transforms: a spec step
  // `{"transform": "ingested", "params": {"name": "mydata"}}` reads the
  // registered external dataset (pin `"rev": <source impression>` in params
  // to content-address the step to a specific ingest revision)
  registry.register("ingested") { (_, _, p) => sourceDf(p("name")) }

  // TrieMap: HttpApi drives execute() from a Future pool while /status
  // handlers read concurrently — plain mutable.Map would corrupt.
  private val runs = scala.collection.concurrent.TrieMap[String, StepRun]()
  // Impression-keyed state and locks are PROCESS-GLOBAL, scoped by
  // normalized warehouse path (Runner.impKey): the HTTP facade builds one
  // Runner per session profile over the SAME warehouse, and per-instance
  // maps would let two Runners both win admission for one impression and
  // race delete-vs-write on its output dir.
  private val whKey = Paths.get(warehouse).toAbsolutePath.normalize.toString
  private def impRunsGet(imp: String): Option[StepRun] =
    Runner.impRuns.get(s"$whKey#$imp")
  private def impRunsPut(imp: String, r: StepRun): Unit =
    Runner.impRuns.put(s"$whKey#$imp", r)

  // Durable status — the engine's status.json (`VJob.py:127-156`). Keyed by
  // IMPRESSION id (content-addressed, like the reference's per-impression
  // status file): a restarted runner sees prior terminal states for the
  // same content and its submit filter honors them, while an edited step
  // hashes to a fresh impression and starts `raw`. In-memory `runs` (by
  // step id) is this session's view for status()/manifest().
  private val statusDir = Paths.get(warehouse, "_status")
  private val plansDir = Paths.get(warehouse, "_plans")

  /** The persisted physical plan of a materialized step (A12's Snakefile
    * analogue), if the step ran in a session that dumped one. */
  def plan(spec: PipelineSpec, id: String): Option[String] = {
    val p = plansDir.resolve(s"${impressionId(spec, id)}.txt")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Writes a sibling file, then renames it over the record: a concurrent
    * reader sees the previous record or this one, never a cut-off one. The
    * sibling's name is unique per process and thread, so two writers of
    * one impression never share it. */
  private[pipeline] def persistStatus(imp: String, r: StepRun): Unit = {
    Files.createDirectories(statusDir)
    val fields = Seq(s""""status": "${r.status.name}"""") ++
      r.startedAt.map(t => s""""started_at": $t""") ++
      r.finishedAt.map(t => s""""finished_at": $t""") ++
      r.durationMs.map(d => s""""duration_ms": $d""")
    val tmp = statusDir.resolve(
      s".$imp.${ProcessHandle.current().pid()}.${Thread.currentThread().getId}.tmp")
    Files.write(tmp, fields.mkString("{", ", ", "}").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, statusDir.resolve(s"$imp.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def persistedStatus(imp: String): Option[StepRun] = {
    val p = statusDir.resolve(s"$imp.json")
    if (!Files.exists(p)) None
    else {
      val body = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      def field(k: String): Option[String] =
        (s""""$k"\\s*:\\s*"?([^",}]+)"?""").r.findFirstMatchIn(body).map(_.group(1))
      field("status").map(st => StepRun(StepStatus.parse(st),
        field("started_at").map(_.toLong), field("finished_at").map(_.toLong)))
    }
  }

  /** This session's view by step id (kept for direct library use). */
  def status(id: String): StepStatus =
    runs.getOrElse(id, StepRun(StepStatus.Raw)).status
  def run(id: String): StepRun = runs.getOrElse(id, StepRun(StepStatus.Raw))

  /** Per-content status for a step of a specific spec — collision-free
    * across runs that reuse step names (the reference keys status by
    * impression too). Falls back to the persisted record, then raw. */
  def statusOf(spec: PipelineSpec, id: String): StepStatus =
    runOf(spec, id).status

  /** Per-content run record (status + timings) for a step of a spec —
    * collision-free across runs that reuse step names. */
  def runOf(spec: PipelineSpec, id: String): StepRun = {
    val imp = impressionId(spec, id)
    statusByImpression(imp).getOrElse(StepRun(StepStatus.Raw))
  }

  /** Status record by RAW impression id — the reference's
    * impression-centric view (`status.py:22-138` keys by impression, not
    * run): live state first, then the durable record. */
  def statusByImpression(imp: String): Option[StepRun] =
    impRunsGet(imp).orElse(persistedStatus(imp))

  /** Transition gated on the IMPRESSION's state — the step-id map is only a
    * display view. Gating on step id would let two concurrent runs whose
    * specs share a step name block each other's admission. */
  private def setStatus(id: String, imp: String, to: StepStatus): Unit = {
    val cur = impRunsGet(imp).orElse(persistedStatus(imp))
      .getOrElse(StepRun(StepStatus.Raw))
    val next = StepStatus.transition(cur.status, to)
    if (next eq to) {
      val now = System.currentTimeMillis()
      val updated = to match {
        case StepStatus.Running => cur.copy(status = to, startedAt = Some(now), finishedAt = None)
        case StepStatus.Finished | StepStatus.Failed =>
          cur.copy(status = to, finishedAt = Some(now))
        case StepStatus.Raw => StepRun(StepStatus.Raw)
        case _ => cur.copy(status = to)
      }
      runs(id) = updated
      impRunsPut(imp, updated)
      persistStatus(imp, updated)
    } else {
      // sticky-terminal blocked the transition: still surface the current
      // state in both views (a restarted runner's cache-hit would otherwise
      // display raw for a finished step)
      runs(id) = cur
      impRunsPut(imp, cur)
    }
  }

  /** Content-addressed step id — delegates to the spec's memoized map
    * (linear in DAG size; see [[PipelineSpec.impressionIds]]). */
  def impressionId(spec: PipelineSpec, id: String): String =
    spec.impressionIds.getOrElse(id, sys.error(s"unknown step $id"))

  private def outDir(imp: String): Path = Paths.get(warehouse, imp)
  private def isMaterialized(imp: String): Boolean =
    Files.exists(outDir(imp).resolve("_SUCCESS"))
  private def readOutput(imp: String): DataFrame = Runner.readOutput(spark, outDir(imp))

  // Per-impression striped lock: serializes the decide-and-run critical
  // section so a concurrent execute() whose spec shares an impression WAITS
  // for the in-flight computation instead of skipping it and then failing
  // to read the not-yet-materialized output downstream. Driver-side only —
  // the lock is held by one driver thread while Spark runs the job; no
  // executor ever blocks on it. Process-global + warehouse-scoped, like
  // the status map, so Runners on different sessions still serialize.
  private def stepLock(imp: String): Object =
    Runner.stepLocks.getOrElseUpdate(s"$whKey#$imp", new Object)

  // ---- cross-JVM admission lease --------------------------------------
  // The in-memory CAS below is process-global, so two RUNNERS in one JVM
  // can't double-admit — but two JVMs sharing a warehouse (`Cli run`
  // concurrent with `Cli serve`) each saw the other's persisted
  // non-terminal status as a crash leftover, demoted it to raw, and both
  // could win admission and race delete-vs-write on one output dir. The
  // lease is a pid-stamped lock file created atomically (CREATE_NEW)
  // under _status: a persisted non-terminal record counts as "in flight"
  // only while a LIVE process holds the lease; a dead holder's lease is
  // stale and stolen (the crash-leftover rule, now actually checked).
  // The steal itself has a tiny two-dead-JVM race window — acceptable for
  // a crash-recovery path the reference serves with NO lock at all.

  private def leasePath(imp: String): Path = statusDir.resolve(s"$imp.lock")

  /** Lease stamp "pid:startMillis" — the start time disambiguates a
    * recycled pid: a crash leftover whose pid the OS later reassigned to
    * an unrelated process must read as STALE, not as a live holder that
    * blocks the impression until that stranger exits. */
  private def leaseStamp: String = {
    val self = ProcessHandle.current()
    val start = self.info().startInstant()
      .map[Long](_.toEpochMilli).orElse(0L)
    s"${self.pid()}:$start"
  }

  private def leaseHolder(imp: String): Option[(Long, Long)] =
    try Files.readString(leasePath(imp)).trim.split(":") match {
      case Array(pid, start) => Some((pid.toLong, start.toLong))
      case Array(pid) => Some((pid.toLong, 0L)) // legacy pid-only stamp
      case _ => None
    } catch { case NonFatal(_) => None }

  /** True iff another live OS process (same pid AND same start time — pid
    * reuse reads as dead) holds this impression's lease. */
  private[pipeline] def leaseHeldElsewhere(imp: String): Boolean =
    leaseHolder(imp).exists { case (pid, start) =>
      pid != ProcessHandle.current().pid() &&
        ProcessHandle.of(pid).map[Boolean] { h =>
          h.isAlive && (start == 0L || // legacy stamp: liveness only
            h.info().startInstant().map[Boolean](_.toEpochMilli == start)
              .orElse(true)) // unreadable start info: trust liveness
        }.orElse(false)
    }

  /** Acquire the cross-JVM lease: atomic create, or steal from a dead
    * (or our own) holder. Returns false if a live foreign process holds it. */
  private def leaseAcquire(imp: String): Boolean =
    try {
      Files.createDirectories(statusDir)
      Files.write(leasePath(imp), leaseStamp.getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        if (leaseHeldElsewhere(imp)) false
        else { // stale (dead holder) or re-acquired by this process
          try { Files.writeString(leasePath(imp), leaseStamp); true }
          catch { case NonFatal(_) => false }
        }
      case NonFatal(_) =>
        // an unwritable _status dir must not dead-lock admission: fall back
        // to in-process-only serialization (the pre-lease behavior)
        true
    }

  private def leaseRelease(imp: String): Unit =
    if (leaseHolder(imp).exists(_._1 == ProcessHandle.current().pid()))
      try Files.deleteIfExists(leasePath(imp)) catch { case NonFatal(_) => () }

  /** Atomically admit an impression for this thread: CAS its state from
    * absent-or-submittable to Waiting, then take the cross-JVM lease.
    * Exactly one of N concurrent execute() calls sharing an impression
    * wins the claim; losers observe waiting/running (not submittable) and
    * skip — the reference's raw/failed admission rule
    * (`execution.py:42-44`), made atomic so two concurrent /run requests
    * can't both overwrite one output dir. */
  @annotation.tailrec
  private def claim(id: String, imp: String): Boolean =
    impRunsGet(imp) match {
      case None =>
        persistedStatus(imp) match {
          case Some(r) if !r.status.isTerminal && leaseHeldElsewhere(imp) =>
            // a live process in ANOTHER JVM is running this impression:
            // busy, not a crash leftover. Don't cache the foreign state —
            // its terminal write lands in the durable record, re-read on
            // the next poll.
            runs(id) = r
            false
          case other =>
            // seed from the durable record; a persisted NON-terminal state
            // with no live leaseholder is a crash leftover → raw
            val seeded = other.filter(_.status.isTerminal)
              .getOrElse(StepRun(StepStatus.Raw))
            Runner.impRuns.putIfAbsent(s"$whKey#$imp", seeded)
            claim(id, imp)
        }
      case Some(cur) if !StepStatus.canSubmit(cur.status) =>
        runs(id) = cur // keep the per-step display view current
        false
      case Some(cur) =>
        val next = cur.copy(status = StepStatus.Waiting)
        if (Runner.impRuns.replace(s"$whKey#$imp", cur, next)) {
          if (leaseAcquire(imp)) {
            runs(id) = next
            // a failure between acquire and the execute() finally would
            // otherwise leak a live-pid lease for the JVM lifetime — AND a
            // stranded in-memory Waiting entry would block the impression
            // in this process (canSubmit(Waiting) is false), so the CAS is
            // reverted too
            try persistStatus(imp, next)
            catch {
              case NonFatal(e) =>
                leaseRelease(imp)
                Runner.impRuns.replace(s"$whKey#$imp", next, cur)
                runs(id) = cur
                throw e
            }
            true
          } else {
            // lost the cross-JVM race: revert the in-memory claim and let
            // the foreign holder's durable writes win
            Runner.impRuns.replace(s"$whKey#$imp", next, cur)
            runs(id) = cur
            false
          }
        } else claim(id, imp)
    }

  /** Run the DAG rooted at `roots`. Per step: skip if its impression output
    * already exists (cache hit) or its status is terminal-and-not-failed;
    * otherwise compute and persist. Returns the impression id per step. */
  def execute(spec: PipelineSpec, roots: Seq[String]): Map[String, String] = {
    val order = spec.topoOrder(roots)
    val imps = order.map(s => s.id -> impressionId(spec, s.id)).toMap
    val outputs = mutable.Map[String, DataFrame]()

    // inputs are served WITHOUT the lineage stamp: transforms see clean
    // data, and each step's output carries exactly its own stamp
    def load(id: String): DataFrame =
      outputs.getOrElseUpdate(id, readOutput(imps(id)).drop(Runner.LineageCol))

    order.foreach { step =>
      val imp = imps(step.id)
      stepLock(imp).synchronized {
      if (isMaterialized(imp)) {
        // Terminal dep becomes an input leaf (VWorkflow.py:429-437).
        setStatus(step.id, imp, StepStatus.Archived)
      } else if (claim(step.id, imp)) {
        // Running transition INSIDE the try: every post-claim failure path
        // must reach the finally's leaseRelease (and the catch's Failed)
        try {
          setStatus(step.id, imp, StepStatus.Running)
          val inputs = step.inputs.map { case (alias, dep) => alias -> load(dep) }
          val params = ParamMap(step.params)
          spark.sparkContext.setJobGroup(imp, s"graft step ${step.id}",
            interruptOnCancel = true)
          val df = registry.resolve(step.transform)(spark, inputs, params)
          // Lineage stamping (A26): every materialized row carries the
          // content-addressed impression that produced it — the Spark-native
          // replacement for the reference's per-stageout PNG watermarking
          // (`/root/reference/Yuki/kernel/VWorkflow.py:482-543`). A literal
          // column costs nothing at scale (constant-folded, RLE'd by
          // parquet) and survives joins/unions downstream.
          val stamped = df.withColumn(
            Runner.LineageCol, org.apache.spark.sql.functions.lit(imp))
          stamped.write.mode("overwrite").parquet(outDir(imp).toString)
          // Plan dump (A12): the reference emits a Snakefile per workflow;
          // the engine's equivalent artifact is the step's physical plan,
          // persisted per impression for post-hoc audit (/plan route).
          try {
            Files.createDirectories(plansDir)
            Files.writeString(plansDir.resolve(s"$imp.txt"),
              stamped.queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
          } catch { case NonFatal(_) => () } // diagnostics must never fail a step
          setStatus(step.id, imp, StepStatus.Finished)
        } catch {
          case NonFatal(e) =>
            setStatus(step.id, imp, StepStatus.Failed)
            throw new RuntimeException(s"step ${step.id} failed", e)
          case fatal: Throwable =>
            // best-effort even on fatal errors (OOM, LinkageError): the
            // admission map is process-global now, and a stranded Running
            // entry would block this impression for EVERY runner until JVM
            // restart — Failed is re-admittable
            try setStatus(step.id, imp, StepStatus.Failed)
            catch { case NonFatal(_) => () }
            throw fatal
        } finally {
          spark.sparkContext.clearJobGroup()
          // the step reached a terminal state either way — the cross-JVM
          // lease must not outlive the run (a held lease would read as
          // "in flight" to other processes until this JVM died)
          leaseRelease(imp)
        }
      }
      // else: the impression finished without materializing (purged but
      // terminal-finished) — skip; an in-flight claim by another thread is
      // impossible here because the lock serializes claimants
      }
    }
    imps
  }

  /** Re-admit a failed/finished step for re-run (status back to raw —
    * the only exit from a terminal state, `VJob.py:248-254`). Removes the
    * materialized output so execute() recomputes. */
  def reset(spec: PipelineSpec, id: String): Unit = {
    purge(spec, id)
    setStatus(id, impressionId(spec, id), StepStatus.Raw)
  }

  /** Cheap materialization probe: the output path if the step's _SUCCESS
    * marker exists — one file stat, where collect() also reads every part
    * file's footer. The right primitive for catalog/tree/deposited browsing. */
  def materializedPath(spec: PipelineSpec, id: String): Option[String] = {
    val imp = impressionId(spec, id)
    if (isMaterialized(imp)) Some(outDir(imp).toString) else None
  }

  /** A step's materialized output, lineage column included (the /preview
    * route's frame). */
  def output(spec: PipelineSpec, id: String): Option[DataFrame] = {
    val imp = impressionId(spec, id)
    if (isMaterialized(imp)) Some(readOutput(imp)) else None
  }

  /** Collect: manifest of a step's materialized output (A21), including
    * the lineage stamp every row carries. Schema and row count come from
    * the parquet footers: no Spark job. */
  def collect(spec: PipelineSpec, id: String): Option[StepArtifact] = {
    val imp = impressionId(spec, id)
    if (!isMaterialized(imp)) None
    else Some(StepArtifact(id, imp, outDir(imp).toString,
      readOutput(imp).schema.toDDL, Runner.footerRows(outDir(imp))))
  }

  /** Purge: drop the materialized output dir (A6,
    * `/root/reference/Yuki/server/routes/execution.py:80-98`). */
  def purge(spec: PipelineSpec, id: String): Unit =
    deleteRecursively(outDir(impressionId(spec, id)))

  /** Depth-first delete with the stream closed (Files.walk holds an open
    * directory fd until closed — a leak per call in a long-lived server). */
  private def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }

  /** Kill: cancel the step's in-flight Spark jobs (A25 →
    * `cancelJobGroup`; REANA stop at
    * `/root/reference/Yuki/kernel/reana_workflow.py:149-156`). */
  def kill(spec: PipelineSpec, id: String): Unit = {
    val imp = impressionId(spec, id)
    spark.sparkContext.cancelJobGroup(imp)
    setStatus(id, imp, StepStatus.Failed)
  }

  /** Manifest of the whole pipeline — the catalog/browse view
    * (`/root/reference/Yuki/server/routes/status.py:140-186,318-394`):
    * one row per step with impression id, status, materialization path and
    * row count, ordered by the reference's multi-key rule (materialized
    * first, then by step id). Row counts come from parquet metadata
    * (footer statistics), not a data scan. */
  def manifest(spec: PipelineSpec): DataFrame = {
    import spark.implicits._
    val rows = spec.steps.map { step =>
      val imp = impressionId(spec, step.id)
      val mat = isMaterialized(imp)
      val rowCount = if (mat) Runner.footerRows(outDir(imp)) else -1L
      (step.id, step.transform, imp, statusOf(spec, step.id).name,
        if (mat) outDir(imp).toString else "", rowCount)
    }
    rows.toDF("step_id", "transform", "impression", "status", "path", "rows")
      .orderBy(col("path") === "", col("step_id"))
  }

  // ---- ingest / export (A1–A3) ----------------------------------------

  private val sourcesDir = Paths.get(warehouse, "_sources")
  private implicit val jsonFormats: org.json4s.Formats = org.json4s.DefaultFormats

  private def sha16(payload: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes(StandardCharsets.UTF_8))
      .take(16).map("%02x".format(_)).mkString

  private def readSource(path: String, format: String,
      options: Map[String, String]): DataFrame = {
    // "binary" = the reference's rawdata registration (`upload.py:21-34`,
    // `VJob.py:34-35`): a directory of OPAQUE files (images, audio, any
    // bytes) served as (path, modificationTime, length, content) rows via
    // Spark's binaryFile source — the frame the mm-family ops consume.
    // recursiveFileLookup by default: rawdata uploads arrive as nested
    // trees; an explicit option still overrides.
    val fmt = if (format == "binary") "binaryFile" else format
    val defaults = format match {
      case "csv" => Map("header" -> "true", "inferSchema" -> "true")
      case "binary" => Map("recursiveFileLookup" -> "true")
      case _ => Map.empty[String, String]
    }
    spark.read.format(fmt).options(defaults ++ options).load(path)
  }

  /** Fingerprint of a source dir without scanning data: file names, sizes
    * and mtimes ([[graft.core.Fingerprint]]). Changing, adding or touching
    * any part file changes the source impression — the metadata-cost
    * analogue of content hashing. */
  private def contentFingerprint(p: Path): String = graft.core.Fingerprint.of(p)

  /** Register an external dataset as a named source impression (A1): the
    * impression id hashes format + path + schema + file fingerprint, so
    * re-ingesting changed data yields a NEW impression — specs that pin the
    * returned impression in their params re-run exactly like any other
    * content edit. The `ingested` transform (registered in the constructor)
    * makes the source referenceable from any spec. */
  def ingest(name: String, path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): SourceRef = {
    require(safeName(name), s"invalid source name '$name'")
    val df = readSource(path, format, options) // validates readability+schema
    val imp = sha16(Seq(format, path, df.schema.toDDL,
      contentFingerprint(Paths.get(path))).mkString(""))
    val ref = SourceRef(name, imp, path, format, df.schema.toDDL, options)
    Files.createDirectories(sourcesDir)
    Files.writeString(sourcesDir.resolve(s"$name.json"),
      org.json4s.jackson.Serialization.write(ref))
    ref
  }

  def source(name: String): Option[SourceRef] = {
    val p = sourcesDir.resolve(s"$name.json")
    if (!Files.exists(p) || !safeName(name)) None
    else org.json4s.jackson.JsonMethods.parse(Files.readString(p))
      .extractOpt[SourceRef]
  }

  def sources: Seq[SourceRef] = {
    if (!Files.isDirectory(sourcesDir)) return Seq.empty
    val listing = Files.list(sourcesDir)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(p => source(p.getFileName.toString.stripSuffix(".json")))
      .toSeq.sortBy(_.name)
    finally listing.close()
  }

  def sourceDf(name: String): DataFrame = {
    val ref = source(name).getOrElse(sys.error(s"unknown source '$name'"))
    readSource(ref.path, ref.format, ref.options)
  }

  /** Files of a step's materialized output (A7 outputs / A2 export
    * listing). Names only — the HTTP layer serves bytes. */
  def outputFiles(spec: PipelineSpec, id: String): Seq[String] = {
    val dir = outDir(impressionId(spec, id))
    if (!Files.isDirectory(dir)) return Seq.empty
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(_.getFileName.toString).toSeq.sorted
    finally listing.close()
  }

  /** Absolute path of one output file, guarded against traversal. */
  def outputFile(spec: PipelineSpec, id: String, file: String): Option[Path] = {
    if (!safeName(file)) return None
    val p = outDir(impressionId(spec, id)).resolve(file)
    if (Files.isRegularFile(p)) Some(p) else None
  }

  // ---- upload staging (A1 byte path) + bookkeep (A30) ------------------

  private def safeName(seg: String): Boolean = Runner.safeSegment(seg)

  /** Safe relative path: every segment a plain filename, no traversal. */
  private def safeRel(rel: String): Boolean =
    rel.nonEmpty && rel.split("/").forall(safeName)

  /** Fresh staging dir for a byte-level upload (the reference's
    * `config.storage_path/<project>/<tarname>` target,
    * `/root/reference/Yuki/server/routes/upload.py:21-25`): wiped first so
    * a re-upload replaces, never merges with, the previous payload. The
    * HTTP layer extracts archive bytes here, then registers the dir via
    * [[ingest]] — which fingerprints the fresh files into a NEW impression. */
  def uploadTarget(name: String): Path = {
    require(safeName(name), s"invalid upload name '$name'")
    val dir = Paths.get(warehouse, "_uploads", name)
    deleteRecursively(dir)
    Files.createDirectories(dir)
    dir
  }

  private val bookkeepDir = Paths.get(warehouse, "_bookkeep")

  /** Bookkeep write/sync (A30) — the reference's `/bookkeeping` route
    * (`/root/reference/Yuki/server/routes/status.py:396-447`): wipe the
    * project's bookkeep tree, write the manifest verbatim as
    * `manifest.json`, then materialize each transmitted doc at its
    * relative path. Returns the project root. */
  def bookkeepWrite(project: String, manifestJson: String,
      docs: Map[String, String]): Path = {
    require(safeName(project), s"invalid project '$project'")
    docs.keys.foreach(rel =>
      require(safeRel(rel), s"invalid doc path '$rel'"))
    val root = bookkeepDir.resolve(project)
    deleteRecursively(root) // clean-first, like the reference's rmtree
    Files.createDirectories(root)
    Files.writeString(root.resolve("manifest.json"), manifestJson)
    docs.foreach { case (rel, content) =>
      val target = root.resolve(rel)
      Files.createDirectories(target.getParent)
      Files.writeString(target, content)
    }
    root
  }

  /** Read side of the bookkeep tree: manifest + sorted doc paths. */
  def bookkeepRead(project: String): Option[(String, Seq[String])] = {
    if (!safeName(project)) return None
    val root = bookkeepDir.resolve(project)
    val mf = root.resolve("manifest.json")
    if (!Files.isRegularFile(mf)) return None
    val walk = Files.walk(root)
    val docs =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p != mf)
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally walk.close()
    Some((Files.readString(mf), docs))
  }

  /** One bookkept doc's content, traversal-guarded. */
  def bookkeepDoc(project: String, rel: String): Option[String] = {
    if (!safeName(project) || !safeRel(rel)) return None
    val p = bookkeepDir.resolve(project).resolve(rel)
    if (Files.isRegularFile(p)) Some(Files.readString(p)) else None
  }

  def bookkeepProjects: Seq[String] = {
    if (!Files.isDirectory(bookkeepDir)) return Seq.empty
    val listing = Files.list(bookkeepDir)
    try listing.iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    finally listing.close()
  }

  /** Retention sweep — the reference's homekeep GC
    * (`/root/reference/Yuki/kernel/reana_workflow.py:386-425`): delete any
    * warehouse impression dir not referenced by the given specs (old runs
    * whose spec hash changed). Returns the deleted impression ids. */
  def vacuum(live: Seq[PipelineSpec]): Seq[String] = {
    val keep = live.flatMap(sp => sp.steps.map(st => impressionId(sp, st.id))).toSet
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) return Seq.empty
    val listing = Files.list(root)
    val doomed =
      try listing.iterator().asScala
        .filter(p => Files.isDirectory(p) && !keep.contains(p.getFileName.toString)
          && !p.getFileName.toString.startsWith("_")) // _status is metadata
        .map(_.getFileName.toString)
        // an impression mid-run is not garbage even if no local spec
        // references it — deleting its output dir races the writer, and
        // deleting its lease would re-open the very double-admission
        // window the lease exists to close. "Mid-run" means a live lease
        // in ANY process: a foreign live holder, or our own pid (this
        // JVM only holds a lease while a thread is inside the step run,
        // so an own-pid lease is an in-flight sibling thread, possibly
        // executing a spec this vacuum caller doesn't know about).
        .filterNot(imp => leaseHeldElsewhere(imp) ||
          leaseHolder(imp).exists(_._1 == ProcessHandle.current().pid()))
        .toList
      finally listing.close()
    doomed.foreach { imp =>
      deleteRecursively(root.resolve(imp))
      Files.deleteIfExists(statusDir.resolve(s"$imp.json"))
      Files.deleteIfExists(plansDir.resolve(s"$imp.txt"))
      Files.deleteIfExists(leasePath(imp)) // stray lease of a dead holder
    }
    doomed
  }

  /** Head+tail preview with truncation marker — the reference's 1000-char
    * text preview (`/root/reference/Yuki/server/routes/status.py:188-216`)
    * re-expressed over rows. */
  def preview(df: DataFrame, maxRows: Int = 1000): String = {
    val rows = df.limit(2 * maxRows + 1).collect()
    if (rows.length <= 2 * maxRows) rows.mkString("\n")
    else {
      val total = df.count()
      (rows.take(maxRows).mkString("\n")
        + s"\n... [${total - 2L * maxRows} rows truncated] ...\n"
        + df.tail(maxRows).mkString("\n"))
    }
  }
}

object Runner {
  /** Lineage column stamped onto every materialized step output (A26). */
  val LineageCol = "_impression_id"

  /** Safe single path segment: a plain filename — the charset alone is NOT
    * enough ("." and ".." both match `[A-Za-z0-9_.-]+`, and either one
    * resolved against a staging root and handed to deleteRecursively wipes
    * the parent tree). Shared with the HTTP layer so request validation
    * and filesystem validation can never diverge. */
  private[graft] def safeSegment(seg: String): Boolean =
    seg.matches("[A-Za-z0-9_.=-]+") && seg != ".." && seg != "."

  // ---- step-boundary metadata from parquet footers ----------------------
  // `spark.read.parquet(dir)` infers the schema with a Spark job, and
  // `count()` adds two more; every fact a step boundary needs is already in
  // the part files' footers, read here on the driver.

  /** Footer key under which Spark writes the frame's schema as JSON; Spark's
    * own schema inference reads the same key. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Data files of an output dir as Spark's file index picks them: names
    * starting with `_` or `.` (`_SUCCESS`, checksums) are not data. */
  private def partFiles(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".") && Files.isRegularFile(p)
    }.toSeq.sortBy(_.getFileName.toString)
    finally listing.close()
  }

  // a plain configuration: the default options build a Hadoop
  // Configuration per file, which costs ~10 ms against ~0.1 ms for the
  // footer read itself
  private val footerOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  private def footer[A](file: Path)(read: ParquetFileReader => A): A = {
    val reader = ParquetFileReader.open(new LocalInputFile(file), footerOptions)
    try read(reader) finally reader.close()
  }

  /** Spark schema of a Spark-written output dir, from one part file's
    * footer: the files of one write share it, and Spark's inference also
    * reads one file when it does not merge schemas. */
  private def footerSchema(dir: Path): StructType = {
    val file = partFiles(dir).headOption
      .getOrElse(sys.error(s"no parquet part file in $dir"))
    footer(file)(r => Option(r.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
      .map(DataType.fromJson) match {
      case Some(s: StructType) => s
      case _ => sys.error(s"$file carries no Spark schema")
    }
  }

  /** An output dir read with its footer schema. Spark makes the schema
    * nullable as it would an inferred one, and runs no job: the file
    * listing is on the driver. */
  private[graft] def readOutput(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema(footerSchema(dir)).parquet(dir.toString)

  /** Exact row count of an output dir: its part files' footer row counts,
    * summed. */
  private[graft] def footerRows(dir: Path): Long =
    partFiles(dir).map(footer(_)(_.getRecordCount)).sum

  // Process-global impression state + locks, keyed "warehousePath#imp":
  // every Runner over one warehouse shares admission, whichever session it
  // executes on. Bounded by distinct impressions (metadata scale).
  private[pipeline] val impRuns =
    scala.collection.concurrent.TrieMap[String, StepRun]()
  private[pipeline] val stepLocks =
    scala.collection.concurrent.TrieMap[String, Object]()
}
