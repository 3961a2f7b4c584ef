package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{ExecutionContext, Future}
import scala.util.{Failure, Success}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.pipeline._

/** Thin HTTP facade mirroring the reference server's route surface
  * (`/root/reference/Yuki/server/routes/`) over the Spark-native runner —
  * JDK built-in `HttpServer` + json4s (both already on the classpath, zero
  * new dependencies):
  *
  *   - `GET  /ping`                        — connectivity check (A32,
  *     `/root/reference/Yuki/server/utils.py:7-13`)
  *   - `POST /run` (pipeline spec JSON)    — async submit; returns run id
  *     (A4+A8, `/root/reference/Yuki/server/routes/execution.py:18-78`);
  *     optional `"profile"` selects a registered runner profile (A31)
  *   - `POST /run-step/<run>/<step>`       — (re)run ONE step of a
  *     submitted spec (A5, `execution.py:103-111`)
  *   - `GET  /status/<run>`                — workflow + per-step statuses
  *     (A17/A23, `/root/reference/Yuki/server/routes/status.py:22-138`)
  *   - `GET  /collect/<run>/<step>`        — output manifest (A21,
  *     `/root/reference/Yuki/server/routes/workflow.py:12-16`)
  *     — path, schema and row count, read from the parquet footers with
  *     no Spark job
  *   - `GET  /outputs/<run>/<step>`        — output file listing (A7,
  *     `execution.py:114-127`)
  *   - `GET  /export/<run>/<step>[/<f>]`   — listing / raw file bytes (A2,
  *     `upload.py:66-90`)
  *   - `GET  /impression-path/<run>/<step>`— impression, path, deposited
  *     (A34, `upload.py:93-105`)
  *   - `GET  /preview/<run>/<step>`        — head/tail row preview (A27,
  *     `status.py:188-216`)
  *   - `POST /ingest` `{name,path,format?,options?}` — register an external
  *     dataset as a named source impression (A1, `upload.py:16-36`);
  *     `format: "binary"` registers a directory TREE of opaque files
  *     (the reference's rawdata, `upload.py:21-34`) served as binaryFile
  *     rows for the mm-family ops; `GET /sources` lists them
  *   - `POST /upload?name=<src>[&format=f]` (body = tar/tar.gz bytes) —
  *     byte-level ingest: extract into warehouse staging, register as a
  *     source (A1's transport, `upload.py:16-36`)
  *   - `GET  /collect-all/<run>/<step>`    — cross-runner collect dispatch
  *     (A24, `kernel/impression_storage.py:21-75`): finished runners
  *     contribute results, failed ones logs
  *   - `GET  /tree`                        — project catalog: sources +
  *     every run's steps with materialization state (A29–A30,
  *     `status.py:318-447`)
  *   - `POST /tree` `{project,manifest,docs?}` — bookkeep write/sync (A30,
  *     `status.py:396-447`): wipe + rewrite the project's catalog tree;
  *     `GET /tree/<project>[/<doc>]` reads it back
  *   - `POST /register-runner`, `GET /runners`, `GET
  *     /runner-connection/<name>`, `POST /remove-runner/<name>` — session
  *     profile registry (A31, `runner.py:12-136`)
  *   - `GET  /deposited/<run>/<step>`      — materialization probe (A34)
  *   - `GET  /logs/<run>/<step>`           — durable status record with
  *     timings (the driver-side replacement for runner log files)
  *   - `POST /set-status/<run>/<step>/<raw|failed>` — guarded manual
  *     override (`set-job-status`); only re-admission states are forgeable
  *   - `POST /vacuum`                      — homekeep GC of unreferenced
  *     warehouse impressions (A33, `/homekeep`)
  *   - `GET  /runners-url`                 — profile → master map
  *   - `POST /purge/<run>/<step>`          — drop materialized output (A6)
  *   - `POST /kill/<run>`                  — cancel in-flight jobs (A25)
  *
  * Spec body: `{"steps": [{"id", "transform", "inputs": {alias: stepId},
  * "params": {k: v}}], "roots": [stepId], "profile": "name"}`.
  *
  * The server owns no data path — every byte moves through Spark (export
  * streams already-materialized warehouse files); handlers only touch
  * runner metadata, matching the reference's driver-side-only server role.
  */
final class HttpApi(runner: Runner, port: Int = 0,
    runnerFactory: Option[org.apache.spark.sql.SparkSession => Runner] = None,
    bindHost: String = "127.0.0.1") {
  private implicit val formats: Formats = DefaultFormats
  // Both pools' threads are non-daemon (an in-flight step finishes before
  // the JVM exits) and named, so a leaked one is recognizable in a dump;
  // stop() shuts both down.
  private def pool(kind: String, n: Int): ExecutorService = {
    val made = new AtomicInteger()
    Executors.newFixedThreadPool(n,
      (r: Runnable) => new Thread(r, s"graft-http-$kind-${made.incrementAndGet()}"))
  }
  private val runPool = pool("run", 4)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(runPool)

  private case class RunState(spec: PipelineSpec, roots: Seq[String],
      future: Future[Map[String, String]], runner: Runner)
  private val runs = new ConcurrentHashMap[String, RunState]()
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  // one Runner per resolved profile (same warehouse, profile's session);
  // the constructor-supplied runner serves the default profile
  private val profileRunners = new ConcurrentHashMap[String, Runner]()
  private def runnerFor(profile: Option[String]): Runner = profile match {
    case None => runner
    case Some(name) =>
      val mk = runnerFactory.getOrElse(
        sys.error("this server was started without profile support"))
      profileRunners.computeIfAbsent(name,
        _ => mk(graft.core.SessionProfiles.sessionFor(name)))
  }

  // TCP_NODELAY: without it Nagle's algorithm holds a response's body until
  // the client ACKs its headers, and a keep-alive client delays that ACK,
  // so each request on a reused connection waited ~40 ms. The JDK server
  // reads the property once, when the first server in the JVM is created.
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")

  // LOOPBACK by default: /ingest registers any server-readable path and
  // /export//preview then serve its contents — on a wildcard bind that is
  // an unauthenticated arbitrary-file-read primitive for the whole network
  // segment. Exposing beyond localhost is an explicit operator decision
  // (`bindHost = "0.0.0.0"`), not a default.
  private val server = HttpServer.create(new InetSocketAddress(bindHost, port), 0)
  private val handlerPool = pool("handler", 8)
  server.setExecutor(handlerPool)

  // push-based stage progress for /status (reference polled .done markers)
  private val listener = RunListener.install(runner.session)

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: JValue): Unit = {
    val bytes = JsonMethods.compact(JsonMethods.render(body))
      .getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
  private def notFound(ex: HttpExchange): Unit =
    respond(ex, 404, JObject("error" -> JString("not found")))

  private def parseSpec(body: String): (PipelineSpec, Seq[String]) =
    SpecJson.parse(body)

  private def workflowStatus(st: RunState): String =
    st.future.value match {
      case None => "running"                    // VWorkflow.py:454-473 enum
      case Some(Success(_)) => "finished"
      case Some(Failure(_)) => "failed"
    }

  server.createContext("/ping", (ex: HttpExchange) =>
    respond(ex, 200, JObject("status" -> JString("Connected"))))

  server.createContext("/run-step/", (ex: HttpExchange) => {
    // per-step (re)run of an already-submitted spec (A5): same spec, roots
    // narrowed to the one step; a fresh run id tracks the re-execution
    resolve(ex.getRequestURI.getPath, "/run-step/") match {
      case None => notFound(ex)
      case Some((st, stepId)) =>
        val runId = s"run${counter.incrementAndGet()}"
        runs.put(runId, RunState(st.spec, Seq(stepId),
          Future(st.runner.execute(st.spec, Seq(stepId))), st.runner))
        respond(ex, 202, JObject("run_id" -> JString(runId)))
    }
  })

  server.createContext("/run", (ex: HttpExchange) => {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val (spec, roots) = parseSpec(body)
      val profile = JsonMethods.parse(body) \ "profile" match {
        case JString(p) => Some(p)
        case _ => None
      }
      val r = runnerFor(profile)
      val runId = s"run${counter.incrementAndGet()}"
      runs.put(runId, RunState(spec, roots, Future(r.execute(spec, roots)), r))
      respond(ex, 202, JObject("run_id" -> JString(runId)))
    } catch {
      case e: Exception =>
        respond(ex, 400, JObject("error" -> JString(String.valueOf(e.getMessage))))
    }
  })

  server.createContext("/status/", (ex: HttpExchange) => {
    val runId = ex.getRequestURI.getPath.stripPrefix("/status/")
    Option(runs.get(runId)) match {
      case None => notFound(ex)
      case Some(st) =>
        // statusOf keys by impression id, so runs whose specs reuse step
        // names don't clobber each other's reported state
        val steps = st.spec.steps.map { s =>
          s.id -> JString(st.runner.statusOf(st.spec, s.id).name)
        }
        // progress over THIS run's job groups (its impression ids) only —
        // concurrent runs don't see each other's stages
        val (done, seen) = listener.progress(
          st.spec.steps.map(s => st.runner.impressionId(st.spec, s.id)).toSet)
        respond(ex, 200, JObject(
          "workflow" -> JString(workflowStatus(st)),
          "stages_completed" -> JLong(done),
          "stages_submitted" -> JLong(seen),
          "steps" -> JObject(steps: _*)))
    }
  })

  /** (run, step) from the path, only if both exist — unknown step ids must
    * 404, not escape as NoSuchElementException (which the JDK server turns
    * into a dropped connection). */
  private def resolve(path: String, prefix: String): Option[(RunState, String)] =
    path.stripPrefix(prefix).split("/") match {
      case Array(runId, stepId) =>
        Option(runs.get(runId)).filter(_.spec.byId.contains(stepId)).map((_, stepId))
      case _ => None
    }

  /** Every live runner (default + resolved profiles), name-keyed — the
    * registry the cross-runner dispatch sweeps (A24). */
  private def storage: ImpressionStorage = {
    import scala.jdk.CollectionConverters._
    new ImpressionStorage(
      ("default" -> runner) +: profileRunners.asScala.toSeq.sortBy(_._1))
  }

  server.createContext("/collect-all/", (ex: HttpExchange) => {
    // cross-runner collect dispatch (A24, the reference's
    // `ImpressionStorage.collect`, impression_storage.py:39-47): sweep
    // EVERY registered runner, dispatching on each runner's own status —
    // finished → results manifest, failed → the durable log record
    resolve(ex.getRequestURI.getPath, "/collect-all/") match {
      case None => notFound(ex)
      case Some((st, stepId)) =>
        val dispatches = storage.collect(st.spec, stepId).map { d =>
          JObject(
            "runner" -> JString(d.runner),
            "status" -> JString(d.status.name),
            "action" -> JString(d.action),
            "artifact" -> d.artifact.map(a => JObject(
              "path" -> JString(a.path), "rows" -> JLong(a.rows),
              "schema" -> JString(a.schemaDDL))).getOrElse(JNull),
            "log" -> d.record.map(r => JObject(
              "started_at" -> r.startedAt.map(JLong(_)).getOrElse(JNull),
              "finished_at" -> r.finishedAt.map(JLong(_)).getOrElse(JNull),
              "duration_ms" -> r.durationMs.map(JLong(_)).getOrElse(JNull))).getOrElse(JNull))
        }
        respond(ex, 200, JObject(
          "step" -> JString(stepId),
          "info" -> JString(storage.getInfo(st.spec, stepId)),
          "dispatches" -> JArray(dispatches.toList)))
    }
  })

  server.createContext("/collect/", (ex: HttpExchange) => {
    resolve(ex.getRequestURI.getPath, "/collect/")
      .flatMap { case (st, stepId) => st.runner.collect(st.spec, stepId) } match {
      case None => notFound(ex)
      case Some(a) => respond(ex, 200, JObject(
        "step" -> JString(a.id), "impression" -> JString(a.impression),
        "path" -> JString(a.path),
        "schema" -> JString(a.schemaDDL), "rows" -> JLong(a.rows)))
    }
  })

  server.createContext("/purge/", (ex: HttpExchange) => {
    resolve(ex.getRequestURI.getPath, "/purge/") match {
      case Some((st, stepId)) =>
        // reset, not bare purge: dropping the output while leaving the
        // sticky terminal status would make the step unrunnable forever
        st.runner.reset(st.spec, stepId)
        respond(ex, 200, JObject("purged" -> JString(stepId)))
      case None => notFound(ex)
    }
  })

  server.createContext("/kill/", (ex: HttpExchange) => {
    val runId = ex.getRequestURI.getPath.stripPrefix("/kill/")
    Option(runs.get(runId)) match {
      case None => notFound(ex)
      case Some(st) =>
        // cross-runner kill (impression_storage.py:33-37): cancel on EVERY
        // registered runner, not only the one that submitted the run —
        // each cancels its own session's job group for the impression
        st.spec.steps.foreach(s => storage.kill(st.spec, s.id))
        respond(ex, 200, JObject("killed" -> JString(runId)))
    }
  })

  // ---- ingest / export (A1–A3) ----------------------------------------

  server.createContext("/ingest", (ex: HttpExchange) => {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val j = JsonMethods.parse(body)
      val options = j \ "options" match {
        case o: JObject => o.extract[Map[String, String]]
        case _ => Map.empty[String, String]
      }
      val ref = runner.ingest(
        (j \ "name").extract[String],
        (j \ "path").extract[String],
        (j \ "format").extractOrElse[String]("parquet"),
        options)
      respond(ex, 201, JObject(
        "name" -> JString(ref.name), "impression" -> JString(ref.impression),
        "path" -> JString(ref.path), "format" -> JString(ref.format),
        "schema" -> JString(ref.schemaDDL)))
    } catch {
      case e: Exception =>
        respond(ex, 400, JObject("error" -> JString(String.valueOf(e.getMessage))))
    }
  })

  /** Query-string params of an exchange (`?name=x&format=y`). */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  // Upload bounds: the request body is heap-buffered and gzip can expand
  // ~1000×, so BOTH sides are capped — a small gzip bomb must not exhaust
  // heap/disk through the shared request executor. Default matches the
  // reference's 1 GiB Flask MAX_CONTENT_LENGTH
  // (`/root/reference/Yuki/server/app.py:32`). The body cap is clamped
  // below Int.MaxValue because the buffered read takes an Int — a larger
  // configured cap would overflow and break every upload.
  private val maxUploadBytes: Int =
    math.min(
      sys.env.get("GRAFT_MAX_UPLOAD_MB").flatMap(_.toLongOption)
        .getOrElse(1024L) * 1024 * 1024,
      Int.MaxValue.toLong - 8).toInt
  private val maxExtractedBytes: Long = 4L * maxUploadBytes
  // entry-count cap: a tar of millions of ZERO-byte files/dirs never
  // advances the byte cap but still exhausts inodes
  private val maxArchiveEntries = 100000

  /** Extract a tar / tar.gz payload into `target`, traversal-guarded and
    * size-capped. Returns the number of regular files written. */
  private def extractTar(bytes: Array[Byte], target: java.nio.file.Path): Int = {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val raw = new java.io.ByteArrayInputStream(bytes)
    // the reference opens mode "r:*" (sniff the compression); we sniff the
    // gzip magic — plain tar otherwise
    val in: java.io.InputStream =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
        new java.util.zip.GZIPInputStream(raw)
      else raw
    val tar = new TarArchiveInputStream(in)
    try {
      var written = 0
      var entries = 0
      var extracted = 0L
      var entry = tar.getNextEntry
      while (entry != null) {
        entries += 1
        require(entries <= maxArchiveEntries,
          s"archive exceeds $maxArchiveEntries entries")
        // normalize-then-containment: "../../etc/x" must be refused, not
        // extracted (the classic tar-slip the reference's extractall had)
        val dest = target.resolve(entry.getName).normalize()
        require(dest.startsWith(target), s"archive entry escapes target: ${entry.getName}")
        if (entry.isDirectory) java.nio.file.Files.createDirectories(dest)
        else {
          extracted += entry.getSize.max(0L)
          require(extracted <= maxExtractedBytes,
            s"archive expands past $maxExtractedBytes bytes")
          java.nio.file.Files.createDirectories(dest.getParent)
          java.nio.file.Files.copy(tar, dest,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          written += 1
        }
        entry = tar.getNextEntry
      }
      written
    } finally tar.close()
  }

  // one upload at a time PER SOURCE NAME: uploadTarget wipes the staging
  // dir, so a concurrent same-name upload could delete files mid-extract
  // and the ingest would fingerprint the other request's bytes
  private val uploadLocks = new ConcurrentHashMap[String, Object]()

  server.createContext("/upload", (ex: HttpExchange) => {
    // Byte-level ingest (A1's actual transport,
    // `/root/reference/Yuki/server/routes/upload.py:16-36`): the request
    // BODY is a tar or tar.gz archive; the server materializes it into the
    // warehouse's upload staging area and registers the extracted dir as a
    // named source impression via the existing /ingest machinery — no
    // pre-staged server-side files needed.
    //   POST /upload?name=<source>[&format=parquet|csv|json|text]
    try {
      val params = queryParams(ex)
      val name = params.getOrElse("name", sys.error("missing ?name= parameter"))
      // validated BEFORE the per-name lock map: rejected requests must not
      // insert attacker-chosen keys into a process-lifetime map
      require(Runner.safeSegment(name), s"invalid upload name '$name'")
      val format = params.getOrElse("format", "parquet")
      // reject oversized bodies BEFORE buffering when the client declares a
      // length; the buffered read is capped regardless (chunked encoding)
      Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(_.toLongOption).foreach(len =>
          require(len <= maxUploadBytes, s"body exceeds $maxUploadBytes bytes"))
      val bytes = ex.getRequestBody.readNBytes(maxUploadBytes + 1)
      require(bytes.length <= maxUploadBytes, s"body exceeds $maxUploadBytes bytes")
      val ref = uploadLocks.computeIfAbsent(name, _ => new Object).synchronized {
        val target = runner.uploadTarget(name)
        val files = extractTar(bytes, target)
        require(files > 0, "archive contained no files")
        (files, runner.ingest(name, target.toString, format))
      }
      respond(ex, 201, JObject(
        "name" -> JString(ref._2.name), "impression" -> JString(ref._2.impression),
        "path" -> JString(ref._2.path), "format" -> JString(ref._2.format),
        "files" -> JLong(ref._1.toLong), "schema" -> JString(ref._2.schemaDDL)))
    } catch {
      case e: Exception =>
        respond(ex, 400, JObject("error" -> JString(String.valueOf(e.getMessage))))
    }
  })

  // discoverability: the registered transform vocabulary a spec step can
  // name — the typed analogue of browsing which algorithm impressions
  // exist (image lookup, container_job.py:44-61)
  server.createContext("/transforms", (ex: HttpExchange) =>
    respond(ex, 200, JObject("transforms" ->
      JArray(runner.transformNames.toList.sorted.map(JString(_))))))

  server.createContext("/sources", (ex: HttpExchange) =>
    respond(ex, 200, JObject("sources" -> JArray(runner.sources.map(r =>
      JObject("name" -> JString(r.name), "impression" -> JString(r.impression),
        "path" -> JString(r.path), "format" -> JString(r.format))).toList))))

  server.createContext("/outputs/", (ex: HttpExchange) => {
    resolve(ex.getRequestURI.getPath, "/outputs/") match {
      case None => notFound(ex)
      case Some((st, stepId)) => respond(ex, 200, JObject(
        "files" -> JArray(st.runner.outputFiles(st.spec, stepId).map(JString(_)).toList)))
    }
  })

  server.createContext("/export/", (ex: HttpExchange) => {
    // /export/<run>/<step> -> file listing; /export/<run>/<step>/<file> ->
    // the raw bytes (the reference's send_from_directory, upload.py:66-90)
    ex.getRequestURI.getPath.stripPrefix("/export/").split("/") match {
      case Array(runId, stepId) =>
        Option(runs.get(runId)).filter(_.spec.byId.contains(stepId)) match {
          case None => notFound(ex)
          case Some(st) => respond(ex, 200, JObject(
            "files" -> JArray(st.runner.outputFiles(st.spec, stepId).map(JString(_)).toList)))
        }
      case Array(runId, stepId, file) =>
        Option(runs.get(runId)).filter(_.spec.byId.contains(stepId))
          .flatMap(st => st.runner.outputFile(st.spec, stepId, file)) match {
          case None => notFound(ex)
          case Some(p) =>
            // stream, don't buffer: a part file can be GBs; and the file
            // may vanish between the existence check and the read
            // (concurrent purge/vacuum) — that must 404, not hang the
            // exchange with an unanswered request
            var headersSent = false
            try {
              // open the stream BEFORE committing headers: a file deleted
              // in the size→open window (concurrent purge/vacuum) must
              // answer 404, not a truncated 200
              val size = java.nio.file.Files.size(p)
              val in = java.nio.file.Files.newInputStream(p)
              try {
                ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
                ex.getResponseHeaders.set("Content-Disposition",
                  s"""attachment; filename="$file"""")
                ex.sendResponseHeaders(200, size)
                headersSent = true
                in.transferTo(ex.getResponseBody)
              } finally { in.close(); ex.close() }
            } catch {
              // mid-stream failure can only abort the connection (headers
              // are gone); pre-stream failure answers 404
              case _: java.io.IOException =>
                if (headersSent) ex.close() else notFound(ex)
            }
        }
      case _ => notFound(ex)
    }
  })

  server.createContext("/impression-path/", (ex: HttpExchange) => {
    resolve(ex.getRequestURI.getPath, "/impression-path/") match {
      case None => notFound(ex)
      case Some((st, stepId)) =>
        val imp = st.runner.impressionId(st.spec, stepId)
        val path = st.runner.materializedPath(st.spec, stepId)
        respond(ex, 200, JObject(
          "impression" -> JString(imp),
          "deposited" -> JBool(path.isDefined),
          "path" -> JString(path.getOrElse(""))))
    }
  })

  server.createContext("/plan/", (ex: HttpExchange) => {
    // the step's persisted physical plan (A12 — the engine's "Snakefile")
    resolve(ex.getRequestURI.getPath, "/plan/")
      .flatMap { case (st, stepId) => st.runner.plan(st.spec, stepId) } match {
      case None => notFound(ex)
      case Some(text) => respond(ex, 200, JObject("plan" -> JString(text)))
    }
  })

  server.createContext("/preview/", (ex: HttpExchange) => {
    resolve(ex.getRequestURI.getPath, "/preview/") match {
      case None => notFound(ex)
      case Some((st, stepId)) =>
        st.runner.output(st.spec, stepId) match {
          case None => notFound(ex)
          case Some(df) => respond(ex, 200, JObject(
            "preview" -> JString(st.runner.preview(df, maxRows = 20))))
        }
    }
  })

  server.createContext("/workflows", (ex: HttpExchange) => {
    // flat run listing (the reference's /workflows/<project>): id + state
    import scala.jdk.CollectionConverters._
    respond(ex, 200, JObject("workflows" -> JArray(
      runs.asScala.toSeq.sortBy(_._1).map { case (id, st) =>
        JObject("run_id" -> JString(id),
          "workflow" -> JString(workflowStatus(st)))
      }.toList)))
  })

  server.createContext("/dite-status", (ex: HttpExchange) => {
    // server vitals (the reference's /dite-status health endpoint)
    import scala.jdk.CollectionConverters._
    val states = runs.asScala.values.map(workflowStatus).toSeq
    respond(ex, 200, JObject(
      "runs" -> JLong(runs.size().toLong),
      "running" -> JLong(states.count(_ == "running").toLong),
      "finished" -> JLong(states.count(_ == "finished").toLong),
      "failed" -> JLong(states.count(_ == "failed").toLong),
      "sources" -> JLong(runner.sources.size.toLong),
      "profiles" -> JLong(graft.core.SessionProfiles.names.size.toLong)))
  })

  // ---- catalog browse (A29–A30) ---------------------------------------

  server.createContext("/tree", (ex: HttpExchange) => {
    (ex.getRequestMethod, ex.getRequestURI.getPath.stripPrefix("/tree")
        .stripPrefix("/").split("/", 2).filter(_.nonEmpty)) match {
      case ("POST", Array()) => treeWrite(ex)
      case ("GET", Array()) => treeCatalog(ex)
      case ("GET", Array(project)) => treeProject(ex, project)
      case ("GET", Array(project, doc)) => treeDoc(ex, project, doc)
      case _ => notFound(ex)
    }
  })

  /** Bookkeep write/sync (A30, the reference's `/bookkeeping` route,
    * `/root/reference/Yuki/server/routes/status.py:396-447`): wipe and
    * rewrite the project's catalog tree from the posted manifest + docs.
    * Body: `{"project": id, "manifest": {...}, "docs": {relpath: content}}`. */
  private def treeWrite(ex: HttpExchange): Unit = {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val j = JsonMethods.parse(body)
      val project = j \ "project" match {
        case JString(p) => p
        case _ => sys.error("missing project")
      }
      val manifest = j \ "manifest" match {
        case JNothing => sys.error("missing manifest")
        case m => JsonMethods.compact(JsonMethods.render(m))
      }
      val docs = j \ "docs" match {
        case o: JObject => o.extract[Map[String, String]]
        case _ => Map.empty[String, String]
      }
      val root = runner.bookkeepWrite(project, manifest, docs)
      respond(ex, 200, JObject(
        "status" -> JString("success"),
        "project" -> JString(project),
        "docs" -> JLong(docs.size.toLong),
        "path" -> JString(root.toString)))
    } catch {
      case e: Exception =>
        respond(ex, 400, JObject("error" -> JString(String.valueOf(e.getMessage))))
    }
  }

  private def treeProject(ex: HttpExchange, project: String): Unit =
    runner.bookkeepRead(project) match {
      case None => notFound(ex)
      case Some((manifest, docs)) => respond(ex, 200, JObject(
        "project" -> JString(project),
        "manifest" -> JsonMethods.parse(manifest),
        "docs" -> JArray(docs.map(JString(_)).toList)))
    }

  private def treeDoc(ex: HttpExchange, project: String, doc: String): Unit =
    runner.bookkeepDoc(project, doc) match {
      case None => notFound(ex)
      case Some(content) => respond(ex, 200, JObject(
        "project" -> JString(project), "doc" -> JString(doc),
        "content" -> JString(content)))
    }

  private def treeCatalog(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    val runNodes = runs.asScala.toSeq.sortBy(_._1).map { case (runId, st) =>
      JObject(
        "run_id" -> JString(runId),
        "workflow" -> JString(workflowStatus(st)),
        "steps" -> JArray(st.spec.steps.map { s =>
          val imp = st.runner.impressionId(st.spec, s.id)
          // file stat only — a catalog browse must never launch R×S
          // Spark count jobs
          val path = st.runner.materializedPath(st.spec, s.id)
          JObject(
            "id" -> JString(s.id),
            "transform" -> JString(s.transform),
            "impression" -> JString(imp),
            "status" -> JString(st.runner.statusOf(st.spec, s.id).name),
            "deposited" -> JBool(path.isDefined),
            "path" -> JString(path.getOrElse("")))
        }.toList))
    }
    val sourceNodes = runner.sources.map(r => JObject(
      "name" -> JString(r.name), "impression" -> JString(r.impression),
      "path" -> JString(r.path), "format" -> JString(r.format)))
    respond(ex, 200, JObject(
      "sources" -> JArray(sourceNodes.toList),
      "runs" -> JArray(runNodes.toList),
      "bookkeep" -> JArray(runner.bookkeepProjects.map(JString(_)).toList)))
  }

  server.createContext("/impression-status/", (ex: HttpExchange) => {
    // status by raw impression id — the reference's content-addressed
    // status view, independent of any run id
    val imp = ex.getRequestURI.getPath.stripPrefix("/impression-status/")
    if (!imp.matches("[0-9a-f]{8,64}")) notFound(ex)
    else runner.statusByImpression(imp) match {
      case None => notFound(ex)
      case Some(r) => respond(ex, 200, JObject(
        "impression" -> JString(imp),
        "status" -> JString(r.status.name),
        "started_at" -> r.startedAt.map(JLong(_)).getOrElse(JNull),
        "finished_at" -> r.finishedAt.map(JLong(_)).getOrElse(JNull),
        "duration_ms" -> r.durationMs.map(JLong(_)).getOrElse(JNull)))
    }
  })

  server.createContext("/deposited/", (ex: HttpExchange) => {
    // direct materialization probe (the reference's /deposited, A34):
    // one file stat — never a Spark job
    resolve(ex.getRequestURI.getPath, "/deposited/") match {
      case None => notFound(ex)
      case Some((st, stepId)) => respond(ex, 200, JObject(
        "deposited" -> JBool(st.runner.materializedPath(st.spec, stepId).isDefined)))
    }
  })

  server.createContext("/logs/", (ex: HttpExchange) => {
    // the engine's per-impression "log": the durable status record with
    // timings (the reference serves runner log files, collect-logs/log-view;
    // Spark executor logs live with the cluster manager, and the per-step
    // durable record is the driver-side artifact that replaces them)
    resolve(ex.getRequestURI.getPath, "/logs/") match {
      case None => notFound(ex)
      case Some((st, stepId)) =>
        // impression-keyed record: a step NAME may recur across specs, and
        // the bare step-id view would return whichever ran last
        val run = st.runner.runOf(st.spec, stepId)
        respond(ex, 200, JObject(
          "step" -> JString(stepId),
          "impression" -> JString(st.runner.impressionId(st.spec, stepId)),
          "status" -> JString(run.status.name),
          "started_at" -> run.startedAt.map(JLong(_)).getOrElse(JNull),
          "finished_at" -> run.finishedAt.map(JLong(_)).getOrElse(JNull),
          "duration_ms" -> run.durationMs.map(JLong(_)).getOrElse(JNull)))
    }
  })

  server.createContext("/set-status/", (ex: HttpExchange) => {
    // manual status override (the reference's /set-job-status) restricted
    // to the re-admission states: raw re-admits (and purges the output so
    // execute recomputes), failed marks a step re-runnable without purge.
    // Arbitrary overrides (e.g. forging 'finished') are refused — the
    // engine's statuses are otherwise derived from real execution.
    ex.getRequestURI.getPath.stripPrefix("/set-status/").split("/") match {
      case Array(runId, stepId, "raw") =>
        Option(runs.get(runId)).filter(_.spec.byId.contains(stepId)) match {
          case None => notFound(ex)
          case Some(st) =>
            st.runner.reset(st.spec, stepId)
            respond(ex, 200, JObject("status" -> JString("raw")))
        }
      case Array(runId, stepId, "failed") =>
        Option(runs.get(runId)).filter(_.spec.byId.contains(stepId)) match {
          case None => notFound(ex)
          case Some(st) =>
            st.runner.kill(st.spec, stepId) // cancels if in flight, marks failed
            respond(ex, 200, JObject("status" -> JString("failed")))
        }
      case Array(_, _, other) =>
        respond(ex, 400, JObject("error" ->
          JString(s"only raw/failed may be forced, not '$other'")))
      case _ => notFound(ex)
    }
  })

  server.createContext("/vacuum", (ex: HttpExchange) => {
    // homekeep GC (A33, reference /homekeep): delete warehouse impressions
    // not referenced by any submitted run's spec
    import scala.jdk.CollectionConverters._
    val live = runs.values.asScala.map(_.spec).toSeq
    val deleted = runner.vacuum(live)
    respond(ex, 200, JObject(
      "deleted" -> JArray(deleted.map(JString(_)).toList)))
  })

  // ---- runner-profile registry (A31) ----------------------------------

  server.createContext("/register-runner", (ex: HttpExchange) => {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val j = JsonMethods.parse(body)
      val conf = j \ "conf" match {
        case o: JObject => o.extract[Map[String, String]]
        case _ => Map.empty[String, String]
      }
      val p = graft.core.SessionProfile(
        (j \ "name").extract[String],
        (j \ "master").extractOrElse[String]("local[32]"),
        conf,
        (j \ "backend_type").extractOrElse[String]("dry"))
      graft.core.SessionProfiles.register(p)
      respond(ex, 201, JObject("registered" -> JString(p.name)))
    } catch {
      case e: Exception =>
        respond(ex, 400, JObject("error" -> JString(String.valueOf(e.getMessage))))
    }
  })

  server.createContext("/runners-url", (ex: HttpExchange) =>
    // the reference lists each runner's url; ours is the master address
    respond(ex, 200, JObject("urls" -> JObject(
      graft.core.SessionProfiles.names.flatMap(n =>
        graft.core.SessionProfiles.get(n).map(p => n -> JString(p.master))): _*))))

  server.createContext("/runners", (ex: HttpExchange) =>
    respond(ex, 200, JObject("runners" -> JArray(
      graft.core.SessionProfiles.names.map(JString(_)).toList))))

  server.createContext("/runner-connection/", (ex: HttpExchange) => {
    val name = ex.getRequestURI.getPath.stripPrefix("/runner-connection/")
    if (graft.core.SessionProfiles.get(name).isEmpty) notFound(ex)
    else respond(ex, 200, JObject("status" -> JString(
      if (graft.core.SessionProfiles.probe(name)) "Connected" else "Unreachable")))
  })

  server.createContext("/remove-runner/", (ex: HttpExchange) => {
    val name = ex.getRequestURI.getPath.stripPrefix("/remove-runner/")
    if (graft.core.SessionProfiles.remove(name)) {
      profileRunners.remove(name)
      respond(ex, 200, JObject("removed" -> JString(name)))
    } else notFound(ex)
  })

  def start(): this.type = { server.start(); this }
  /** Stops serving and lets both pools' threads exit once their current
    * work is done: a submitted run still completes. */
  def stop(): Unit = {
    server.stop(0)
    handlerPool.shutdown()
    runPool.shutdown()
  }
}
