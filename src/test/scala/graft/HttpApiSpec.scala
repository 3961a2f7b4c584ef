package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.api.HttpApi
import graft.pipeline.{Runner, Transforms}

/** End-to-end over the HTTP facade: submit a pipeline, poll status to
  * completion, collect the output manifest, purge — the reference server's
  * observable loop (execute → status → collect) on the Spark runner. */
class HttpApiSpec extends SparkSpec {
  private lazy val client = HttpClient.newHttpClient()

  private def get(url: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(url: String, body: String = ""): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("malformed specs are parse errors, not silent no-ops") {
    // missing/typo'd steps key
    assertThrows[RuntimeException](graft.api.SpecJson.parse("""{"Steps": []}"""))
    // empty steps
    assertThrows[RuntimeException](graft.api.SpecJson.parse("""{"steps": []}"""))
    // wrong-shaped inputs (array instead of object)
    assertThrows[Exception](graft.api.SpecJson.parse(
      """{"steps": [{"id": "a", "transform": "identity",
                     "inputs": [["x", "b"]]}]}"""))
  }

  test("cycle outside the requested roots errors cleanly, not StackOverflow") {
    import graft.pipeline.{PipelineSpec, StepSpec}
    val spec = PipelineSpec(Seq(
      StepSpec("a", "identity", Map("x" -> "b")),
      StepSpec("b", "identity", Map("x" -> "a")),
      StepSpec("c", "source", params = Map("dir" -> sfDir, "table" -> "region"))))
    val e = intercept[IllegalArgumentException](spec.impressionIds)
    assert(e.getMessage.contains("cycle"))
  }

  test("spec without explicit roots defaults to all steps") {
    // regression: json4s extracts a missing field to an EMPTY Seq, which
    // silently executed nothing
    val (spec, roots) = graft.api.SpecJson.parse(
      """{"steps": [{"id": "a", "transform": "source",
                     "params": {"dir": "x", "table": "y"}}]}""")
    assert(roots == Seq("a") && spec.steps.map(_.id) == Seq("a"))
  }

  test("concurrent runs with a shared step name keep independent statuses") {
    val wh = Files.createTempDirectory("graft_api_wh2").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      def spec(table: String) = s"""{
        "steps": [{"id": "load", "transform": "source",
                   "params": {"dir": "$sfDir", "table": "$table"}}]}"""
      // submit two runs back-to-back; both specs name their step "load"
      val ids = Seq("region", "nation").map { t =>
        "\"run_id\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(post(s"$base/run", spec(t))._2).get.group(1)
      }
      val deadline = System.currentTimeMillis() + 60000
      def done(id: String) = get(s"$base/status/$id")._2.contains("\"workflow\":\"finished\"")
      while (!ids.forall(done) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      ids.foreach { id =>
        val body = get(s"$base/status/$id")._2
        assert(body.contains("\"load\":\"finished\""), s"run $id: $body")
      }
      // distinct impressions, both collectable
      val rows = ids.map(id =>
        "\"rows\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(get(s"$base/collect/$id/load")._2).get.group(1).toLong)
      assert(rows == Seq(5L, 25L), s"got $rows")
    } finally api.stop()
  }

  private def awaitFinished(base: String, runId: String): Unit = {
    var status = ""
    val deadline = System.currentTimeMillis() + 60000
    while (status != "finished" && System.currentTimeMillis() < deadline) {
      status = "\"workflow\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(get(s"$base/status/$runId")._2).get.group(1)
      if (status == "failed") fail(s"run failed: ${get(s"$base/status/$runId")._2}")
      Thread.sleep(100)
    }
    assert(status == "finished")
  }
  private def runIdOf(body: String): String =
    "\"run_id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(body).get.group(1)

  test("ingest -> run referencing the source -> export output round-trip (A1-A3)") {
    val wh = Files.createTempDirectory("graft_api_wh3").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      // stage an external dataset OUTSIDE the warehouse
      val ext = Files.createTempDirectory("graft_ext").toString
      import spark.implicits._
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
        .toDF("k", "v").write.mode("overwrite").parquet(s"$ext/mydata")

      val (ic, ingBody) = post(s"$base/ingest",
        s"""{"name": "mydata", "path": "$ext/mydata"}""")
      assert(ic == 201 && ingBody.contains("\"impression\""), ingBody)
      assert(get(s"$base/sources")._2.contains("\"mydata\""))

      // a pipeline step reads the registered source by name
      val spec = """{
        "steps": [
          {"id": "ext", "transform": "ingested", "params": {"name": "mydata"}},
          {"id": "agg", "transform": "sql", "inputs": {"t": "ext"},
           "params": {"sql": "SELECT count(*) AS n, min(v) AS first_v FROM t"}}
        ], "roots": ["agg"]}"""
      val runId = runIdOf(post(s"$base/run", spec)._2)
      awaitFinished(base, runId)
      assert(get(s"$base/collect/$runId/agg")._2.contains("\"rows\":1"))

      // export: listing then raw bytes of a part file
      val (lc, listing) = get(s"$base/export/$runId/agg")
      assert(lc == 200, listing)
      val part = "\"(part-[^\"]+\\.parquet)\"".r
        .findFirstMatchIn(listing).get.group(1)
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/export/$runId/agg/$part")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200 && resp.body().length > 0)
      // PAR1 magic: we got real parquet bytes back
      assert(new String(resp.body().take(4), "US-ASCII") == "PAR1")
      // traversal is rejected
      assert(get(s"$base/export/$runId/agg/..%2F..%2Fetc")._1 == 404)

      // outputs + impression-path + preview (A7/A34/A27)
      assert(get(s"$base/outputs/$runId/agg")._2.contains(part))
      val (pc, pathBody) = get(s"$base/impression-path/$runId/agg")
      assert(pc == 200 && pathBody.contains("\"deposited\":true"), pathBody)
      assert(get(s"$base/preview/$runId/agg")._2.contains("alpha"))

      // catalog tree aggregates runs and sources (A29-A30)
      val tree = get(s"$base/tree")._2
      assert(tree.contains("\"mydata\"") && tree.contains(runId)
        && tree.contains("\"deposited\":true"), tree)

      // per-step re-run (A5): purge then run just the agg step
      assert(post(s"$base/purge/$runId/agg")._1 == 200)
      val rerunId = runIdOf(post(s"$base/run-step/$runId/agg")._2)
      awaitFinished(base, rerunId)
      assert(get(s"$base/collect/$runId/agg")._2.contains("\"rows\":1"))

      // deposited probe + durable log record (A34/A33 surface)
      assert(get(s"$base/deposited/$runId/agg")._2.contains("\"deposited\":true"))
      // impression-centric status: look the step up by its content id alone
      val impId = "\"impression\"\\s*:\\s*\"([0-9a-f]+)\"".r
        .findFirstMatchIn(get(s"$base/impression-path/$runId/agg")._2).get.group(1)
      assert(get(s"$base/impression-status/$impId")._2.contains("\"status\":\"finished\""))
      assert(get(s"$base/impression-status/ffffffffffffffff")._1 == 404)
      val logBody = get(s"$base/logs/$runId/agg")._2
      assert(logBody.contains("\"status\":\"finished\"")
        && logBody.contains("duration_ms"), logBody)

      // guarded manual status: raw re-admits, forging finished is refused
      assert(post(s"$base/set-status/$runId/agg/raw")._1 == 200)
      assert(get(s"$base/deposited/$runId/agg")._2.contains("\"deposited\":false"))
      assert(post(s"$base/set-status/$runId/agg/finished")._1 == 400)

      // vacuum deletes nothing while every impression is referenced
      assert(post(s"$base/vacuum")._2.contains("\"deleted\":[]"))

      // run listing + server vitals
      assert(get(s"$base/workflows")._2.contains(runId))
      val vitals = get(s"$base/dite-status")._2
      assert(vitals.contains("\"runs\":") && vitals.contains("\"sources\":1"), vitals)

      // the persisted physical plan (A12) is servable after a re-run
      awaitFinished(base, runIdOf(post(s"$base/run-step/$runId/agg")._2))
      val planBody = get(s"$base/plan/$runId/agg")._2
      assert(planBody.contains("Physical Plan"), planBody)
    } finally api.stop()
  }

  test("binary-dir ingest: opaque files register and run as a source (A1, rawdata)") {
    // the reference registers arbitrary opaque files as rawdata sources
    // (upload.py:21-34); format=binary serves them as binaryFile rows
    val wh = Files.createTempDirectory("graft_api_whb").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      // a nested tree of opaque files (recursiveFileLookup is the default
      // for binary sources — rawdata uploads arrive as trees)
      val ext = Files.createTempDirectory("graft_bin")
      Files.write(ext.resolve("a.jpg"), Array[Byte](-1, -40, -1, 1, 2, 3))
      Files.write(ext.resolve("b.wav"), "RIFFxxxx".getBytes("US-ASCII"))
      val sub = Files.createDirectories(ext.resolve("nested"))
      Files.write(sub.resolve("c.jpg"), Array[Byte](-1, -40, 9))

      val (ic, ingBody) = post(s"$base/ingest",
        s"""{"name": "rawmedia", "path": "$ext", "format": "binary"}""")
      assert(ic == 201 && ingBody.contains("\"impression\""), ingBody)
      assert(ingBody.contains("binary"), ingBody)

      // a pipeline step aggregates the opaque files by extension — the
      // (ext, count, bytes) manifest shape; content is genuinely read
      // (sum of payload bytes must equal sum of metadata lengths)
      val spec = """{
        "steps": [
          {"id": "raw", "transform": "ingested", "params": {"name": "rawmedia"}},
          {"id": "m", "transform": "sql", "inputs": {"t": "raw"},
           "params": {"sql": "SELECT regexp_extract(path, '\\\\.([a-z0-9]+)$', 1) AS ext, count(*) AS n, sum(length) AS bytes, sum(length(content)) AS content_bytes FROM t GROUP BY 1 ORDER BY 1"}}
        ], "roots": ["m"]}"""
      val runId = runIdOf(post(s"$base/run", spec)._2)
      awaitFinished(base, runId)
      assert(get(s"$base/collect/$runId/m")._2.contains("\"rows\":2"))
      val preview = get(s"$base/preview/$runId/m")._2
      // jpg: 2 files, 6+3=9 bytes; wav: 1 file, 8 bytes — content bytes
      // equal metadata bytes, so every file was read in full
      assert(preview.contains("jpg,2,9,9") && preview.contains("wav,1,8,8"),
        preview)
    } finally api.stop()
  }

  test("runner-profile registry: register, list, probe, run under profile (A31)") {
    val wh = Files.createTempDirectory("graft_api_wh4").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh), 0,
      Some(s => new Runner(s, Transforms.standard(), wh))).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      assert(get(s"$base/runners")._2.contains("local"))
      val (rc, _) = post(s"$base/register-runner",
        """{"name": "smallshuffle", "master": "local[32]",
            "conf": {"spark.sql.shuffle.partitions": "4"}, "backend_type": "dry"}""")
      assert(rc == 201)
      assert(get(s"$base/runners")._2.contains("smallshuffle"))
      assert(get(s"$base/runners-url")._2.contains("local[32]"))
      assert(get(s"$base/runner-connection/smallshuffle")._2.contains("Connected"))
      assert(get(s"$base/runner-connection/ghost")._1 == 404)

      // the same spec executes under the registered profile's session
      val spec = s"""{
        "steps": [{"id": "load", "transform": "source",
                   "params": {"dir": "$sfDir", "table": "region"}}],
        "profile": "smallshuffle"}"""
      val runId = runIdOf(post(s"$base/run", spec)._2)
      awaitFinished(base, runId)
      assert(get(s"$base/collect/$runId/load")._2.contains("\"rows\":5"))

      assert(post(s"$base/remove-runner/smallshuffle")._1 == 200)
      assert(get(s"$base/runners")._2.contains("smallshuffle") == false)
      assert(post(s"$base/remove-runner/smallshuffle")._1 == 404)
    } finally api.stop()
  }

  test("GET /transforms lists the registered operator vocabulary") {
    val wh = Files.createTempDirectory("graft_api_tr").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    try {
      val (code, body) = get(s"http://localhost:${api.boundPort}/transforms")
      assert(code == 200, body)
      for (t <- Seq("source", "sql", "query", "skyline", "funnel_steps",
          "entropy", "dsir", "ingested"))
        assert(body.contains(s""""$t""""), s"missing $t in $body")
    } finally api.stop()
  }

  test("ping / run / status / collect / purge round-trip") {
    val wh = Files.createTempDirectory("graft_api_wh").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      assert(get(s"$base/ping")._2.contains("Connected"))

      val spec = s"""{
        "steps": [
          {"id": "src", "transform": "source",
           "params": {"dir": "$sfDir", "table": "nation"}},
          {"id": "agg", "transform": "sql", "inputs": {"t": "src"},
           "params": {"sql": "SELECT n_regionkey, count(*) AS n FROM t GROUP BY 1"}}
        ],
        "roots": ["agg"]
      }"""
      val (code, runBody) = post(s"$base/run", spec)
      assert(code == 202, runBody)
      val runId = "\"run_id\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(runBody).get.group(1)

      var status = ""
      val deadline = System.currentTimeMillis() + 60000
      while (status != "finished" && System.currentTimeMillis() < deadline) {
        status = "\"workflow\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(get(s"$base/status/$runId")._2).get.group(1)
        if (status == "failed") fail(s"pipeline failed: ${get(s"$base/status/$runId")._2}")
        Thread.sleep(100)
      }
      assert(status == "finished")
      assert(get(s"$base/status/$runId")._2.contains("\"agg\":\"finished\""))

      val (cc, collectBody) = get(s"$base/collect/$runId/agg")
      assert(cc == 200 && collectBody.contains("\"rows\":5"), collectBody)

      // unknown step id must 404, not drop the connection
      assert(get(s"$base/collect/$runId/typo")._1 == 404)
      assert(post(s"$base/purge/$runId/typo")._1 == 404)

      assert(post(s"$base/purge/$runId/agg")._1 == 200)
      assert(get(s"$base/collect/$runId/agg")._1 == 404)

      // purge resets the sticky terminal status, so a re-run recomputes
      val (c2, runBody2) = post(s"$base/run", spec)
      assert(c2 == 202, runBody2)
      val runId2 = "\"run_id\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(runBody2).get.group(1)
      var st2 = ""
      val dl2 = System.currentTimeMillis() + 60000
      while (st2 != "finished" && System.currentTimeMillis() < dl2) {
        st2 = "\"workflow\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(get(s"$base/status/$runId2")._2).get.group(1)
        if (st2 == "failed") fail("re-run after purge failed")
        Thread.sleep(100)
      }
      assert(get(s"$base/collect/$runId2/agg")._2.contains("\"rows\":5"))

      assert(get(s"$base/status/nope")._1 == 404)
      assert(post(s"$base/run", "{bad json")._1 == 400)
    } finally api.stop()
  }

  test("/collect starts no Spark job; /preview reads the output") {
    val wh = Files.createTempDirectory("graft_api_wh_jobs").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      val runId = runIdOf(post(s"$base/run", s"""{
        "steps": [
          {"id": "src", "transform": "source",
           "params": {"dir": "$sfDir", "table": "region"}},
          {"id": "names", "transform": "sql", "inputs": {"t": "src"},
           "params": {"sql": "SELECT r_name FROM t"}}]}""")._2)
      awaitFinished(base, runId)
      // the handler runs on a server thread, so count every job the
      // context starts while the request is served
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val (code, body) =
        try get(s"$base/collect/$runId/names")
        finally {
          org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      assert(code == 200 && body.contains("\"rows\":5") &&
        body.contains("r_name STRING"), body)
      assert(jobs.get == 0, s"/collect started ${jobs.get} jobs")
      assert(get(s"$base/preview/$runId/names")._2.contains("AMERICA"))
    } finally api.stop()
  }

  test("keep-alive: requests on one reused connection do not wait for a delayed ACK") {
    val wh = Files.createTempDirectory("graft_api_wh_ka").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val socket = new java.net.Socket("127.0.0.1", api.boundPort)
    try {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(socket.getInputStream))
      val out = socket.getOutputStream
      val request = "GET /ping HTTP/1.1\r\nHost: localhost\r\n\r\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      // one request and its whole response, in milliseconds
      def ping(): Double = {
        val t0 = System.nanoTime()
        out.write(request)
        out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) head += in.readUnsignedByte().toChar
        val length = "(?i)content-length:\\s*(\\d+)".r
          .findFirstMatchIn(head).get.group(1).toInt
        assert(new String(in.readNBytes(length)).contains("Connected"))
        (System.nanoTime() - t0) / 1e6
      }
      ping()
      val ms = Seq.fill(10)(ping()).sorted
      val median = (ms(4) + ms(5)) / 2
      assert(median < 20, s"median ${median} ms over one connection: $ms")
    } finally { socket.close(); api.stop() }
  }

  test("stop() leaves no non-daemon thread of the server alive, so the JVM can exit") {
    def nonDaemon(): Set[Thread] = {
      val ts = new Array[Thread](Thread.activeCount() * 2 + 16)
      ts.take(Thread.enumerate(ts)).filter(t => t.isAlive && !t.isDaemon).toSet
    }
    val before = nonDaemon()
    val wh = Files.createTempDirectory("graft_api_wh_stop").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      assert(get(s"$base/ping")._2.contains("Connected"))
      val (code, body) = post(s"$base/run", s"""{"steps": [{"id": "src",
        "transform": "source", "params": {"dir": "$sfDir", "table": "nation"}}]}""")
      assert(code == 202, body)
      awaitFinished(base, runIdOf(body))
    } finally api.stop()
    // the pools' workers exit once their current task is done
    val deadline = System.currentTimeMillis() + 10000
    var left = nonDaemon() -- before
    while (left.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      left = nonDaemon() -- before
    }
    assert(left.isEmpty, s"alive after stop(): ${left.map(_.getName).toSeq.sorted}")
  }

  private def postBytes(url: String, body: Array[Byte]): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** In-memory tar.gz of (name -> content) text entries. */
  private def tarGz(entries: (String, String)*): Array[Byte] = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val bos = new java.io.ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new java.util.zip.GZIPOutputStream(bos))
    entries.foreach { case (name, content) =>
      val b = content.getBytes("UTF-8")
      val e = new TarArchiveEntry(name)
      e.setSize(b.length.toLong)
      tar.putArchiveEntry(e)
      tar.write(b)
      tar.closeArchiveEntry()
    }
    tar.close()
    bos.toByteArray
  }

  test("byte-level upload -> run -> export without pre-staged files (A1)") {
    val wh = Files.createTempDirectory("graft_api_wh5").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      // the ONLY bytes the server ever sees arrive over HTTP — nothing is
      // staged on its filesystem beforehand (the round-2/3 gap: /ingest
      // required a server-readable path)
      val archive = tarGz(
        "part1.csv" -> "k,v\n1,alpha\n2,beta\n",
        "part2.csv" -> "k,v\n3,gamma\n")
      val (uc, upBody) = postBytes(s"$base/upload?name=up1&format=csv", archive)
      assert(uc == 201 && upBody.contains("\"files\":2"), upBody)
      assert(get(s"$base/sources")._2.contains("\"up1\""))

      val spec = """{
        "steps": [
          {"id": "ext", "transform": "ingested", "params": {"name": "up1"}},
          {"id": "agg", "transform": "sql", "inputs": {"t": "ext"},
           "params": {"sql": "SELECT count(*) AS n, min(v) AS first_v FROM t"}}
        ], "roots": ["agg"]}"""
      val runId = runIdOf(post(s"$base/run", spec)._2)
      awaitFinished(base, runId)
      assert(get(s"$base/collect/$runId/agg")._2.contains("\"rows\":1"))
      assert(get(s"$base/preview/$runId/agg")._2.contains("3"), "count over 3 uploaded rows")
      val listing = get(s"$base/export/$runId/agg")._2
      assert(listing.contains("part-"), listing)

      // cross-runner collect dispatch over the live registry (A24): the
      // single finished runner contributes a results manifest
      val sweep = get(s"$base/collect-all/$runId/agg")._2
      assert(sweep.contains("\"action\":\"results\"")
        && sweep.contains("\"runner\":\"default\"")
        && sweep.contains("\"rows\":1"), sweep)
      assert(get(s"$base/collect-all/$runId/typo")._1 == 404)

      // re-upload with NEW content replaces, never merges: one file now,
      // and a fresh impression (content fingerprint changed)
      val imp1 = "\"impression\"\\s*:\\s*\"([0-9a-f]+)\"".r
        .findFirstMatchIn(upBody).get.group(1)
      val (uc2, upBody2) = postBytes(s"$base/upload?name=up1&format=csv",
        tarGz("only.csv" -> "k,v\n9,delta\n"))
      assert(uc2 == 201 && upBody2.contains("\"files\":1"), upBody2)
      val imp2 = "\"impression\"\\s*:\\s*\"([0-9a-f]+)\"".r
        .findFirstMatchIn(upBody2).get.group(1)
      assert(imp1 != imp2, "re-upload with changed bytes must mint a new impression")

      // tar-slip is refused, not extracted
      val (tc, tbody) = postBytes(s"$base/upload?name=evil",
        tarGz("../escape.txt" -> "x"))
      assert(tc == 400 && tbody.contains("escapes"), tbody)
      // an empty archive is an error, not an empty source
      assert(postBytes(s"$base/upload?name=empty", tarGz())._1 == 400)
      assert(postBytes(s"$base/upload", tarGz("a.csv" -> "k\n1\n"))._1 == 400)
      // name=".." resolves the staging dir to the WAREHOUSE ROOT — it must
      // be refused before the wipe-first staging delete runs (the charset
      // regex alone accepted it)
      assert(postBytes(s"$base/upload?name=..", tarGz("a.csv" -> "k\n1\n"))._1 == 400)
      assert(postBytes(s"$base/upload?name=.", tarGz("a.csv" -> "k\n1\n"))._1 == 400)
      assert(get(s"$base/sources")._2.contains("\"up1\""),
        "warehouse must survive the rejected traversal uploads")
    } finally api.stop()
  }

  test("bookkeep write/sync round-trip: POST /tree rewrites, GET reads back (A30)") {
    val wh = Files.createTempDirectory("graft_api_wh6").toString
    val api = new HttpApi(new Runner(spark, Transforms.standard(), wh)).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      val (c1, b1) = post(s"$base/tree",
        """{"project": "proj1",
            "manifest": {"title": "first", "steps": ["a", "b"]},
            "docs": {"README.md": "hello bookkeep",
                     "sub/notes.txt": "nested doc"}}""")
      assert(c1 == 200 && b1.contains("success") && b1.contains("\"docs\":2"), b1)

      // read back: project view, nested doc content, catalog listing
      val proj = get(s"$base/tree/proj1")._2
      assert(proj.contains("\"title\":\"first\"")
        && proj.contains("README.md") && proj.contains("sub/notes.txt"), proj)
      assert(get(s"$base/tree/proj1/README.md")._2.contains("hello bookkeep"))
      assert(get(s"$base/tree/proj1/sub/notes.txt")._2.contains("nested doc"))
      assert(get(s"$base/tree")._2.contains("\"bookkeep\":[\"proj1\"]"))

      // sync is wipe-and-rewrite (the reference rmtree's first): docs from
      // the first manifest must NOT survive the second
      val (c2, _) = post(s"$base/tree",
        """{"project": "proj1", "manifest": {"title": "second"},
            "docs": {"ONLY.md": "fresh"}}""")
      assert(c2 == 200)
      assert(get(s"$base/tree/proj1/README.md")._1 == 404)
      assert(get(s"$base/tree/proj1/ONLY.md")._2.contains("fresh"))
      assert(get(s"$base/tree/proj1")._2.contains("\"title\":\"second\""))

      // guards: traversal in doc paths, missing manifest, unknown project
      assert(post(s"$base/tree",
        """{"project": "p2", "manifest": {}, "docs": {"../evil": "x"}}""")._1 == 400)
      assert(post(s"$base/tree", """{"project": "p3"}""")._1 == 400)
      assert(get(s"$base/tree/ghost")._1 == 404)
      // project ".." resolves the bookkeep root to the WAREHOUSE ROOT and
      // the write is wipe-first — must be refused, and the surviving proj1
      // proves nothing was deleted
      assert(post(s"$base/tree", """{"project": "..", "manifest": {}}""")._1 == 400)
      assert(post(s"$base/tree", """{"project": ".", "manifest": {}}""")._1 == 400)
      assert(get(s"$base/tree/proj1/ONLY.md")._2.contains("fresh"))
    } finally api.stop()
  }

  test("cross-runner collect dispatch: finished -> results, failed -> logs (A24)") {
    import graft.pipeline.{ImpressionStorage, PipelineSpec, StepSpec, StepStatus}
    // two runner profiles over SEPARATE warehouses (the reference's
    // per-machine job dirs): the same step finished on one and failed on
    // the other; one sweep dispatches each by its own status
    val ra = new Runner(spark, Transforms.standard(),
      Files.createTempDirectory("graft_is_a").toString)
    val rb = new Runner(spark, Transforms.standard(),
      Files.createTempDirectory("graft_is_b").toString)
    val spec = PipelineSpec(Seq(StepSpec("load", "source",
      params = Map("dir" -> sfDir, "table" -> "region"))))
    ra.execute(spec, Seq("load")) // finished on runner A
    rb.kill(spec, "load")         // failed on runner B
    val storage = new ImpressionStorage(Seq("alpha" -> ra, "beta" -> rb))

    val byName = storage.collect(spec, "load").map(d => d.runner -> d).toMap
    assert(byName("alpha").action == "results"
      && byName("alpha").artifact.exists(_.rows == 5L), byName("alpha").toString)
    assert(byName("beta").action == "logs"
      && byName("beta").artifact.isEmpty
      && byName("beta").record.isDefined, byName("beta").toString)

    // outputs-only narrows to finished; logs covers both terminal states
    assert(storage.collectOutputs(spec, "load").map(_.runner) == Seq("alpha"))
    assert(storage.collectLogs(spec, "load").map(_.runner).sorted == Seq("alpha", "beta"))
    assert(storage.getInfo(spec, "load").startsWith("alpha "))

    // kill sweeps EVERY runner, but the sticky-terminal machine holds:
    // alpha's FINISHED output stays finished (nothing in flight to kill),
    // beta stays failed — no runner's valid materialization is demoted
    storage.kill(spec, "load")
    assert(ra.statusOf(spec, "load") == StepStatus.Finished)
    assert(rb.statusOf(spec, "load") == StepStatus.Failed)
  }
}
