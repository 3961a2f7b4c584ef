package graft.core

import org.apache.spark.sql.SparkSession

/** One place for engine session tuning so Verify / Bench / tests agree.
  *
  * Cluster-scale posture: AQE on (runtime shuffle-partition coalescing,
  * skew-join splitting, dynamic broadcast), UTC session time, shuffle
  * partition count sized to the parallelism of the target (32 for the
  * local[32] harness; on a 1000-executor cluster this would be set to
  * ~2-3× total cores by conf, not code).
  *
  * Two fixed settings bound the driver's long-lived memory:
  *
  *  - `spark.sql.codegen.cache.maxEntries` = 240 (Spark's default is 100).
  *    Whole-stage code generation only pays when a compiled class is
  *    reused. The four operators of the benchmark's `operator_kernels`
  *    workload (l45, l35, l46b, tq2) need about 180 generated classes
  *    together; at 100 entries every pass evicted and recompiled 75–130
  *    of them with Janino, and the JIT then compiled the new classes
  *    again. The cache is Guava's with 4 segments that each evict on
  *    their own at cap/4, so the cap keeps a third of headroom over the
  *    working set. At 240 and at 256 alike the timed passes compile 0–4
  *    classes in all, as few as at a cap of 10,000. Each cached class
  *    costs about 19 KB of heap (bytecode, source and two class
  *    loaders), so the cap is not larger. Spark reads it once per JVM,
  *    when the first query generates code.
  *  - `spark.ui.retainedJobs`, `spark.ui.retainedStages` and
  *    `spark.sql.ui.retainedExecutions` = 5 (Spark keeps 1,000 of each).
  *    The UI is off and nothing in the program reads Spark's status
  *    store, so that history is heap spent on data no one reads: about
  *    14 KB per finished query with its jobs and stages. It pays for the
  *    larger cache in a long-lived server, where a leaf edit writes a
  *    new literal into its SQL, Spark inlines primitive literals into
  *    generated code, and the cache fills up with such dead classes.
  */
object Sessions {
  def tune(b: SparkSession.Builder, cpus: String): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS); read as long, normalized in Tables.events
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // µs fixtures write isAdjustedToUTC=false, which Spark 4 infers as
    // TIMESTAMP_NTZ by default — and NTZ breaks unix_micros(), watermarks,
    // and every event-time operator (the round-7 e*/t4-t6/t9/w7 failures).
    // Read them as TimestampType: value-preserving because the session
    // time zone is pinned to UTC above, which is also how the DuckDB
    // oracle renders the same column.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    // see the object doc: codegen cache sized to the operators' working
    // set, paid for with driver UI history that nothing reads
    .config("spark.sql.codegen.cache.maxEntries", 240)
    .config("spark.ui.retainedJobs", 5)
    .config("spark.ui.retainedStages", 5)
    .config("spark.sql.ui.retainedExecutions", 5)
    .config("spark.sql.autoBroadcastJoinThreshold", 32 * 1024 * 1024)
    // iterative ops (Graphs.connectedComponents) checkpoint per round when
    // a checkpoint dir is set; delete those files once the RDD is GC'd
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    // absolute PER-PROCESS warehouse path: saveAsTable (bucketed tables)
    // must not depend on the launcher's cwd being writable, and two JVMs
    // sharing one dir would delete each other's fixed-name tables
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse_${ProcessHandle.current().pid()}")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cpus]").appName("yukispark"), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The extensions-installed session — the standalone-library posture
    * (`spark.sql.extensions=graft.GraftExtensions`) materialized INSIDE a
    * harness whose base session was built plain. Built once per JVM over
    * the existing SparkContext (extensions are a session-build-time
    * property, so `newSession()` can't add them; a fresh builder over the
    * live context can) and cached. Declared queries that must run under
    * the optimizer extensions (w5c's TopKRewrite proof) resolve through
    * here, so verify/bench exercise the rule exactly as a user session
    * with the extension conf would. The default/active session slots are
    * saved and restored around the build — the base harness session stays
    * the JVM default. */
  @volatile private var extendedSession: Option[SparkSession] = None
  def extended(base: SparkSession): SparkSession = synchronized {
    extendedSession match {
      case Some(s) if !s.sparkContext.isStopped &&
          (s.sparkContext eq base.sparkContext) => s
      case _ =>
        val prevDefault = SparkSession.getDefaultSession
        val prevActive = SparkSession.getActiveSession
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
        val cpus = base.conf.get("spark.sql.shuffle.partitions", "32")
        val s = tune(SparkSession.builder().master(base.sparkContext.master)
            .appName("yukispark-ext"), cpus)
          .withExtensions(new graft.GraftExtensions)
          .getOrCreate()
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
        prevDefault.foreach(SparkSession.setDefaultSession)
        prevActive.foreach(SparkSession.setActiveSession)
        extendedSession = Some(s)
        s
    }
  }
}

/** A named execution backend — the engine's analogue of the reference's
  * runner registry entries (name/url/token/backend_type,
  * `/root/reference/Yuki/server/routes/runner.py:46-76`): here a runner is
  * a Spark master plus session conf, because "where a step executes" in
  * Spark is a session, not a container queue. `backendType` keeps the
  * reference's dry-vs-remote distinction: "dry" = in-process local master,
  * anything else names an external cluster profile. */
final case class SessionProfile(
    name: String,
    master: String,
    conf: Map[String, String] = Map.empty,
    backendType: String = "dry")

/** Registry of session profiles and per-profile session resolution (A31).
  *
  * JVM constraint, stated honestly: one JVM holds ONE SparkContext, so
  * profiles resolved after the first share its master and differ in
  * session-level SQL conf (isolated via `newSession()`). In a real
  * deployment each non-dry profile is its own driver (spark-submit /
  * Spark Connect endpoint) and `master` takes effect; the registry and
  * spec surface are identical either way. */
object SessionProfiles {
  import scala.collection.concurrent.TrieMap

  private val profiles = TrieMap[String, SessionProfile](
    "local" -> SessionProfile("local", "local[32]"))

  def register(p: SessionProfile): Unit = profiles.put(p.name, p)
  def remove(name: String): Boolean = profiles.remove(name).isDefined
  def get(name: String): Option[SessionProfile] = profiles.get(name)
  def names: Seq[String] = profiles.keys.toSeq.sorted

  /** Resolve a session for the profile: first resolution in the JVM builds
    * the context from the profile's master; later ones get an isolated
    * `newSession` (own SQL conf, shared context) with the profile's conf
    * applied — runtime-settable settings take effect per session. */
  def sessionFor(name: String): SparkSession = {
    val p = profiles.getOrElse(name, sys.error(s"unknown runner profile '$name'"))
    val base = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession) match {
      case Some(existing) => existing.newSession()
      case None =>
        Sessions.tune(SparkSession.builder().master(p.master)
          .appName(s"yukispark-${p.name}"), "32").getOrCreate()
    }
    p.conf.foreach { case (k, v) => base.conf.set(k, v) }
    base
  }

  /** Connection probe (the reference's `/runner-connection`): a dry
    * profile is always connected; others validate by resolving a session
    * and running a trivial job. */
  def probe(name: String): Boolean =
    get(name) match {
      case None => false
      case Some(p) if p.backendType == "dry" => true
      case Some(_) =>
        try { sessionFor(name).range(1).count() == 1L }
        catch { case scala.util.control.NonFatal(_) => false }
    }
}
