package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.LongType
import graft.core.Tables

/** Structured Streaming inventory (SURVEY.md §2 B10, T1-T8).
  *
  * Verification model (SURVEY §5.2): each query replays the events parquet
  * as a file-stream source, runs to completion under Trigger.AvailableNow,
  * and the final sink contents must equal the batch-equivalent aggregation
  * (which is what the DuckDB twin computes). Windows align to the epoch in
  * UTC, so the oracle buckets with integer epoch arithmetic.
  *
  * Scale posture: all aggregations are keyed (window/user), state is bounded
  * by watermarks where the mode allows eviction, and the stream-static join
  * broadcasts the dim side — the same shapes that run continuously on a
  * real cluster.
  */
object StreamingOps {
  import Relational.Q

  /** Stage a parquet table (single FILE or Spark-written DIRECTORY of
    * part-files, including nested non-partitioned layouts) into `stageDir`
    * as flat symlinks the non-recursive file-stream source can list. A
    * directory table is expanded to its `*.parquet` descendants (ascending
    * mtime, path-tiebroken, sequentially renamed so arrival order is
    * deterministic) — symlinking the directory itself stages ZERO files and
    * the stream silently reads nothing (VERDICT r12 #1). Fails loudly on a
    * directory with no part-files for the same reason, and on a
    * HIVE-PARTITIONED table (`key=value` path segments): flattening one
    * would silently DROP the partition columns the batch reader recovers
    * from the directory names — a wrong-data failure worse than the
    * wrong-shape one this staging fixes (ADVICE r13). */
  private[graft] def stageParquet(stageDir: java.nio.file.Path, table: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val src = Paths.get(table).toAbsolutePath
    if (Files.isDirectory(src)) {
      import scala.jdk.CollectionConverters._
      val parts = {
        val walk = Files.walk(src)
        try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .toVector
        finally walk.close()
      }.sortBy(p => (Files.getLastModifiedTime(p).toMillis, p.toString))
      require(parts.nonEmpty, s"no *.parquet files under directory table $src")
      parts.foreach { p =>
        // only DIRECTORY segments can carry hive partition keys — the leaf
        // filename is excluded, so a legal part file whose NAME contains
        // '=' (attempt_id=..., url-encoded names) stages fine (ADVICE r14)
        val rel = src.relativize(p)
        val partitioned = (0 until rel.getNameCount - 1)
          .exists(i => rel.getName(i).toString.contains('='))
        require(!partitioned,
          s"$src is hive-partitioned ($p) — flat staging would drop the " +
            "partition columns; stream from an unpartitioned copy instead")
      }
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.createSymbolicLink(stageDir.resolve(f"f$i%05d.parquet"), p)
      }
    } else Files.createSymbolicLink(
      stageDir.resolve(src.getFileName.toString), src)
  }

  /** File-stream source over the events parquet, with the same ns→µs
    * timestamp normalization as the batch loader. The file-stream source
    * lists a directory, so the table is staged into a FRESH
    * per-invocation scratch dir via [[stageParquet]] symlinks (no copy) —
    * a shared cross-process dir raced on check-then-create, went
    * permanently stale if the target moved (exists() follows links), and
    * could collide two dataset paths under lossy name sanitization. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(Tables.path(d, "events"))
    val stageDir = graft.core.TempDirs.scratch("stream_events")
    stageParquet(stageDir, Tables.path(d, "events"))
    val stream = s.readStream.schema(raw.schema).parquet(stageDir.toString)
    if (raw.schema("ts").dataType == LongType)
      // integer div — see Tables.events: double division is inexact at
      // nano-epoch magnitudes
      stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else stream
  }

  /** Transient checkpoint dir under the session-scoped scratch root
    * (deleted at JVM exit — repeated invocations don't fill java.io.tmpdir). */
  private def ckptDir(name: String): String =
    graft.core.TempDirs.scratch(s"ckpt_$name").toString

  /** Run a streaming frame to completion into a memory sink; return the
    * final table. AvailableNow keeps scheduling micro-batches (including
    * no-data batches for watermark-driven state eviction) until the source
    * is drained, then stops — so the sink holds the complete result.
    *
    * The memory sink is the VERIFICATION harness only: it collects the
    * final result on the driver so the oracle can compare it, which is fine
    * at fixture scale and wrong for production. The production sink shape
    * is t8's parquet writeStream (distributed, nothing on the driver). */
  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame =
    runAllToMemory(Seq((df, name, mode)))(name)

  /** Run several INDEPENDENT streaming frames to completion concurrently
    * and return their final memory tables by name. Actions are only
    * sequential because driver code calls them sequentially (optimization
    * guide §2.6): starting every AvailableNow query before awaiting any
    * lets the later queries' micro-batches back-fill cores the earlier
    * ones' tails leave idle, instead of paying the full micro-batch
    * scheduling machinery end-to-end per query. The queries share nothing
    * but the session, so results and per-name state metrics are identical
    * to the sequential form (t17's two-stream parity is pinned in
    * StreamingSpec). The shuffle-partition conf is set once before any
    * start and restored after all terminate — a per-query set/restore
    * would race: the restore of a finished query could flip the state
    * layout a still-starting sibling is about to fix at first checkpoint. */
  private def runAllToMemory(qs: Seq[(DataFrame, String, String)])
      : Map[String, DataFrame] = {
    val s = qs.head._1.sparkSession
    // State-store partition sizing: a streaming query's state layout is
    // fixed by the shuffle-partition count at first checkpoint. The replay
    // fixtures carry ~150 keys, so 32 stores are mostly empty overhead;
    // real deployments size this to key cardinality / cores via the same
    // conf. Scoped to the query (restored after) since these replays own
    // fresh checkpoints.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      s.conf.getOption("graft.stream.statePartitions").getOrElse("8"))
    // scale-evidence channel (VERDICT r11 #2): peak state-store footprint
    // across the run's micro-batches — wall time alone can't show that a
    // stateful op's state is BOUNDED; memoryUsedBytes across batch count
    // can. Accumulated via a listener, NOT q.recentProgress: that is a
    // ring buffer capped at numRecentProgressUpdates (default 100), which
    // silently under-reports peaks on runs with more micro-batches (e.g.
    // the 10x rehearsal under maxFilesPerTrigger=1) — ADVICE r12.
    final class Acc {
      var peakBytes = 0L; var peakRows = 0L; var batches = 0
    }
    val accs = qs.map { case (_, name, _) => name -> new Acc }.toMap
    // every match is by NAME (set on the writer before start): a fast
    // AvailableNow query can dispatch its terminated event before a
    // post-start `watchedId = q.id` assignment runs, which would leave the
    // latch uncounted and stall the 30 s await on EVERY query (ADVICE r13).
    // The started event precedes terminated in per-listener order, so
    // capturing the id there would also work — name matching needs no
    // mutable handoff at all. Terminated events don't carry the name, so
    // ids are captured from the started events (concurrent map: several
    // queries' events interleave on the bus when a batch runs together).
    val watchedIds =
      scala.collection.concurrent.TrieMap.empty[java.util.UUID, String]
    val done = new java.util.concurrent.CountDownLatch(qs.size)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name != null && accs.contains(e.name)) watchedIds.put(e.id, e.name)
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        accs.get(e.progress.name).foreach { acc =>
          acc.synchronized {
            acc.batches += 1
            Option(e.progress.stateOperators).toSeq.flatten.foreach { so =>
              acc.peakBytes = math.max(acc.peakBytes, so.memoryUsedBytes)
              acc.peakRows = math.max(acc.peakRows, so.numRowsTotal)
            }
          }
        }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (watchedIds.contains(e.id)) done.countDown()
    }
    s.streams.addListener(listener)
    try {
      // start EVERY query before awaiting any (§2.6 back-fill; a single
      // entry degenerates to the old start-then-await sequence exactly)
      val started = qs.map { case (df, name, mode) =>
        val ckpt = ckptDir(name)
        df.writeStream
          .outputMode(mode).format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      started.foreach(_.awaitTermination())
      // listener events are async on the bus but per-listener ordered, so
      // the terminated event arriving means every progress event for this
      // run has been counted; a timed-out await means the metrics below may
      // be incomplete — say so instead of passing silently (ADVICE r13)
      if (!done.await(30, java.util.concurrent.TimeUnit.SECONDS))
        System.err.println(s"[streaming] ${qs.map(_._2).mkString(",")}: a " +
          "terminated event was not seen within 30 s — state metrics may " +
          "under-count this run")
      accs.foreach { case (name, acc) =>
        if (acc.peakRows > 0 || acc.peakBytes > 0)
          stateMetrics(name) =
            StateMetrics(acc.peakBytes, acc.peakRows, acc.batches)
      }
    } finally {
      s.streams.removeListener(listener)
      s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    qs.map { case (_, name, _) => name -> s.table(name) }.toMap
  }

  /** Peak state-store metrics of the last completed run per sink name —
    * written by [[runToMemory]], read by the streaming scale rehearsal
    * (tools/StreamRehearsal.scala) and StreamingStateSpec. */
  final case class StateMetrics(peakStateBytes: Long, peakStateRows: Long,
      batches: Int)
  private[graft] val stateMetrics =
    scala.collection.concurrent.TrieMap.empty[String, StateMetrics]

  /** T1: tumbling 1-hour window aggregation (complete mode). */
  val t1Tumbling: Q = (s, d) => {
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Relational.cents(col("value"))).as("value_cents"))
    runToMemory(agg, "t1_sink", "complete")
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"),
        (col("value_cents") / 100.0).as("total_value"))
  }

  /** T2: sliding window (1 hour long, 30 min slide) — every event lands in
    * exactly two windows. */
  val t2Sliding: Q = (s, d) => {
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
    runToMemory(agg, "t2_sink", "complete")
      .select(unix_timestamp(col("window.start")).as("win_start"), col("n"))
  }

  /** T3: session windows (30-minute gap) per user. */
  val t3Session: Q = (s, d) => {
    val agg = eventsStream(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(agg, "t3_sink", "complete")
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("sess_start"),
        col("n_events"))
  }

  /** T4: watermark + append mode — only windows finalized by the watermark
    * (window.end ≤ max(ts) − 2 h) are emitted; the oracle encodes exactly
    * that contract. */
  val t4WatermarkAppend: Q = (s, d) => {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToMemory(agg, "t4_sink", "append")
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"))
  }

  /** T5: streaming dedup on a composite key. Emits first arrival per key.
    * dropDuplicatesWithinWatermark — NOT plain dropDuplicates, whose state
    * is only evicted when the event-time column is part of the keys; with
    * (user_id, event_type) keys the watermark would never evict and state
    * grows with every key ever seen. WithinWatermark keys state eviction on
    * the watermark itself: bounded state, and identical results whenever
    * duplicates arrive within the watermark delay (true by construction on
    * the finite replay; the documented semantics for continuous runs). */
  val t5Dedup: Q = (s, d) => {
    val deduped = eventsStream(s, d)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToMemory(deduped, "t5_sink", "append")
  }

  case class EvRow(user_id: Long, ts_us: Long, event_id: Long,
                           event_type: String, cents: Long)
  case class UserState(n: Long, cents: Long, lastTsUs: Long,
                               lastEventId: Long, lastType: String)
  case class UserSummary(user_id: Long, n_events: Long,
                                 total_value: Double, last_type: String)

  /** T6: arbitrary stateful processing — flatMapGroupsWithState keeps a
    * running per-user count / exact cents total / latest event (by ts,
    * event_id). Update mode; after the replay the latest row per user must
    * equal the batch summary. */
  val t6Stateful: Q = (s, d) => {
    val ev = eventsStream(s, d)
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        Relational.cents(col("value")).as("cents"))
      .as(Encoders.product[EvRow])

    val fn = (user: Long, rows: Iterator[EvRow], state: GroupState[UserState]) => {
      val st0 = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue, Long.MinValue, ""))
      val st = rows.foldLeft(st0) { (acc, r) =>
        val newer = r.ts_us > acc.lastTsUs ||
          (r.ts_us == acc.lastTsUs && r.event_id > acc.lastEventId)
        UserState(acc.n + 1, acc.cents + r.cents,
          if (newer) r.ts_us else acc.lastTsUs,
          if (newer) r.event_id else acc.lastEventId,
          if (newer) r.event_type else acc.lastType)
      }
      state.update(st)
      Iterator(UserSummary(user, st.n, st.cents / 100.0, st.lastType))
    }

    val updated = ev.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)(
        Encoders.product[UserState], Encoders.product[UserSummary])

    // Update mode may emit one row per user per micro-batch; keep the final
    // state = the row with the max n_events per user. Measured cost of this
    // post-hoc dedup (round-2, sf0.1): t6 benches the SAME as the stateless
    // t1 on the same source (~1.4 s both), i.e. the dedup window over the
    // per-batch emissions (~150 rows/batch) is free and the whole cost is
    // micro-batch startup + source scan — restructuring to
    // append-on-timeout would drop tail groups under AvailableNow (the
    // watermark can't pass the last events) for no measurable win.
    val all = runToMemory(updated.toDF(), "t6_sink", "update")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
    all.withColumn("rk", row_number().over(w)).where(col("rk") === 1).drop("rk")
  }

  /** T7: stream-static join — streaming events against the customer dim,
    * aggregated by market segment.
    *
    * The static side of a stream-static join is RE-EXECUTED every
    * micro-batch (Spark re-plans the batch side for snapshot freshness), so
    * the dim is persisted for the query's lifetime: each micro-batch
    * re-reads the in-memory copy instead of re-scanning parquet.
    * Round-1 bench flagged t7 at 10.1 s driver-side; measured locally the
    * query is ~1.3 s with micro-batch startup dominating — the persist
    * removes the only per-batch re-execution and is the correct shape for a
    * long-running deployment where the dim is consulted every batch.
    * The join carries NO static broadcast hint (r17 audit: customer SCALES
    * with SF, and an explicit hint is always honored — at corpus scale it
    * would force the whole dim through the driver every micro-batch);
    * per-batch planning broadcasts the cached dim off its stats at fixture
    * scale and a real deployment's outgrown dim shuffles keyed instead,
    * which stream-static inner joins support. */
  val t7StreamStaticJoin: Q = (s, d) => {
    val dimSrc = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")).persist()
    try {
      val dim = dimSrc
      val agg = eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(Relational.cents(col("value"))).as("cents"))
      runToMemory(agg, "t7_sink", "complete")
        .select(col("c_mktsegment"), col("n"), (col("cents") / 100.0).as("total_value"))
    } finally dimSrc.unpersist(blocking = false)
  }

  /** T8: streaming parquet file sink (append) + batch re-read — the
    * stream-out/stage-in path of a production pipeline. */
  val t8FileSink: Q = (s, d) => {
    val out = graft.core.TempDirs.scratch("t8_out").toString
    val ckpt = ckptDir("t8")
    val q = eventsStream(s, d)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        Relational.cents(col("value")).as("cents"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), (sum(col("cents")) / 100.0).as("spent"))
  }

  /** T9: stream-stream inner join — each purchase joined to signups of the
    * same user within the preceding 24 h. Both sides watermarked (1 h) and
    * the join carries an event-time range predicate, so Spark can bound
    * BOTH state stores: a signup row is dropped once no future purchase
    * could reach back to it — the canonical bounded-state stream-stream
    * join shape. Oracle: the same interval join in batch. */
  val t9StreamStreamJoin: Q = (s, d) => {
    val ev = eventsStream(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = ev.where(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(signups,
      col("p_user") === col("s_user") &&
      col("s_ts") <= col("p_ts") &&
      col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
    val out = runToMemory(joined, "t9_sink", "append")
    out.select(col("p_id"), col("s_id"), col("p_user").as("user_id"),
      unix_timestamp(col("p_ts")).as("purchase_sec"),
      unix_timestamp(col("s_ts")).as("signup_sec"))
  }

  /** T10: foreachBatch warehouse ingest — the custom-sink surface none of
    * t1–t9 exercises: each micro-batch lands in a parquet warehouse dir
    * PARTITIONED BY its micro-batch id with dynamic partition overwrite,
    * so a restarted query that replays a batch (crash between the write
    * and the checkpoint commit) overwrites that batch's own partition
    * instead of appending duplicates — genuine replay idempotence, not
    * just a provenance stamp. This is the production shape for continuous
    * ingest into an engine warehouse; the verified result is a batch
    * aggregate over the landed table. */
  val t10ForeachBatchIngest: Q = (s, d) => t10Ingest(s, d)._1

  /** t10 internals; returns (result, landing dir) so tests can inspect the
    * batch-stamped table itself. */
  private[graft] def t10Ingest(s: SparkSession, d: String): (DataFrame, String) = {
    val out = graft.core.TempDirs.scratch("t10_out").toString
    val ckpt = ckptDir("t10")
    val q = eventsStream(s, d)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        Relational.cents(col("value")).as("cents"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // overwrite ONLY this batch's partition: replayed batches rewrite
        // themselves (idempotent); other batches' partitions are untouched
        batch.withColumn("_ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_ingest_batch")
          .parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the landed table carries _ingest_batch (asserted in StreamingSpec);
    // the oracle-checked result is the batch aggregate over it
    (s.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum(col("cents")) / 100.0).as("spent")), out)
  }

  /** Documents-table file stream (the corpus-ingest analogue of
    * [[eventsStream]]): same fresh symlink staging, no timestamp column
    * to normalize. */
  private def documentsStream(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(Tables.path(d, "documents"))
    val stageDir = graft.core.TempDirs.scratch("stream_docs")
    stageParquet(stageDir, Tables.path(d, "documents"))
    s.readStream.schema(raw.schema).parquet(stageDir.toString)
  }

  /** t11's surface-quality score over whitespace tokens (l11's formula on
    * raw `split`, so the DuckDB twin is plain `string_split` arithmetic).
    * Shared with StreamingSpec's injected-duplicate batch twin. */
  private[graft] def docQuality(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val t = split(textCol, " ")
    val nTok = size(t).cast("double")
    round(
      least(nTok / 100.0, lit(1.0)) * 0.5 +
        (size(array_distinct(t)).cast("double") / nTok) * 0.3 +
        (size(filter(t, w => w.isin(lit("the"), lit("a"), lit("of"), lit("and"))))
          .cast("double") / nTok) * 0.2, 6)
  }

  /** T11: STREAMING corpus ingest — the LLM-pipeline gates applied
    * on-arrival instead of in a nightly batch: exact dedup on the content
    * hash (`dropDuplicates` — new near-line documents drop against
    * already-seen content), the l11 surface-quality gate, and a running
    * per-source rollup. Batch-equivalence oracle: the same dedup + gate +
    * rollup in SQL over the static table.
    *
    * State note: content-hash dedup state here is unbounded by design
    * (exact corpus dedup NEEDS full history); a production deployment
    * either accepts the keyed state (hashes are 32 bytes/doc) or bounds
    * it with `withWatermark` to dedup-within-horizon as t5 does for
    * events. The quality gate is stateless; the rollup is standard
    * streaming aggregation state (one row per source). */
  val t11DocIngest: Q = (s, d) => {
    val agg = documentsStream(s, d)
      .withColumn("h", sha2(col("text").cast("binary"), 256))
      .dropDuplicates("h")
      .withColumn("quality", docQuality(col("text")))
      .where(col("quality") >= 0.4)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
    runToMemory(agg, "t11_sink", "complete")
  }

  /** Orders-table file stream (the CDC-feed analogue of [[eventsStream]]):
    * same fresh symlink staging. `extraFiles` lets tests stage a MULTI-file
    * source (one micro-batch per file under maxFilesPerTrigger=1). */
  private[graft] def ordersStream(s: SparkSession, d: String,
      extraFiles: Seq[java.nio.file.Path] = Nil,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val raw = s.read.parquet(Tables.path(d, "orders"))
    val stageDir = graft.core.TempDirs.scratch("stream_orders")
    if (extraFiles.isEmpty)
      stageParquet(stageDir, Tables.path(d, "orders"))
    else extraFiles.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.createSymbolicLink(
        stageDir.resolve(f"b$i%03d.parquet"), p.toAbsolutePath)
    }
    val reader = s.readStream.schema(raw.schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(stageDir.toString)
  }

  /** T12: STREAMING CDC apply — continuous MERGE/upsert, the production
    * shape for keeping a warehouse table current from a change feed
    * (Structured Streaming + merge, the streaming twin of s13's one-shot
    * merge). Each micro-batch derives its change rows (a row-local
    * function — see [[Relational.cdcChanges]]) and merges them into the
    * current snapshot with latest-version-wins semantics; snapshots are
    * versioned per batch (v0 = seed, v(batchId+1) after each apply), so a
    * replayed batch after a crash re-writes ITS version instead of
    * double-applying — the same idempotence posture as t10, via
    * write-versioning instead of partition overwrite.
    *
    * Determinism across batching: each source row yields at most one
    * change row and change keys are disjoint across rows, so applying the
    * changes in ANY batch partition order reaches s13's one-shot result —
    * which is why the s13-shaped oracle can hash-check a streaming query
    * (asserted batch-vs-stream in StreamingSpec with a forced 2-batch
    * split). */
  val t12StreamUpsert: Q = (s, d) => t12Upsert(ordersStream(s, d), s, d)

  private[graft] def t12Upsert(changes: DataFrame, s: SparkSession,
      d: String): DataFrame = {
    val wh = graft.core.TempDirs.scratch("t12_wh").toString
    Relational.cdcSnapshot(Tables.orders(s, d))
      .write.mode("overwrite").parquet(s"$wh/v0")
    @volatile var latest = 0L
    val q = changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val merged = Relational.mergeUpsertFrames(
          s.read.parquet(s"$wh/v$latest"), Relational.cdcChanges(batch),
          "o_orderkey", "v", "del")
        merged.write.mode("overwrite").parquet(s"$wh/v${batchId + 1}")
        latest = batchId + 1
      }
      .option("checkpointLocation", ckptDir("t12"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$wh/v$latest")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Relational.dsum(col("o_totalprice")).as("price_sum"))
  }

  /** T13: streaming data-quality gate with a QUARANTINE (dead-letter)
    * sink — the production ingest pattern p9 audits after the fact, run
    * ON ARRIVAL instead: every micro-batch routes rows through row-local
    * validation; passing rows append to the warehouse table, failing rows
    * land in a quarantine table WITH their rejection reason, so bad data
    * is preserved for repair instead of poisoning the table or being
    * dropped silently. Routing is a pure row predicate (no state, no
    * watermark), so any batch split reaches the same landed tables —
    * which is what lets a batch-shaped oracle check a streaming query
    * (2-batch split asserted in StreamingSpec). Replay posture: both
    * sinks are fresh per run here; production appends carry t10's
    * batch-id stamp for replay-idempotent dedup.
    *
    * The fixture is clean, so corruption is INJECTED row-locally on
    * arrival (%23 keys flip the price sign, %29 keys get an unknown
    * status) — the gate must quarantine exactly those rows. */
  val t13StreamQuarantine: Q = (s, d) => t13Quarantine(ordersStream(s, d), s, d)

  private[graft] def t13Quarantine(orders: DataFrame, s: SparkSession,
      d: String): DataFrame = {
    val base = graft.core.TempDirs.scratch("t13_gate").toString
    val q = orders.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val arrived = batch
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 23 === 0, -col("o_totalprice"))
              .otherwise(col("o_totalprice")))
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 29 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
        val routed = arrived.withColumn("reason",
          when(col("o_totalprice") <= 0, "range:o_totalprice")
            .when(!col("o_orderstatus").isin("O", "F", "P"),
              "accepted:o_orderstatus"))
        routed.where(col("reason").isNull).drop("reason")
          .write.mode("append").parquet(s"$base/main")
        routed.where(col("reason").isNotNull)
          .write.mode("append").parquet(s"$base/quarantine")
      }
      .option("checkpointLocation", ckptDir("t13"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/main")
      .select(lit("main").as("route"), lit("ok").as("reason"), col("o_totalprice"))
      .unionByName(s.read.parquet(s"$base/quarantine")
        .select(lit("quarantine").as("route"), col("reason"), col("o_totalprice")))
      .groupBy(col("route"), col("reason"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Relational.cents(col("o_totalprice"))).as("cents"))
  }

  /** T14: streaming approximate-distinct rollup — unique users per
    * (hour, event_type) via approx_count_distinct, i.e. an HLL++ sketch
    * maintained INSIDE the streaming aggregation state. This is the
    * continuous-dashboard shape ("live uniques per window") where exact
    * countDistinct is unsupported in streaming and per-key user sets
    * would grow with cardinality; the sketch keeps state at a fixed few
    * KB per (window, type) key no matter how many users arrive.
    *
    * The declared result joins the streamed estimates against the
    * batch-exact counts (window starts are epoch-aligned, so the batch
    * twin buckets by integer µs division) and emits the error-band
    * boolean — the property-form oracle contract (g11's rule: DuckDB
    * recomputes the exact side and asserts the bound TRUE). */
  val t14StreamApproxUsers: Q = (s, d) => {
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
    val streamed = runToMemory(agg, "t14_sink", "complete")
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("approx_users"))
    val exact = Tables.events(s, d)
      .groupBy((floor(unix_micros(col("ts")) / 3600000000L) * 3600L).as("win_start"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    streamed.join(exact, Seq("win_start", "event_type"))
      .select(col("win_start"), col("event_type"), col("n_exact"),
        (abs(col("approx_users") - col("n_exact")) <=
          // 3-sigma band for rsd=0.05 plus a small-n absolute floor: the
          // hour windows here hold ~20-40 users, where a 2-user absolute
          // cap is BELOW one HLL sigma — sf0.1 showed honest estimates
          // missing it by up to 4 users (round-8 fix; max observed rel
          // error 0.167, p99.9 0.133)
          greatest(col("n_exact").cast("double") * 0.15, lit(5.0))).as("approx_ok"))
  }

  /** T15: streaming top-k with BOUNDED state — the live "top 3 highest-
    * value events per type" leaderboard. Exact streaming top-k via sort
    * is unsupported (no sorting on unbounded streams) and collect_list
    * state grows with the stream; the native [[graft.functions.TopKSketch]]
    * aggregate holds exactly ≤ k (value, id) pairs per key in the state
    * store — a custom TypedImperativeAggregate living inside streaming
    * state, merged per micro-batch like any partial. Complete-mode memory
    * sink, availableNow; final state equals the batch QUALIFY twin (the
    * B10 batch-equivalence rule), which DuckDB checks. */
  private[graft] def t15TopkOver(ev: DataFrame, sink: String): DataFrame = {
    graft.functions.TopKSketch.register(ev.sparkSession)
    val agg = ev
      .groupBy(col("event_type"))
      .agg(expr("topk_sketch(value, event_id, 3)").as("top"))
    runToMemory(agg, sink, "complete")
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("event_type"), col("t.id").as("event_id"),
        col("t.value").as("value"), (col("pos") + 1).cast("int").as("rn"))
  }

  val t15StreamTopk: Q = (s, d) => t15TopkOver(eventsStream(s, d), "t15_sink")

  case class PmRow(user_id: Long, ts_us: Long, event_id: Long, ch: String)
  case class PmState(dfa: Int, hits: Long)
  case class PmOut(user_id: Long, n_matches: Long)

  /** T16: streaming sequence-pattern matching with BOUNDED state — e14's
    * CEP twin. A regex over a user's whole history needs the history;
    * compiling the fixed pattern (`v[vc]*p`) to its 2-state DFA needs
    * exactly ONE int of state per user, carried in `GroupState` across
    * micro-batches with the cumulative match count. Within a batch the
    * group's rows sort by (ts, id) — the same total order e14 pins; the
    * one CEP assumption (batch boundaries respect event time, i.e.
    * watermarked in-order replay) is pinned by the forced TIME-split test
    * in StreamingSpec, where the automaton must resume mid-run across
    * the boundary. DFA ≡ leftmost non-overlapping regex matching because
    * the character class excludes the terminator (the e14 agreement
    * class): a run is viable iff the automaton is in state 1. */
  private[graft] def t16PatternOver(ev: DataFrame, sink: String): DataFrame = {
    val typed = ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), substring(col("event_type"), 1, 1).as("ch"))
      .as(Encoders.product[PmRow])
    val fn = (user: Long, rows: Iterator[PmRow], state: GroupState[PmState]) => {
      val st0 = state.getOption.getOrElse(PmState(0, 0L))
      val st = rows.toArray.sortBy(r => (r.ts_us, r.event_id)).foldLeft(st0) {
        (acc, r) =>
          acc.dfa match {
            case 0 => PmState(if (r.ch == "v") 1 else 0, acc.hits)
            case _ => r.ch match {
              case "p" => PmState(0, acc.hits + 1)
              case "v" | "c" => PmState(1, acc.hits)
              case _ => PmState(0, acc.hits)
            }
          }
      }
      state.update(st)
      Iterator(PmOut(user, st.hits))
    }
    val updated = typed.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)(
        Encoders.product[PmState], Encoders.product[PmOut])
    // update mode emits once per user per batch; hits are monotone, so
    // the final state is the max — the t6 posture
    runToMemory(updated.toDF(), sink, "update")
      .groupBy(col("user_id")).agg(max(col("n_matches")).as("n_matches"))
      .where(col("n_matches") > 0)
  }

  val t16StreamPattern: Q = (s, d) => t16PatternOver(eventsStream(s, d), "t16_sink")

  /** T17: streaming freshness/completeness monitor — p10's live twin,
    * the "did a stream silently stop?" alarm run ON ARRIVAL instead of
    * by a batch sweep. Per event_type the state is four scalars (count,
    * first/last arrival, active-hour approximation via the hour-distinct
    * count) — a plain streaming aggregation in complete mode, state
    * bounded by the type alphabet × hour span like the batch op. The
    * staleness column compares against the corpus max arrival, which in
    * the streaming shape is a second tiny aggregate joined after the
    * sink (alphabet-sized rows, batch-side). */
  val t17StreamFreshness: Q = (s, d) => {
    val hourUs = 3600L * 1000000
    val ev = eventsStream(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("u"))
      .withColumn("h", floor(col("u") / hourUs))
    val agg = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("u")).as("first_us"), max(col("u")).as("last_us"),
        min(col("h")).as("h0"), max(col("h")).as("h1"))
    // exact DISTINCT aggregates are unsupported inside a streaming agg
    // (the t14 lesson) and two chained streaming aggs are too — the
    // hour-distinct side runs as its OWN query: streaming dropDuplicates
    // on (type, hour) then count, state bounded by alphabet × hour span
    // (exactly the batch op's state bound, so no watermark needed)
    val hours = eventsStream(s, d)
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / hourUs).as("h"))
      .dropDuplicates("event_type", "h")
      .groupBy(col("event_type")).agg(count(lit(1)).as("active_hours"))
    // the two replays are INDEPENDENT streams over the same staged source —
    // started together so the hours query back-fills the main aggregate's
    // micro-batch tail (guide §2.6) instead of re-paying the full streaming
    // machinery sequentially; results are identical either way (parity with
    // the sequential batch twin stays pinned by the oracle hash)
    val both = runAllToMemory(Seq(
      (agg, "t17_sink", "complete"), (hours, "t17_hours_sink", "complete")))
    val streamed = both("t17_sink")
      .join(both("t17_hours_sink"), Seq("event_type"))
    val corpus = streamed.agg(max(col("h1")).as("corpus_h"))
    streamed.crossJoin(broadcast(corpus))
      .select(col("event_type"), col("n_events"), col("first_us"),
        col("last_us"), (col("h1") - col("h0") + 1).as("span_hours"),
        col("active_hours"),
        round(col("active_hours").cast("double") / (col("h1") - col("h0") + 1), 6)
          .as("completeness"),
        (col("corpus_h") - col("h1")).as("staleness_hours"))
  }

  val queries: Map[String, Q] = Map(
    "t17_stream_freshness" -> t17StreamFreshness,
    "t16_stream_pattern" -> t16StreamPattern,
    "t15_stream_topk" -> t15StreamTopk,
    "t14_stream_approx_users" -> t14StreamApproxUsers,
    "t11_doc_ingest" -> t11DocIngest,
    "t12_stream_upsert" -> t12StreamUpsert,
    "t13_stream_quarantine" -> t13StreamQuarantine,
    "t9_stream_stream_join" -> t9StreamStreamJoin,
    "t1_tumbling_window" -> t1Tumbling,
    "t2_sliding_window" -> t2Sliding,
    "t3_session_window" -> t3Session,
    "t4_watermark_append" -> t4WatermarkAppend,
    "t5_stream_dedup" -> t5Dedup,
    "t6_stateful" -> t6Stateful,
    "t7_stream_static_join" -> t7StreamStaticJoin,
    "t8_file_sink" -> t8FileSink,
    "t10_foreachbatch_ingest" -> t10ForeachBatchIngest
  )

  val oracle: Map[String, String] = Map(
    // the live monitor's final state must equal p10's batch sweep exactly
    "t17_stream_freshness" ->
      """WITH b AS (SELECT event_type, epoch_us(ts) AS u,
                           epoch_us(ts) // 3600000000 AS h FROM events),
            st AS (SELECT event_type, count(*) AS n_events, min(u) AS first_us,
                          max(u) AS last_us, min(h) AS h0, max(h) AS h1
                   FROM b GROUP BY 1),
            act AS (SELECT event_type, count(*) AS active_hours
                    FROM (SELECT DISTINCT event_type, h FROM b) GROUP BY 1),
            corp AS (SELECT max(h) AS corpus_h FROM b)
         SELECT st.event_type, CAST(n_events AS BIGINT) AS n_events,
                first_us, last_us,
                CAST(h1 - h0 + 1 AS BIGINT) AS span_hours,
                CAST(active_hours AS BIGINT) AS active_hours,
                round(active_hours * 1.0 / (h1 - h0 + 1), 6) AS completeness,
                CAST(corpus_h - h1 AS BIGINT) AS staleness_hours
         FROM st JOIN act USING (event_type) CROSS JOIN corp""",
    // the DFA's final counts must equal e14's batch regex counts exactly
    "t16_stream_pattern" ->
      """WITH sq AS (SELECT user_id,
                            string_agg(substr(event_type, 1, 1), ''
                                       ORDER BY epoch_us(ts), event_id) AS sq
                     FROM events GROUP BY 1)
         SELECT user_id,
                CAST(len(regexp_extract_all(sq, 'v[vc]*p')) AS BIGINT) AS n_matches
         FROM sq WHERE len(regexp_extract_all(sq, 'v[vc]*p')) > 0""",
    // final streaming state must equal the batch top-3 per type exactly
    "t15_stream_topk" ->
      """SELECT event_type, event_id, value,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY value DESC, event_id) AS rn
         FROM events QUALIFY rn <= 3""",
    "t14_stream_approx_users" ->
      """SELECT CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT) AS win_start,
                event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                TRUE AS approx_ok
         FROM events GROUP BY 1, 2""",
    // routing is row-local, so the landed tables equal one batch pass;
    // CASE order mirrors the gate's when-chain (range outranks accepted)
    "t13_stream_quarantine" ->
      """WITH t AS (SELECT CASE WHEN o_orderkey % 23 = 0 THEN -o_totalprice
                               ELSE o_totalprice END AS pr,
                          CASE WHEN o_orderkey % 29 = 0 THEN 'X'
                               ELSE o_orderstatus END AS st
                   FROM orders),
            r AS (SELECT CASE WHEN pr <= 0 OR st NOT IN ('O','F','P')
                              THEN 'quarantine' ELSE 'main' END AS route,
                         CASE WHEN pr <= 0 THEN 'range:o_totalprice'
                              WHEN st NOT IN ('O','F','P') THEN 'accepted:o_orderstatus'
                              ELSE 'ok' END AS reason,
                         pr FROM t)
         SELECT route, reason, count(*) AS n_rows,
                CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM r GROUP BY 1, 2""",
    // the streaming apply must land exactly where s13's one-shot merge
    // lands (change derivation is row-local, keys disjoint across rows)
    "t12_stream_upsert" ->
      """WITH merged AS (
           SELECT CASE WHEN o_orderkey % 13 = 0 AND o_orderkey % 17 <> 0
                       THEN 'U' ELSE o_orderstatus END AS st,
                  CASE WHEN o_orderkey % 13 = 0 AND o_orderkey % 17 <> 0
                       THEN o_totalprice * 2.0 ELSE o_totalprice END AS pr
           FROM orders WHERE o_orderkey % 17 <> 0
           UNION ALL
           SELECT 'N' AS st, 100.0 AS pr FROM orders WHERE o_orderkey % 29 = 0)
         SELECT st AS o_orderstatus, count(*) AS n_orders,
                CAST(sum(CAST(pr AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
         FROM merged GROUP BY 1""",
    // exact-text duplicates don't exist in the fixture, so dedup-by-hash
    // keeps every doc and the rk=1 window is form, not selection — it
    // encodes which copy WOULD survive (first arrival = doc_id order on a
    // single-file stream) if a future fixture carried any
    "t11_doc_ingest" ->
      """WITH d AS (SELECT *,
                           row_number() OVER (PARTITION BY sha256(text)
                                              ORDER BY doc_id) AS rk,
                           string_split(text, ' ') AS t,
                           len(string_split(text, ' ')) AS n
                    FROM documents),
            g AS (SELECT source, t, n FROM d
                  WHERE rk = 1
                    AND round(least(n / 100.0, 1.0) * 0.5
                          + (CAST(len(list_distinct(t)) AS DOUBLE) / n) * 0.3
                          + (CAST(len(list_filter(t, w -> w IN ('the', 'a', 'of', 'and'))) AS DOUBLE) / n) * 0.2,
                          6) >= 0.4)
         SELECT source, count(*) AS n_docs,
                CAST(sum(n) AS BIGINT) AS total_tokens
         FROM g GROUP BY source""",
    "t9_stream_stream_join" ->
      """SELECT p.event_id AS p_id, s.event_id AS s_id, p.user_id,
                CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec,
                CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_sec
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'signup') s
           ON p.user_id = s.user_id
          AND s.ts <= p.ts
          AND s.ts >= p.ts - INTERVAL 24 HOUR""",
    "t1_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
                event_type, count(*) AS n,
                sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
         FROM events GROUP BY 1, 2""",
    "t2_sliding_window" ->
      """SELECT win_start, count(*) AS n FROM (
           SELECT CAST(unnest([floor(epoch(ts) / 1800) * 1800,
                               floor(epoch(ts) / 1800) * 1800 - 1800]) AS BIGINT) AS win_start
           FROM events)
         GROUP BY 1""",
    "t3_session_window" ->
      """WITH marked AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sessions AS (
           SELECT user_id, ts,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
           FROM marked)
         SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
                count(*) AS n_events
         FROM sessions GROUP BY user_id, sess_id""",
    "t4_watermark_append" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
                event_type, count(*) AS n
         FROM events
         GROUP BY 1, 2
         HAVING win_start + 3600 <= (SELECT floor(epoch(max(ts)) - 7200) FROM events)""",
    "t5_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "t6_stateful" ->
      """WITH last_ev AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rk
           FROM events)
         SELECT e.user_id, count(*) AS n_events,
                sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0 AS total_value,
                max(l.event_type) AS last_type
         FROM events e
         JOIN (SELECT user_id, event_type FROM last_ev WHERE rk = 1) l
           ON e.user_id = l.user_id
         GROUP BY 1""",
    "t7_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n,
                sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""",
    "t8_file_sink" ->
      """SELECT user_id, count(*) AS n_purchases,
                sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS spent
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1""",
    "t10_foreachbatch_ingest" ->
      """SELECT user_id, count(*) AS n_purchases,
                sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS spent
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1"""
  )
}
