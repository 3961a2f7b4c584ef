package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval, epoch milliseconds. `group` is the Spark job
  * group (a pipeline step's impression id, or a kernel call's id); `bytes`
  * is a stage's shuffle bytes written. */
final case class Span(kind: String, name: String, group: String, start: Long, end: Long,
    bytes: Long = 0)

/** Spark-side counters and spans, taken only through public listener APIs.
  *
  * Untraced, it keeps the two counters every run needs: shuffle bytes
  * written (for `shuffle_mb`) and jobs started per job group (for the
  * cache-hit checks). Traced, it also adds up task metrics and records job,
  * stage and planning spans; these stay in memory until the run ends. */
final class Probe(traced: Boolean) extends SparkListener with QueryExecutionListener {
  private val shuffleWrite = new AtomicLong
  private val jobsPerGroup = new ConcurrentHashMap[String, AtomicLong]
  private val jobsStarted, jobsEnded = new AtomicLong
  private val jobs, stages, tasks, taskCpuNs, taskRunMs, shuffleRead, spill, input,
    planMs = new AtomicLong
  private val jobGroups = new ConcurrentHashMap[Int, String]
  private val jobStarts = new ConcurrentHashMap[Int, Long]
  private val stageGroups = new ConcurrentHashMap[Int, String]
  val spans = new ConcurrentLinkedQueue[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobsPerGroup.computeIfAbsent(group, _ => new AtomicLong).incrementAndGet()
    jobsStarted.incrementAndGet()
    if (traced) {
      jobs.incrementAndGet()
      jobGroups.put(e.jobId, group)
      jobStarts.put(e.jobId, e.time)
      e.stageIds.foreach(stageGroups.put(_, group))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (traced) {
      val start = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
      spans.add(Span("job", s"job${e.jobId}", Option(jobGroups.remove(e.jobId)).getOrElse(""),
        start, e.time))
    }
    jobsEnded.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      spans.add(Span("stage", s"stage${i.stageId}", Option(stageGroups.remove(i.stageId)).getOrElse(""),
        s, c, i.taskMetrics.shuffleWriteMetrics.bytesWritten))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (traced) {
        tasks.incrementAndGet()
        taskCpuNs.addAndGet(m.executorCpuTime)
        taskRunMs.addAndGet(m.executorRunTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (traced) qe.tracker.phases.foreach { case (phase, p) =>
      planMs.addAndGet(p.durationMs)
      spans.add(Span("plan", phase, "", p.startTimeMs, p.endTimeMs))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Monotonic counters of this process; a window's value is end - begin. */
  def counters(): Map[String, Long] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map(
      "epoch_ms" -> System.currentTimeMillis(),
      "cpu_ns" -> os.getProcessCpuTime,
      "gc_ms" -> gcMs,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "shuffle_write_bytes" -> shuffleWrite.get,
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "task_cpu_ns" -> taskCpuNs.get, "task_run_ms" -> taskRunMs.get,
      "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
      "input_bytes" -> input.get, "plan_ms" -> planMs.get)
  }

  def jobsByGroup: Map[String, Long] = jobsPerGroup.asScala.map { case (g, n) => g -> n.get }.toMap

  /** Wait until every started job's end event, and the task events before
    * it, have reached this listener. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (jobsEnded.get < jobsStarted.get && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    Thread.sleep(50) // query-execution callbacks trail the job end event
  }
}

object Probe {
  def install(spark: SparkSession, traced: Boolean): Probe = {
    val p = new Probe(traced)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Heap in use after full collections, in bytes. Spark's ContextCleaner
    * frees broadcast and shuffle blocks only after a collection has found
    * their owners unreachable, so this collects until the heap stops
    * shrinking. */
  def heapAfterGc(): Long = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (prev, cur, rounds) = (Long.MaxValue, collect(), 1)
    while (cur < prev - (1L << 20) && rounds < 8) {
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  /** Minimal JSON rendering for the harness's result files. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Span => json(Map("kind" -> s.kind, "name" -> s.name, "group" -> s.group,
      "start" -> s.start, "end" -> s.end, "bytes" -> s.bytes))
    case it: Iterable[_] => it.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def write(path: java.nio.file.Path, v: Any): Unit =
    java.nio.file.Files.writeString(path, json(v))
}
