package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.core.{Caches, Sessions}

/** The `operator_kernels` harness: timed passes over declared operators in
  * one process, one calling thread, `Caches.releaseAll` after every call
  * (as graft.Bench does).
  *
  * usage: perfbench.Kernels <fixtureDir> <outDir> <seed> <warmupPasses>
  *          <timedPasses> <traced 0|1> <sparkThreads> <op,op,...>
  *
  * The first warm-up pass writes each operator's result to
  * `<outDir>/results/<op>` for the oracle check; every other call runs
  * `count()`. Each pass runs the operators in an order drawn from the seed.
  * Writes `<outDir>/result.json` (and `<outDir>/oracle_sql.json`). */
object Kernels {
  def main(args: Array[String]): Unit = {
    val Array(fixtures, out, seed, warmup, passes, traced, threads, opList) = args
    val ops = opList.split(",").toSeq
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    Probe.write(outDir.resolve("oracle_sql.json"),
      ops.map(op => op -> SparkEntry.oracleSql(op)).toMap)

    val spark = Sessions.local(threads)
    val probe = Probe.install(spark, traced == "1")
    val sc = spark.sparkContext
    val rng = new scala.util.Random(seed.toLong)
    val calls = Seq.newBuilder[Map[String, Any]]
    val releases = Seq.newBuilder[Span]

    // one pass: its wall time, and the process CPU and JIT time it took
    def runPass(pass: Int, timed: Boolean, write: Boolean): Map[String, Any] = {
      val before = probe.counters()
      val t0 = System.nanoTime()
      rng.shuffle(ops).foreach { op =>
        val group = s"$op#$pass"
        sc.setJobGroup(group, op)
        val c0 = System.nanoTime()
        // a call that throws is recorded with rows = -1 and the pass goes on
        val rows = try {
          val df = SparkEntry.queries(op)(spark, fixtures)
          if (write) {
            val dir = outDir.resolve("results").resolve(op).toString
            df.write.mode("overwrite").parquet(dir)
            spark.read.parquet(dir).count()
          } else df.count()
        } catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); -1L }
        val ms = (System.nanoTime() - c0) / 1e6
        sc.clearJobGroup()
        val r0 = System.currentTimeMillis()
        Caches.releaseAll(spark)
        releases += Span("release", op, group, r0, System.currentTimeMillis())
        calls += Map("op" -> op, "pass" -> pass, "timed" -> timed, "ms" -> ms, "rows" -> rows)
      }
      val after = probe.counters()
      Map("ms" -> (System.nanoTime() - t0) / 1e6,
        "cpu_ms" -> (after("cpu_ns") - before("cpu_ns")) / 1e6,
        "jit_ms" -> (after("jit_ms") - before("jit_ms")),
        "codegen_compiles" -> (after("codegen_compiles") - before("codegen_compiles")))
    }

    val warmupPasses = (1 to warmup.toInt).map(p => runPass(p, timed = false, write = p == 1))
    probe.settle()
    val begin = probe.counters()
    val timedPasses = (1 to passes.toInt).map(p => runPass(warmup.toInt + p, timed = true, write = false))
    val end = probe.counters()
    probe.settle()
    val settled = probe.counters()
    val heap = Probe.heapAfterGc()
    import scala.jdk.CollectionConverters._
    Probe.write(outDir.resolve("result.json"), Map(
      "warmup_passes" -> warmupPasses, "timed_passes" -> timedPasses,
      "window" -> Map("begin" -> begin, "end" -> end, "settled" -> settled),
      "heap_bytes" -> heap,
      "persisted_rdds" -> sc.getPersistentRDDs.size,
      "task_slots" -> sc.defaultParallelism,
      "calls" -> calls.result(),
      "spans" -> (if (traced == "1") probe.spans.asScala.toSeq ++ releases.result() else Seq.empty)))
    spark.stop()
  }
}
