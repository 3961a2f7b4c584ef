package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkEntry
import graft.api.HttpApi
import graft.core.Sessions
import graft.pipeline.{Runner, Transforms}

/** The process under test for the pipeline workloads: the program's HTTP
  * facade over a Runner, built as `graft.api.Cli serve` builds it but with
  * the Spark thread count set by the caller, plus a second loopback port
  * the benchmark uses to read this process's counters.
  *
  * usage: perfbench.Server <warehouse> <sparkThreads> <traced 0|1> <portFile>
  *
  * Control routes: `/begin` (window start counters), `/counters` (the
  * same, without waiting for the listeners), `/end` (settles the
  * listeners, collects garbage; counters, heap, persisted RDDs, spans),
  * `/jobs` (jobs per job group), `/oracle?q=a,b` (declared oracle SQL),
  * `/stop`. */
object Server {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, threads, traced, portFile) = args
    val spark = Sessions.local(threads)
    val probe = Probe.install(spark, traced == "1")
    val runner = new Runner(spark, Transforms.standard(), warehouse)
    val api = new HttpApi(runner).start()
    val stop = new CountDownLatch(1)

    val control = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def route(path: String)(body: HttpExchange => Any): Unit =
      control.createContext(path, (ex: HttpExchange) => {
        val bytes = Probe.json(body(ex)).getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
        if (path == "/stop") stop.countDown()
      })
    route("/begin") { _ => probe.settle(); probe.counters() }
    route("/end") { _ =>
      val end = probe.counters()
      probe.settle()
      Map("end" -> end, "settled" -> probe.counters(),
        "heap_bytes" -> Probe.heapAfterGc(),
        "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "task_slots" -> spark.sparkContext.defaultParallelism,
        "spans" -> probe.spans.asScala.toSeq)
    }
    route("/counters") { _ => probe.counters() }
    route("/jobs") { _ => probe.settle(); probe.jobsByGroup }
    route("/oracle") { ex =>
      val q = Option(ex.getRequestURI.getQuery).getOrElse("").stripPrefix("q=")
      q.split(",").filter(_.nonEmpty).map(n => n -> SparkEntry.oracleSql(n)).toMap
    }
    route("/stop") { _ => Map("stopping" -> true) } // the handler above then releases main
    control.start()

    Files.writeString(Paths.get(portFile), s"${api.boundPort} ${control.getAddress.getPort}\n")
    stop.await()
    control.stop(0)
    api.stop()
    spark.stop()
    sys.exit(0)
  }
}
