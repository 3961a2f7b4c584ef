package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import graft.SparkSpec

/** The durable status record is replaced, never rewritten in place: a
  * reader that polls while a step changes state always parses a whole
  * record. */
class StatusRecordSpec extends SparkSpec {

  test("a poller never sees a missing or cut-off record while the status cycles") {
    val wh = Files.createTempDirectory("graft_status_wh").toString
    val runner = new Runner(spark, Transforms.standard(), wh)
    // an impression no run has touched: statusByImpression has no live
    // state for it and reads the persisted record on every call
    val imp = "f" * 64
    val cycle = StepStatus.all
    runner.persistStatus(imp, StepRun(StepStatus.Raw))

    val done = new AtomicBoolean(false)
    val failure = new AtomicReference[Throwable]()
    val polls = new AtomicLong()
    val poller = new Thread(() => {
      try while (!done.get) {
        assert(runner.statusByImpression(imp).isDefined, "record missing mid-write")
        polls.incrementAndGet()
      } catch { case t: Throwable => failure.set(t) }
    })
    poller.start()
    // at least 5,000 transitions, and keep going until 1,000 polls overlap them
    var writes = 0
    try while ((writes < 5000 || polls.get < 1000) && failure.get == null) {
      val t = writes.toLong
      runner.persistStatus(imp, StepRun(cycle(writes % cycle.size), Some(t), Some(t + 1)))
      writes += 1
    } finally {
      done.set(true)
      poller.join()
    }
    Option(failure.get).foreach(t => fail(s"poller failed after ${polls.get} reads", t))
    assert(runner.statusByImpression(imp).map(_.status) == Some(cycle((writes - 1) % cycle.size)))
  }
}
