package graft.core

import java.nio.file.{Files, Path, Paths}

/** Session-scoped scratch space. All transient dirs (streaming checkpoints,
  * sink round-trip outputs, stream staging) live under ONE per-process root
  * in `java.io.tmpdir` that a shutdown hook deletes — repeated query
  * invocations in a long session no longer accumulate checkpoint/WAL/state
  * dirs until the backing filesystem fills. A caller who wants the
  * checkpoints on tmpfs passes `-Djava.io.tmpdir=/dev/shm`. */
object TempDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory(
      Paths.get(System.getProperty("java.io.tmpdir")), "graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r)))
    r
  }

  /** A fresh unique dir under the session root (no cross-process sharing,
    * no check-then-create races, no name collisions). */
  def scratch(prefix: String): Path =
    Files.createTempDirectory(root, s"${prefix}_")

  /** A STABLE per-key dir under the session root for repeated-invocation
    * writers (layout roundtrips, sink demos): the same key returns the
    * same path, so an overwrite-mode write REPLACES the previous
    * invocation's bytes instead of accumulating a full table copy per
    * call until JVM exit (ADVICE r6: repeated bench/driver invocations of
    * s9/s10 were stacking lineitem/documents copies on /dev/shm — the
    * exact failure this object exists to prevent). Unsafe for the SAME
    * key from concurrent queries; every declared-query harness
    * (Verify/Bench/ScalaTest) runs queries sequentially. Streaming
    * checkpoints must keep using [[scratch]]: Spark refuses to restart a
    * query on a dirty checkpoint dir. */
  def scratchSlot(key: String): Path = {
    val p = root.resolve(s"slot_$key")
    Files.createDirectories(p)
    p
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { try Files.delete(p) catch { case _: Exception => () } })
      finally walk.close()
    }
}
