package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.TempDirs

/** Scratch space lives under `java.io.tmpdir` and nowhere else, so a
  * caller confines every transient write by setting that property. */
class TempDirsSpec extends AnyFunSuite {
  test("scratch and scratchSlot land under java.io.tmpdir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val fresh = TempDirs.scratch("spec")
    val slot = TempDirs.scratchSlot("spec")
    for (p <- Seq(fresh, slot)) {
      assert(p.startsWith(tmp), s"$p is outside $tmp")
      assert(Files.isDirectory(p))
    }
    assert(fresh.getParent == slot.getParent, "one per-process root holds both")
    assert(TempDirs.scratchSlot("spec") == slot, "a slot key maps to one dir")
  }
}
