package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.FsUtil

/** Per-call scratch dirs share one process-wide root, so one shutdown
  * hook reclaims them all. */
class FsUtilSpec extends AnyFunSuite {

  test("scratch dirs are distinct and share one root") {
    val a = new java.io.File(FsUtil.scratchDir("graft_spec_a"))
    val b = new java.io.File(FsUtil.scratchDir("graft_spec_a"))
    assert(a.isDirectory && b.isDirectory)
    assert(a != b)
    assert(a.getParentFile == b.getParentFile)
    assert(a.getName.startsWith("graft_spec_a"))
    assert(a.getParentFile.getName.startsWith("graft_scratch"))
  }
}
