package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{Protocol, SnapLog}
import graft.table.Protocol.SnapEntry

/** The commit protocol's metadata on the local filesystem: no Spark. */
class ProtocolSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def freshSink(): String =
    java.nio.file.Files.createTempDirectory("protocol").toString

  test("manifest line codec round-trips; a dv-less entry is the bare dir") {
    assert(SnapEntry("batch-1", Nil).line == "batch-1")
    assert(Protocol.parseEntry("batch-1") == SnapEntry("batch-1", Nil))
    val e = SnapEntry("merge-3", Seq("dv-3-0", "dv-5-1"))
    assert(e.line == "merge-3\tdv-3-0,dv-5-1")
    assert(Protocol.parseEntry(e.line) == e)
    assert(Protocol.parseEntry("d\tdv-9,dv-2") == SnapEntry("d", Seq("dv-2", "dv-9")),
      "unsorted dvs parse sorted, so entries compare structurally")
    assert(Protocol.parseEntry("d\t") == SnapEntry("d", Nil))
  }

  test("publish onto an existing version is refused and leaves its manifest as it was") {
    val path = freshSink()
    Protocol.publish(fs, path, 1, Seq(SnapEntry("batch-1", Nil)))
    val before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(SnapLog.manifest(path, 1).toString))
    val err = intercept[java.io.IOException](
      Protocol.publish(fs, path, 1, Seq(SnapEntry("batch-2", Nil))))
    assert(err.getMessage.contains("snapshot NOT published"), err.getMessage)
    val after = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(SnapLog.manifest(path, 1).toString))
    assert(new String(after, UTF_8) == new String(before, UTF_8))
    assert(Protocol.manifestEntries(fs, path, 1) == Seq(SnapEntry("batch-1", Nil)))
  }

  test("reading a version that is not published names it") {
    val path = freshSink()
    Protocol.publish(fs, path, 1, Seq(SnapEntry("batch-1", Nil)))
    val err = intercept[IllegalArgumentException](
      Protocol.manifestEntries(fs, path, 2))
    assert(err.getMessage == s"requirement failed: no snapshot v2 at $path")
  }
}
