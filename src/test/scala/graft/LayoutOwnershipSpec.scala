package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each on-disk decision of the snapshot sink has one owner in
  * `graft.table`: the `_snapshots` layout ([[graft.table.SnapLog]]),
  * the key domain ([[graft.table.KeyDomain]]), the commit protocol
  * ([[graft.table.Protocol]]) and the per-dir sidecars and sink
  * declarations ([[graft.table.Sidecars]]). Reads `src/main` so that
  * no other module grows a second copy, and so that the streaming sinks
  * keep writing through the snapshot sink alone. */
class LayoutOwnershipSpec extends AnyFunSuite {

  private lazy val main: Path =
    Seq(Paths.get("src/main/scala"), Paths.get(sys.props("user.dir"), "src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found — run tests from the repo root"))

  /** (path relative to src/main/scala, text) of every source outside
    * `graft/table`. */
  private lazy val outsideTable: Seq[(String, String)] = {
    val s = Files.walk(main)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .filterNot(_._1.startsWith("graft/table/"))
      .toList.sortBy(_._1)
    finally s.close()
  }

  private def offenders(files: Seq[(String, String)], needle: String): Seq[String] =
    files.collect { case (f, text) if text.contains(needle) => f }

  test("the _snapshots layout is named only in graft.table") {
    assert(outsideTable.nonEmpty)
    assert(offenders(outsideTable, "\"_snapshots\"").isEmpty)
  }

  test("the key domain's canon and stats codec live only in graft.table") {
    val pruners = outsideTable.filter { case (f, _) =>
      Seq("graft/ops/Upsert.scala", "graft/sources/GraftBatchScan.scala",
        "graft/sources/GraftDataSource.scala").contains(f)
    }
    assert(pruners.size == 3)
    assert(offenders(pruners, "floorDiv").isEmpty)
    assert(offenders(pruners, "\"__rows\\t").isEmpty)
  }

  test("the commit protocol's manifest and claims live only in graft.table") {
    assert(offenders(outsideTable, "SnapLog.manifest(").isEmpty)
    assert(offenders(outsideTable, "SnapLog.claim(").isEmpty)
    assert(outsideTable.collect { case (f, text)
      if "class\\s+SnapEntry\\b|def\\s+parseEntry\\b".r.findFirstIn(text).isDefined => f
    }.isEmpty)
  }

  test("per-dir sidecars and sink declarations are read and written only in graft.table") {
    for (name <- Seq("stats", "bloom", "profile", "keyCols", "skipCols", "schemaMap"))
      assert(offenders(outsideTable, s"SnapLog.$name(").isEmpty, name)
  }

  test("streaming sinks write only through the snapshot sink, plus the quarantine") {
    val streaming = outsideTable.filter(_._1.startsWith("graft/streaming/"))
    assert(streaming.nonEmpty)
    assert(offenders(streaming, "\"_fp_blooms\"").isEmpty)
    assert(offenders(streaming, "partitionBy(").isEmpty)
    // Every DataFrame write (`.write`, not `writeStream`/`writeSnapshot`)
    // is snapshotSinkGated's append of a refused batch.
    val writes = streaming.flatMap { case (_, text) =>
      "\\.write\\b(?:\\s*\\.\\w+\\([^)]*\\))*".r.findAllIn(text)
        .map(_.replaceAll("\\s+", "")).toList
    }
    assert(writes == Seq(""".write.mode("append").parquet(quarantinePath)"""),
      s"streaming parquet writes: $writes")
  }
}
