package graft.perfbench

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class CountingFsSpec extends AnyFunSuite {

  test("a scripted sequence of Hadoop calls yields exact counts") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[CountingFs])
    assert(FileSystem.getLocal(conf).isInstanceOf[CountingFs])
    val dir = new Path(Files.createTempDirectory("countingfs").toUri)
    val before = CountingFs.snapshot()

    assert(fs.mkdirs(new Path(dir, "a/b")))                   // mkdirs 1, meta
    val out = fs.create(new Path(dir, "a/b/part-0.parquet"))  // create 1
    out.write(Array.fill[Byte](100)(1)); out.write(7); out.close()
    val meta = fs.create(new Path(dir, "a/_manifest"))        // create 2, meta
    meta.write(Array.fill[Byte](10)(2)); meta.close()
    assert(fs.exists(new Path(dir, "a/_manifest")))           // exists 1, meta
    assert(!fs.exists(new Path(dir, "a/missing")))            // exists 2, meta
    fs.getFileStatus(new Path(dir, "a/b/part-0.parquet"))     // status 1
    assert(fs.listStatus(new Path(dir, "a")).length == 2)     // list 1, meta
    fs.open(new Path(dir, "a/b/part-0.parquet")).close()      // open_data 1
    fs.open(new Path(dir, "a/b/part-0.parquet")).close()      // open_data 2
    fs.open(new Path(dir, "a/_manifest")).close()             // open_meta 1, meta
    assert(fs.rename(new Path(dir, "a/_manifest"), new Path(dir, "a/_m2"))) // rename 1, meta
    assert(fs.delete(new Path(dir, "a"), true))               // delete 1, meta

    val after = CountingFs.snapshot()
    val got = CountingFs.Names.zipWithIndex.map { case (n, i) => n -> (after(i) - before(i)) }.toMap
    assert(got == Map("exists" -> 2, "status" -> 1, "list" -> 1, "open_meta" -> 1,
      "open_data" -> 2, "create" -> 2, "rename" -> 1, "delete" -> 1, "mkdirs" -> 1,
      "bytes_written" -> 111, "meta_ops" -> 8))
    assert(CountingFs.openedData.contains(new Path(dir, "a/b/part-0.parquet").toUri.getPath))
    fs.close()
  }
}
