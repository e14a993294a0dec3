package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[OutputFs]] hands a local path its raw, spawn-free filesystem and any
  * other scheme the filesystem Hadoop resolves for it. */
class OutputFsSpec extends AnyFunSuite {

  test("a local path gets one memoized LocalFs and the write options naming it") {
    val conf = new Configuration()
    val dir = java.nio.file.Files.createTempDirectory("graft-outfs-")
    val fs = OutputFs.fs(new Path(dir.toUri), conf)
    assert(fs.isInstanceOf[OutputFs.LocalFs])
    assert(OutputFs.fs(new Path(dir.toString), conf) eq fs)
    assert(OutputFs.writeOptions(dir.toString, conf) == Map(
      "fs.file.impl" -> classOf[OutputFs.LocalFs].getName, "fs.file.impl.disable.cache" -> "true"))
    // setPermission sets the bits itself; a sticky bit takes the inherited path
    val f = new Path(dir.toUri.toString, "f")
    OutputFs.write(f, "x", conf)
    fs.setPermission(f, new FsPermission("640"))
    assert(fs.getFileStatus(f).getPermission.toString == "rw-r-----")
    fs.setPermission(new Path(dir.toUri), new FsPermission("1750"))
    assert(fs.getFileStatus(new Path(dir.toUri)).getPermission.getStickyBit)
  }

  test("any other scheme gets the filesystem Hadoop resolves and no write options") {
    val conf = new Configuration()
    conf.set("fs.graftmem.impl", "org.apache.hadoop.fs.LocalFileSystem")
    val p = new Path("graftmem:///tmp/x")
    assert(OutputFs.fs(p, conf) eq p.getFileSystem(conf))
    assert(OutputFs.writeOptions("graftmem:///tmp/x", conf).isEmpty)
    assert(OutputFs.writeOptions("hdfs://nn:8020/out", conf).isEmpty)
  }
}
