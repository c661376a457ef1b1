package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec

class GenLogSpec extends SparkSpec {

  test("dirSig tells apart two directories with equal file count, bytes " +
      "and newest mtime but different file names") {
    val f = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val root = new Path("target/tmp/genlog-dirsig")
    f.delete(root, true)
    def dir(name: String, files: Seq[String]): Path = {
      val d = new Path(root, name)
      files.foreach { fn =>
        val out = f.create(new Path(d, fn))
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
      }
      // pin every entry's mtime (checksum siblings included)
      f.listStatus(d).foreach(s => f.setTimes(s.getPath, 1000000L, 1000000L))
      d
    }
    val a = dir("a", Seq("part-0.parquet", "part-1.parquet"))
    val b = dir("b", Seq("part-0.parquet", "part-2.parquet"))
    def stat(d: Path) = {
      val sts = f.listStatus(d)
      (sts.length, sts.map(_.getLen).sum, sts.map(_.getModificationTime).max)
    }
    assert(stat(a) == stat(b), "fixture: count, bytes and mtime must agree")
    assert(GenLog.dirSig(f, a) != GenLog.dirSig(f, b))
    assert(GenLog.dirSig(f, a) == GenLog.dirSig(f, a))
  }
}
