package graft

import java.nio.file.Files

import graft.sources.FsAtomic

/** The conditional-write (pointer CAS) primitive: within one JVM the
  * per-path lock makes check-then-write atomic — the forward-only
  * invariant holds even when the race window between the check and
  * the write is widened adversarially. And the fail-if-exists
  * directory rename every version-dir publish goes through.
  */
class FsAtomicSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def read(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }

  test("putIfMatch: refused CAS leaves the file untouched; accepted " +
      "CAS writes atomically") {
    val dir = Files.createTempDirectory("cas").toString
    val p = new org.apache.hadoop.fs.Path(dir, "ptr")
    val tmp = new org.apache.hadoop.fs.Path(dir, "ptr.tmp")
    val fs = p.getFileSystem(conf)
    // initial write: accepted only against an empty slot
    assert(FsAtomic.putIfMatch(fs, conf, p, tmp, "5",
      () => read(fs, p), _.isEmpty))
    assert(read(fs, p).contains("5"))
    // second unconditional-create refused: the slot is taken
    assert(!FsAtomic.putIfMatch(fs, conf, p, tmp, "9",
      () => read(fs, p), _.isEmpty))
    assert(read(fs, p).contains("5"))
    // forward-only accept
    assert(FsAtomic.putIfMatch(fs, conf, p, tmp, "6",
      () => read(fs, p), c => c.forall(_.toInt < 6)))
    assert(!FsAtomic.putIfMatch(fs, conf, p, tmp, "3",
      () => read(fs, p), c => c.forall(_.toInt < 3)))
    assert(read(fs, p).contains("6"))
  }

  test("putIfMatch: forward-only survives an adversarially widened " +
      "race window — the concurrent writer blocks instead of " +
      "interleaving past the check") {
    val dir = Files.createTempDirectory("casw").toString
    val p = new org.apache.hadoop.fs.Path(dir, "ptr")
    val fs = p.getFileSystem(conf)
    def put(v: Int, tmpName: String): Boolean =
      FsAtomic.putIfMatch(fs, conf, p,
        new org.apache.hadoop.fs.Path(dir, tmpName), v.toString,
        () => read(fs, p), c => c.forall(_.toInt < v))
    assert(put(5, "t0"))
    // X flips to 6 holding the window open 150ms; Y flips to 7 inside
    // that window. WITHOUT the lock Y would read 5 during X's window
    // and write 7 FIRST, then X's delayed write of 6 would regress the
    // pointer and drop Y's flip. With it, Y blocks until X lands.
    FsAtomic.casWindowHook = () => Thread.sleep(150L)
    try {
      val rx = new java.util.concurrent.atomic.AtomicBoolean
      val ry = new java.util.concurrent.atomic.AtomicBoolean
      val tx = new Thread(() => rx.set(put(6, "t1")))
      val ty = new Thread(() => { Thread.sleep(40L); ry.set(put(7, "t2")) })
      tx.start(); ty.start(); tx.join(10000); ty.join(10000)
      assert(rx.get && ry.get, s"x=${rx.get} y=${ry.get}")
      assert(read(fs, p).contains("7"),
        s"pointer regressed to ${read(fs, p)} — the window interleaved")
    } finally FsAtomic.casWindowHook = () => ()
  }

  private def staged(): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
    val dir = Files.createTempDirectory("rnr").toString
    val src = new org.apache.hadoop.fs.Path(dir, "stage")
    spark.range(5).write.parquet(src.toString)
    (src.getFileSystem(conf), src, new org.apache.hadoop.fs.Path(dir, "v=1"))
  }

  // listed through NIO: ChecksumFileSystem.listStatus hides `.crc`
  private def names(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(java.nio.file.Paths.get(p.toUri.getPath))
    try ls.iterator.asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  test("renameNoReplace onto an existing EMPTY dir throws and leaves " +
      "both dirs intact") {
    val (fs, src, dst) = staged()
    val before = names(fs, src)
    fs.mkdirs(dst)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      FsAtomic.renameNoReplace(fs, conf, src, dst)
    }
    assert(names(fs, src) == before)
    assert(fs.getFileStatus(dst).isDirectory && names(fs, dst).isEmpty)
  }

  test("renameNoReplace onto an existing NON-EMPTY dir throws and " +
      "leaves both dirs intact") {
    val (fs, src, dst) = staged()
    val before = names(fs, src)
    fs.mkdirs(dst)
    Files.write(java.nio.file.Paths.get(dst.toUri.getPath, "keep"),
      "x".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      FsAtomic.renameNoReplace(fs, conf, src, dst)
    }
    assert(names(fs, src) == before)
    assert(names(fs, dst) == Set("keep"))
  }

  test("renameNoReplace moves the dir with its .crc sidecars; the " +
      "moved bytes still verify") {
    val (fs, src, dst) = staged()
    val before = names(fs, src)
    assert(before.exists(_.endsWith(".crc")), before)
    FsAtomic.renameNoReplace(fs, conf, src, dst)
    assert(!fs.exists(src))
    assert(names(fs, dst) == before)
    // checksummed reads of every moved file pass
    fs.listStatus(dst).filter(f => f.isFile &&
        !f.getPath.getName.startsWith(".")).foreach { f =>
      val in = fs.open(f.getPath)
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    }
    assert(spark.read.parquet(dst.toString).count() == 5)
  }
}
