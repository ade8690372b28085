package graft.sources

/** The filesystem primitives every claim/flip protocol here leans
  * on, in one place so [[CatalogStore]]'s claims, catalog files,
  * pointer and ref files cannot drift apart on atomicity:
  *
  *  - [[createExclusive]]: atomically create an empty file, failing
  *    if it exists — THE exclusive-claim primitive. HDFS's
  *    `create(p, overwrite = false)` is atomic at the NameNode;
  *    RawLocalFileSystem's is check-then-create, so two local racers
  *    can both "win" — for `file://` go through NIO's createFile
  *    (O_CREAT|O_EXCL, atomic at the syscall).
  *  - [[putIfMatch]]: conditional small-file write — the pointer-flip
  *    CAS seam. Plain-filesystem rename is not compare-and-swap, so a
  *    bare read-check-rename leaves a window where a concurrent flip
  *    lands between the check and the rename and gets silently
  *    overwritten (a dropped commit). This primitive closes that
  *    window COMPLETELY within one JVM by serializing the
  *    read-check-write under a per-path process lock — which covers
  *    every writer a local[] deployment or a single driver has. Across
  *    JVMs the residual window remains on plain filesystems and is the
  *    documented limit; object stores with conditional put (S3
  *    If-None-Match / GCS generation preconditions / ABFS ETags) and
  *    HDFS-with-lease deployments should route this seam through the
  *    store's native conditional write instead of the rename fallback.
  */
object FsAtomic {

  def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try java.nio.file.Files.createFile(local)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new java.io.IOException(s"$p already claimed", e)
      }
    } else fs.create(p, false).close()
  }

  /** Atomic small-file publish: write `value` to `tmp`, rename onto
    * `dst` (overwrite = pointer-flip semantics; !overwrite = fail if
    * `dst` exists — the no-overwrite completion-rename semantics).
    *
    * On `file://` this goes through NIO directly: Hadoop's local
    * ChecksumFileSystem forks a `chmod` PROCESS per create (the r14
    * driver-stack probe measured ~0.9 s of Shell.runCommand per
    * store gate, all protocol files) and maintains `.crc` sidecars
    * whose two-step rename under racing writers can strand a stale
    * sidecar (the readSmall raw-read fallback's cause). NIO writes no
    * sidecar and forks nothing; `Files.move(ATOMIC_MOVE)` is rename(2)
    * and the no-overwrite case uses the hard-link trick
    * (`createLink` is atomic fail-if-exists on POSIX). Non-local
    * schemes keep the Hadoop create + FileContext rename path.
    */
  def writeAtomic(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      value: String, overwrite: Boolean): Unit = {
    if (fs.getScheme == "file") {
      val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.write(t, value.getBytes("UTF-8"))
      if (overwrite) {
        java.nio.file.Files.move(t, d,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // a stale ChecksumFS sidecar from an older Hadoop-written
        // incarnation of dst would fail every checksummed read of the
        // NIO-written bytes; drop it
        val crc = d.getParent.resolve("." + d.getFileName + ".crc")
        java.nio.file.Files.deleteIfExists(crc)
      } else {
        try {
          java.nio.file.Files.createLink(d, t)
          java.nio.file.Files.delete(t)
        } catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(t)
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(
              s"$dst already exists")
          case e: Throwable =>
            java.nio.file.Files.deleteIfExists(t); throw e
        }
        val crc = d.getParent.resolve("." + d.getFileName + ".crc")
        java.nio.file.Files.deleteIfExists(crc)
      }
    } else {
      val o = fs.create(tmp, true)
      try o.write(value.getBytes("UTF-8")) finally o.close()
      org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
        .rename(tmp, dst,
          if (overwrite) org.apache.hadoop.fs.Options.Rename.OVERWRITE
          else org.apache.hadoop.fs.Options.Rename.NONE)
    }
  }

  /** One lock object per qualified target path, JVM-wide: every
    * in-process writer of the same pointer file serializes through
    * the same monitor, whatever thread or session it runs on.
    */
  private val flipLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Object =
    flipLocks.computeIfAbsent(fs.makeQualified(p).toString,
      _ => new Object)

  /** Test seam: runs INSIDE the lock, between the accept-check and
    * the write — lets a spec widen the race window adversarially and
    * prove a concurrent writer still cannot interleave (it blocks on
    * the lock instead of reading a stale value past the check).
    */
  private[graft] var casWindowHook: () => Unit = () => ()

  /** Conditional write of a small file: writes `value` to `p` (via
    * `tmp` + overwrite-rename, so readers only ever observe complete
    * contents) IFF `accept(current contents)` holds, evaluated and
    * acted on atomically with respect to every other in-process
    * [[putIfMatch]] on the same path. Returns whether the write
    * happened; `false` means the current value was refused — the
    * caller's CAS failure path.
    *
    * `current` is a caller-supplied reader (so retry-hardened readers
    * — checksum-torn-state retries, missing-pointer grace — stay with
    * the protocol that owns them); it is invoked under the lock.
    */
  def putIfMatch(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      value: String, current: () => Option[String],
      accept: Option[String] => Boolean): Boolean =
    lockFor(fs, p).synchronized {
      if (!accept(current())) false
      else {
        casWindowHook()
        writeAtomic(fs, conf, tmp, p, value, overwrite = true)
        true
      }
    }
}
