package graft.storage

import java.io.BufferedOutputStream
import java.net.URI
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A `mock:` scheme filesystem backed by local disk — the standard
  * Hadoop-test trick for exercising the non-`file:` code path (scheme
  * resolution, qualified listings, no OS writer lock) without a real
  * HDFS/S3 endpoint. Registered via `fs.mock.impl`.
  *
  * `create(path, overwrite = false)` is ATOMIC (O_EXCL), matching the
  * exclusive-create contract of HDFS and conditional-put object stores
  * — RawLocalFileSystem's exists-then-create would let two racing
  * claims both succeed, which would make the CAS commit specs flaky
  * instead of exercising the collision path. [[MockFs.beforeNextClaim]]
  * injects a commit just before a writer's claim. */
class MockFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mock:///")

  // CREATE_NEW = O_EXCL: throws java.nio.file.FileAlreadyExistsException
  // atomically when the path exists
  private def createExclusive(f: Path, bufferSize: Int): FSDataOutputStream = {
    MockFs.fireClaimHook(f)
    val p = Paths.get(f.toUri.getPath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val out = Files.newOutputStream(p,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    new FSDataOutputStream(new BufferedOutputStream(out, bufferSize), null)
  }

  // Both create variants: FileSystem.create(path, overwrite) routes
  // through RawLocalFileSystem's 6-arg override (not the 7-arg
  // permission one), so intercept both or the atomic claim is bypassed.
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    if (overwrite) super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    else createExclusive(f, bufferSize)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    if (overwrite) super.create(f, overwrite, bufferSize, replication,
      blockSize, progress)
    else createExclusive(f, bufferSize)
}

object MockFs {
  private val claimHook = new java.util.concurrent.atomic.AtomicReference[() => Unit]()

  /** Run `f` once, just before the next exclusive create under
    * `_graft_history/` — that is, just before some writer's version
    * claim, so `f` can commit first and force the writer to rebase.
    * The writer lock on `mock:` is a reentrant JVM monitor, so `f` may
    * commit through a second handle of the same table on the same
    * thread. */
  def beforeNextClaim(f: => Unit): Unit = claimHook.set(() => f)

  /** Disarm the hook; true when it had already fired. */
  def disarmClaimHook(): Boolean = claimHook.getAndSet(null) == null

  private def fireClaimHook(f: Path): Unit =
    if (f.toUri.getPath.contains("/_graft_history/"))
      Option(claimHook.getAndSet(null)).foreach(_())
}
