package graft.restructure

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import java.io.FileNotFoundException
import java.nio.file.StandardOpenOption
import java.util.UUID

/** Multi-instance coordination (SURVEY §1.4): per-topic remote locks shaped
  * like the reference's Redis lock manager
  * (accounting/RedisRemoteLockManager.kt:18-44) — `acquireLock` returns
  * None when another live instance holds the name, a held lock expires
  * after a TTL so a crashed holder cannot wedge the fleet, and release
  * deletes the lock only if the caller still owns it — so a Redis-backed
  * implementation can drop in behind the same trait unchanged.
  */
trait RemoteLockManager {

  /** Try to acquire `name`; None if another live instance holds it. */
  def acquireLock(name: String): Option[AutoCloseable]

  /** Run `body` under the lock; None (body not run) if unavailable. */
  def withLock[T](name: String)(body: => T): Option[T] =
    acquireLock(name).map { l =>
      try body
      finally l.close()
    }

  /** Run `body` under the lock, retrying with backoff until acquired or
    * `maxWaitMs` elapses — for short critical sections that MUST run (the
    * state commit). */
  def withLockRetrying[T](name: String, maxWaitMs: Long = 30000L)(body: => T): T = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var delay = 20L
    var out: Option[T] = withLock(name)(body)
    while (out.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(delay)
      delay = math.min(delay * 2, 1000L)
      out = withLock(name)(body)
    }
    out.getOrElse(throw new IllegalStateException(
      s"could not acquire lock '$name' within ${maxWaitMs}ms"))
  }
}

/** Filesystem-backed lock manager: a lock is an atomically-created file
  * under `dir` holding the owner's uuid. Creation uses O_CREAT|O_EXCL on
  * local filesystems (true atomicity for the concurrent-instance spec) and
  * Hadoop's non-overwriting create elsewhere (atomic on HDFS). Locks older
  * than `ttlMs` (the reference uses 24h) are broken as crashed holders.
  */
final class FileRemoteLockManager(
    conf: Configuration,
    dir: Path,
    ttlMs: Long = 24L * 3600 * 1000) extends RemoteLockManager {

  private val uuid = UUID.randomUUID().toString
  private val fs = dir.getFileSystem(conf)
  fs.mkdirs(dir)
  private val localRoot: Option[java.nio.file.Path] =
    if (Option(dir.toUri.getScheme).forall(_ == "file"))
      Some(java.nio.file.Paths.get(dir.toUri.getPath))
    else None

  /** Fault-injection seam (LocksSpec): invoked with `"write"` just before
    * the owner uuid is written into a lock file this instance created, and
    * with `"read"` just before a lock file's owner is read, so a spec can
    * fail either IO deterministically. Production never sets it; the
    * default is a no-op. */
  private[restructure] var beforeOwnerIo: String => Unit = _ => ()

  override def acquireLock(name: String): Option[AutoCloseable] = {
    val p = new Path(dir, s"$name.lock")
    if (tryCreate(p)) Some(releaser(p))
    else {
      val stale =
        try fs.getFileStatus(p).getModificationTime + ttlMs <= System.currentTimeMillis()
        catch { case _: FileNotFoundException => true }
      if (stale && breakStale(p) && tryCreate(p)) Some(releaser(p)) else None
    }
  }

  /** Break an (apparently) stale lock under a BREAK MARKER: breakers must
    * first win `<name>.lock.break` (atomic O_EXCL create), so at most one
    * instance touches the stale lock file at a time and nobody can delete
    * or rename a FRESH lock another breaker just created — the failure
    * mode of naive delete-then-create (two holders) and of unserialized
    * rename-based breaking (a yanked live lock leaves the path briefly
    * empty for a third instance). While holding the marker, staleness is
    * re-checked immediately before the delete. The marker has a short TTL
    * of its own so a crashed breaker cannot wedge the lock. Residual
    * window — a holder stalled past the lock TTL loses the lock — is
    * inherent to expiry locks (the reference's Redis expiry shares it). */
  private val breakMarkerTtlMs = 60000L

  private def breakStale(p: Path): Boolean = {
    val marker = new Path(dir, s"${p.getName}.break")
    try {
      val st = fs.getFileStatus(marker)
      if (st.getModificationTime + breakMarkerTtlMs > System.currentTimeMillis())
        return false // live breaker at work
      try fs.delete(marker, false) catch { case _: Exception => () } // crashed breaker
    } catch { case _: FileNotFoundException => () }
    if (!tryCreate(marker)) return false // another breaker won the marker
    try {
      val stillStale =
        try fs.getFileStatus(p).getModificationTime + ttlMs <= System.currentTimeMillis()
        catch { case _: FileNotFoundException => return true } // already gone
      if (stillStale) {
        try fs.delete(p, false) catch { case _: Exception => () }
        true
      } else false // refreshed under us: not stale after all
    } finally {
      try fs.delete(marker, false) catch { case _: Exception => () }
    }
  }

  /** Create `p` holding our uuid; false if it already exists. Once the
    * create succeeded the file is ours: a failed owner write deletes it
    * again and rethrows, so no unowned lock file outlives the failure. */
  private def tryCreate(p: Path): Boolean = {
    val out =
      try localRoot match {
        case Some(root) => // O_CREAT|O_EXCL — atomic NX
          java.nio.file.Files.newOutputStream(root.resolve(p.getName), StandardOpenOption.CREATE_NEW)
        case None => fs.create(p, false)
      } catch { case _: java.io.IOException => return false } // exists, or not created
    try {
      beforeOwnerIo("write")
      try out.write(uuid.getBytes("UTF-8")) finally out.close()
    } catch {
      case e: Exception =>
        try fs.delete(p, false) catch { case d: Exception => e.addSuppressed(d) }
        throw e
    }
    true
  }

  private def readOwner(p: Path): String = {
    beforeOwnerIo("read")
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Delete only if still ours (the TTL may have let another instance take
    * over a broken lock — reference RemoteLock.close semantics). The
    * common case reads the owner first and never touches a lock that is
    * no longer ours; when it IS ours, the delete goes through a rename so
    * a break that replaces the file between the read and the delete is
    * detected on the renamed copy and restored rather than deleted. A
    * failed first read cannot tell, so it takes the renamed-copy path too
    * rather than leave our own lock behind; a failure there propagates. */
  private def releaser(p: Path): AutoCloseable = () => {
    val mine =
      try readOwner(p) == uuid
      catch {
        case _: FileNotFoundException => false // gone: broken after the TTL
        case _: java.io.IOException   => true  // unknown: the renamed copy decides
      }
    if (mine) {
      // one name per release: threads sharing this manager share its
      // uuid, and a release must never read or delete another's copy
      val yanked = new Path(dir, s".${p.getName}.release-$uuid-${UUID.randomUUID()}")
      if (fs.rename(p, yanked)) {
        if (readOwner(yanked) == uuid) fs.delete(yanked, false)
        else if (!fs.rename(yanked, p)) fs.delete(yanked, false) // not ours: restore
      }
    }
  }
}
