package newspipe.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** Pluggable commit-coordination seam: the ONE primitive the snapshot
  * protocol's atomicity rests on — mutual exclusion around the
  * [parent-check → head-pointer → marker-create] critical section of
  * [[Lake]]'s commit (`commitMarker`). Everything else in the protocol
  * (data writes, manifests, sidecars) is plain immutable-object IO; only
  * this section needs a coordination primitive, and WHICH primitive is
  * storage-dependent:
  *
  *  - HDFS: exclusive file creation exists → [[FsCommitStore]] (the
  *    default) uses a lock file with stale-break. The local FS has no
  *    exclusive create (Hadoop's `RawLocalFileSystem.create` is an
  *    `exists()` check followed by an open): there the lock file's owner
  *    nonce re-reads are the guard (ROADMAP #1 has the fix).
  *  - S3-class object stores: there is NO atomic exclusive create or
  *    rename — a lock file degrades to advisory, exactly why Delta needs
  *    a LogStore / commit coordinator there. Production deployments plug
  *    a real coordinator (a DynamoDB-style conditional-put lock table, a
  *    commit service) in through this trait; the rest of the engine is
  *    unchanged.
  *  - single-process pipelines: [[InMemoryCommitStore]] — a JVM lock
  *    table, no filesystem round-trips at all.
  *
  * === Contract ===
  *
  * `withExclusive(layerRoot, fs)(body)`: run `body` such that for a given
  * layer root no two writers — any thread, any process, any host that the
  * implementation claims to cover — are inside their `body` at the same
  * time. `body` receives a `stillOwned` probe: it must return `false`
  * once the exclusion guarantee may have been lost (lease expiry, a
  * broken-and-retaken lock); the caller re-probes it immediately before
  * its point of no return and aborts instead of double-committing.
  * Implementations that cannot lose ownership (a held JVM lock, a fenced
  * coordinator) return a constant-true probe. The section body is two or
  * three metadata operations — implementations may assume it is SHORT
  * (the stale-break clock of [[FsCommitStore]] does).
  *
  * Exceptions from `body` must propagate unchanged after releasing the
  * exclusion (the commit funnel's conflict signaling rides on
  * `ConcurrentModificationException`).
  */
trait CommitStore {
  def withExclusive[T](layerRoot: Path, fs: FileSystem)(
      body: (() => Boolean) => T): T
}

/** The filesystem implementation (default): serialize the critical
  * section with a lock file `<layer>/_v/_COMMIT_LOCK` — the
  * plain-filesystem CAS that closes the residual two-writers-in-the-window
  * race (two same-parent siblings both committing, the elder silently
  * shadowed; surfaced by LakeSpec's 4-writer race). `create(overwrite =
  * false)` is exclusive on HDFS, so there exactly one writer holds the
  * section at a time. On the local FS it is NOT: Hadoop's
  * `RawLocalFileSystem.create` is an `exists()` check followed by an open,
  * and a race of 4 threads on one fresh path saw more than one winner in
  * 480 of 500 trials (ROADMAP #1) — there the owner-nonce re-reads below
  * are the guard, and ROADMAP #1 has the exclusive-create fix. The DATA
  * write (the long part) stays outside. A crashed holder's stale lock is
  * broken after 60 s (the section itself is two metadata ops — any older
  * lock is debris, not a writer). Stale breaks are themselves race-free:
  * the breaker atomically RENAMES the lock to a unique tombstone (rename
  * fails if the path was already freed/re-created, so at most one waiter
  * clears a given lock instance and nobody plain-deletes a lock a peer
  * just re-created); each lock carries an owner nonce that is (a)
  * re-verified right after acquisition — a holder whose fresh lock was
  * mis-broken in the stat→rename window detects it and retries instead
  * of entering the section unprotected — and (b) checked again at
  * release, so a holder never deletes a successor's lock. On object
  * stores without atomic exclusive create/rename this degrades to
  * advisory — plug a real coordinator through [[CommitStore]] there.
  */
object FsCommitStore extends CommitStore {

  override def withExclusive[T](layerRoot: Path, f: FileSystem)(
      body: (() => Boolean) => T): T = {
    val lockPath = new Path(layerRoot, "_v/_COMMIT_LOCK")
    f.mkdirs(lockPath.getParent)
    val nonce = java.util.UUID.randomUUID().toString
    var attempts = 0
    while (true) {
      val acquired =
        try {
          // exclusive on HDFS only; the nonce re-read below guards local FS
          Lake.putFile(f, lockPath, s"$nonce ${System.currentTimeMillis()}",
            overwrite = false)
          true
        } catch { case _: java.io.IOException => false }
      if (acquired) {
        // Ownership re-verify: a waiter that stat'ed the PREVIOUS lock as
        // stale may have broken ours in its stat→rename window and put its
        // own in place. Only enter the section if the nonce is still ours.
        if (readLockNonce(f, lockPath).contains(nonce)) {
          // Body receives a LATE ownership probe: in the residual window
          // where a tombstoned-then-restored fresh lock slipped past the
          // post-acquire check, the section's final metadata op re-verifies
          // the nonce right before the point of no return (the marker
          // create) and aborts instead of double-committing.
          val stillOwned = () => readLockNonce(f, lockPath).contains(nonce)
          try return body(stillOwned)
          finally {
            // release only our own instance — never a successor's lock
            try if (readLockNonce(f, lockPath).contains(nonce))
              f.delete(lockPath, false)
            catch { case _: java.io.IOException => () }
          }
        }
        // lost ownership before entering: loop back to the create race
      }
      attempts += 1
      try {
        val st = f.getFileStatus(lockPath)
        if (System.currentTimeMillis() - st.getModificationTime > 60000L) {
          // stale: holder died mid-section. Break via atomic rename to a
          // unique tombstone; if the rename caught a FRESH lock (created
          // in the stat→rename window) restore it, else discard debris.
          val tomb = new Path(lockPath.getParent, s"_COMMIT_LOCK.tomb.$nonce")
          if (f.rename(lockPath, tomb)) {
            val fresh = readLockMillis(f, tomb)
              .exists(t => System.currentTimeMillis() - t <= 60000L)
            if (!fresh || !f.rename(tomb, lockPath)) f.delete(tomb, false)
          }
        }
      } catch { case _: java.io.FileNotFoundException => () } // just freed
      if (attempts > 3000) throw new IllegalStateException(
        s"commit lock on '$layerRoot' starved after $attempts attempts")
      Thread.sleep(10L + (attempts % 7) * 5L)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Lock content is `"<nonce> <createMillis>"`; both readers tolerate a
    * concurrently-vanishing file (None) and legacy single-token content.
    */
  private def readLockParts(f: FileSystem, p: Path): Option[Array[String]] =
    try {
      val in = f.open(p)
      try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim.split("\\s+"))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  private def readLockNonce(f: FileSystem, p: Path): Option[String] =
    readLockParts(f, p).filter(_.length >= 2).map(_.head)

  private def readLockMillis(f: FileSystem, p: Path): Option[Long] =
    readLockParts(f, p).flatMap(_.lastOption).flatMap(s => s.toLongOption)
}

/** Single-process coordinator: a JVM-global lock table keyed by layer
  * root — zero filesystem round-trips, ownership cannot be lost while
  * held (the probe is constant true). Correct whenever every writer to
  * the lake shares one JVM (a local pipeline, a notebook, tests); it is
  * also the shape a REAL external coordinator takes behind
  * [[CommitStore]] — the double the concurrency specs run through to
  * prove a foreign store slots into the commit funnel unchanged.
  *
  * The lock table is process-global (object state), not per-instance:
  * two `Lake` instances over the same base path must contend on the same
  * lock, exactly like two instances contend on the same lock FILE under
  * [[FsCommitStore]].
  */
object InMemoryCommitStore extends CommitStore {
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  override def withExclusive[T](layerRoot: Path, f: FileSystem)(
      body: (() => Boolean) => T): T = {
    val l = locks.computeIfAbsent(layerRoot.toString,
      _ => new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    try body(() => true)
    finally l.unlock()
  }
}
