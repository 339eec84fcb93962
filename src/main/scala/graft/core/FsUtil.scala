package graft.core

import java.nio.file.{Files, Path}

/** Shared local-filesystem helpers (no Spark dependency). */
object FsUtil {

  /** Recursively delete a file tree; no-op on a missing path. Directory
    * streams are closed explicitly — `Files.list` leaks a directory fd
    * otherwise, and `File.delete` on a non-empty dir is a silent no-op,
    * which is exactly the pattern this helper exists to centralize
    * (previously four hand-rolled copies across storage/engine/streaming). */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().forEachRemaining(deleteRecursively(_))
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Register a whole tree for deletion at JVM exit (File.deleteOnExit is
    * per-file and silently no-ops on non-empty dirs — this walks the tree
    * once at shutdown instead). For long-lived JVM-cached temp dirs whose
    * lifetime genuinely is the session. */
  def deleteOnExitRecursively(p: Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(p) catch { case _: Throwable => () }))

  /** Session-scoped SCRATCH directory — tmpfs (/dev/shm) when available,
    * else java.io.tmpdir. The replay harness moved its checkpoints and
    * sinks to tmpfs in r8 because per-micro-batch fsync/rename metadata
    * churn on a disk-backed /tmp dominated small replays' wall time; r17
    * extends the same placement to the other ephemeral artifacts the
    * bench rebuilds every run (streamed-lake shards, index roots, staging
    * slices, export trees). These are per-session intermediates deleted
    * at exit, never cross-run state; a production deployment gives each
    * a durable path, where the equivalent lever is the object store's
    * commit protocol, not tmpfs.
    * Placement can be forced with `GRAFT_SCRATCH_DIR` (e.g. a big disk
    * path when tmpfs is too small for the SF being run) — an override that
    * is not a writable directory fails fast rather than silently falling
    * back (a typo would otherwise reintroduce the very ENOSPC the override
    * was set to avoid) — and tmpfs is only chosen while it has usable
    * headroom (r17 advisor: /dev/shm is typically capped at 50% of RAM, and
    * an ENOSPC mid-bench at a larger SF would fail where the old
    * disk-backed /tmp succeeded). Every scratch dir in the library comes
    * from here: the session memos' entries (`BenchMemos.CountedMemo`), the
    * replay harness's staging, checkpoint, sink and flush dirs, and
    * [[streamableDir]]'s copies. */
  private[graft] val ScratchMinUsableBytes = 8L * 1024 * 1024 * 1024
  def scratchDir(prefix: String): Path =
    scratchDir(prefix, sys.env.get("GRAFT_SCRATCH_DIR"))

  /** [[scratchDir]] with the `GRAFT_SCRATCH_DIR` value passed in. */
  private[graft] def scratchDir(prefix: String, forcedDir: Option[String]): Path = {
    val forced = forcedDir.map { d =>
      val p = java.nio.file.Paths.get(d)
      if (!Files.isDirectory(p) || !Files.isWritable(p))
        throw new IllegalArgumentException(
          s"GRAFT_SCRATCH_DIR=$d is not a writable directory")
      p
    }
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root = forced.getOrElse {
      val shmOk = Files.isDirectory(shm) && Files.isWritable(shm) &&
        (try Files.getFileStore(shm).getUsableSpace >= ScratchMinUsableBytes
         catch { case _: Throwable => false })
      if (shmOk) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
    Files.createTempDirectory(root, prefix)
  }

  private val streamable = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A directory a file-stream source can read `path` from: `path` itself
    * when it is not a regular file, else a [[scratchDir]] holding one copy
    * of the file. The copy is made once per path per JVM — repeated stream
    * runs (specs, bench warm+timed) share it — and deleted at exit. */
  def streamableDir(path: String, prefix: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (!Files.isRegularFile(p)) path
    else streamable.computeIfAbsent(path, _ => {
      val d = scratchDir(prefix)
      deleteOnExitRecursively(d)
      Files.copy(p, d.resolve(p.getFileName))
      d.toString
    })
  }
}
