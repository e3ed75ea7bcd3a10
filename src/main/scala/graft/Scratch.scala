package graft

/** Ephemeral scratch-space placement (r17, opt guide §6).
  *
  * Every temp dir the query surface creates — streaming checkpoints,
  * replay payloads, per-session index fixtures, layout/export scratch —
  * is session-lifetime at most and deleted (or abandoned) at the end of
  * the run; none of it needs durability. Placing them on a RAM-backed
  * filesystem removes the fsync cost that otherwise dominates streaming
  * micro-batch overhead: each micro-batch pays offset-log + commit-log +
  * per-partition state-store commits, and on the sandbox's virtio disk a
  * single checkpoint-log fsync is ~37 ms (measured via
  * StreamingQueryProgress.durationMs: walCommit 37 + commitOffsets 36 +
  * latestOffset 38 per batch), i.e. ~0.3 s per 2-batch replay face of
  * pure ephemeral-durability cost.
  *
  * Placement order: `$SPARK_GRAFT_SCRATCH` if set, else `/dev/shm`, each
  * only when it is a writable directory with more than
  * `SPARK_GRAFT_SCRATCH_MIN_FREE` bytes free (default 4 GiB); otherwise
  * `java.io.tmpdir` (a failing explicit path is warned about once). The
  * headroom gate is re-evaluated on every `dir()` call: tmpfs is typically
  * capped at 50% of RAM and shared with the JVM's page cache, so bulk
  * session fixtures (table copies, indexes) at larger scale factors must
  * degrade to disk rather than ENOSPC mid-write or squeeze the heap.
  * Durable artifacts (the parquet inputs, committed outputs) never go
  * through here.
  */
object Scratch {
  private val MinFreeBytes: Long =
    sys.env.get("SPARK_GRAFT_SCRATCH_MIN_FREE").map(_.toLong)
      .getOrElse(4L << 30)

  private def usableBytes(p: java.nio.file.Path): Long =
    try java.nio.file.Files.getFileStore(p).getUsableSpace
    catch { case _: Exception => -1L }

  private def writableDir(p: java.nio.file.Path): Boolean =
    java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p)

  private def roomy(p: java.nio.file.Path): Boolean =
    writableDir(p) && usableBytes(p) > MinFreeBytes

  private val envWarned = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val lastBase =
    new java.util.concurrent.atomic.AtomicReference[java.nio.file.Path]()

  private def pickBase(): java.nio.file.Path = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    sys.env.get("SPARK_GRAFT_SCRATCH").map(java.nio.file.Paths.get(_)) match {
      case Some(p) if roomy(p) => p
      case Some(p) =>
        if (!envWarned.getAndSet(true))
          System.err.println(s"[scratch] SPARK_GRAFT_SCRATCH=$p is not a " +
            s"writable directory with more than $MinFreeBytes bytes free; " +
            s"using $tmp")
        tmp
      case None =>
        Some(java.nio.file.Paths.get("/dev/shm")).filter(roomy).getOrElse(tmp)
    }
  }

  /** A fresh temp directory under the scratch root. Same contract as
    * `Files.createTempDirectory(prefix)`, different (RAM-backed when there
    * is headroom) home. A base that differs from the previous call's is
    * logged once, so a run whose scratch moves between tmpfs and disk
    * says so. */
  def dir(prefix: String): java.nio.file.Path = {
    val base = pickBase()
    val prev = lastBase.getAndSet(base)
    if (prev != null && prev != base)
      System.err.println(s"[scratch] scratch base moved from $prev to $base " +
        s"(headroom gate: more than $MinFreeBytes bytes free)")
    val d = base.resolve("graft-scratch")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.createTempDirectory(d, prefix)
  }
}
