package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch space for TRANSIENT-BY-CONTRACT artifacts: staged stream
  * source dirs, per-call partial dirs, and the per-query checkpoints
  * [[graft.streaming.StreamOps.runStream]] creates for every engine
  * stream and deletes once that query stops
  * (there is no session-wide checkpoint root; a caller that wants a
  * durable, resumable checkpoint passes its own location). None of
  * these survives the JVM by design (the durable stores live in
  * [[StoreCatalog]]), so they belong on the fastest non-durable storage
  * the platform has — a disk-backed ext4 /tmp puts a measured
  * ~100 ms/micro-batch floor under every streaming twin through the
  * offset-log/commit fsyncs alone. tmpfs when present, java.io.tmpdir
  * otherwise; `SPARK_GRAFT_SCRATCH_DIR` overrides for deployments. The
  * root is deleted on JVM exit. */
object Scratch {
  lazy val root: Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH_DIR")
      .map(Paths.get(_))
      .orElse {
        val shm = Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
        else None
      }
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
    val dir = Files.createTempDirectory(base, "graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(dir)))
    dir
  }

  /** A fresh scratch directory under [[root]]. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Delete `p` and everything under it, deepest first. The walk stream
    * is closed after use (an open walk pins a directory handle per
    * level), and every entry's delete fails on its own: one undeletable
    * child — or a walk cut short by an unreadable directory — leaves
    * the rest of the tree to be deleted, not abandoned. The one
    * recursive delete the engine uses (exit-time scratch cleanup,
    * per-query stream checkpoints, [[StoreCatalog]] store removal,
    * probe cleanup). */
  private[graft] def deleteRec(p: Path): Unit = {
    val found = Vector.newBuilder[Path]
    try {
      val st = Files.walk(p)
      try st.forEach(c => found += c) finally st.close()
    } catch { case _: Exception => () } // delete what the walk reached
    found.result().reverseIterator.foreach(c =>
      try Files.deleteIfExists(c) catch { case _: Exception => () })
  }
}
