package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** PERSISTENT INDEX-STORE CATALOG — the create-if-absent lifecycle every
  * ANN / postings / graph store shares (the reference's vector index is a
  * long-lived service: create the index when it doesn't exist, then serve
  * it forever — /root/reference/src/pinecone_utils.py:30-40; this is the
  * embedded analogue for parquet-partitioned stores).
  *
  * A store lives at a STABLE path derived from (family, source tables,
  * config tuple) under one configurable root (`spark.graft.storeRoot`,
  * default `<java.io.tmpdir>/graft_stores`), beside a tiny manifest
  * recording the build config and a FINGERPRINT of the source files
  * (relative path, size, mtime of every data file). Resolution order:
  *
  *   1. session memo (the per-JVM fast path — and the ONLY in-memory
  *      store memo: operators resolve every store through
  *      [[getOrBuild]] on every serve, so nothing above this catalog can
  *      hold a stale or deleted path). A hit still re-stats the sources
  *      and counts only if the fingerprint is unchanged;
  *   2. on-disk manifest whose fingerprint and config match → serve with
  *      ZERO rebuild (this is what a fresh JVM hits: build once in an
  *      indexing session, serve from any number of later sessions);
  *   3. otherwise build into a staging directory and publish by ATOMIC
  *      rename — a crashed build never half-publishes (the manifest is
  *      written last, inside staging), and when two processes race, the
  *      loser adopts the winner's store and discards its own staging.
  *
  * A source-data change (the fixture regenerates between rounds; a
  * production corpus recrawls) flips the fingerprint, so the stale store
  * is rebuilt in place — create-if-absent never serves yesterday's index
  * for today's corpus. Driver state is O(manifest) — a dozen strings —
  * and the data path is whatever partition layout the family's builder
  * writes; the catalog owns WHERE a store lives and WHETHER it is
  * current, never what's inside it.
  *
  * The stream-built stores of [[graft.streaming.StreamOps]] are
  * families here too (`stream_*`, never a batch family's name): their
  * build callback replays the source as a stream whose micro-batches
  * append into the staging parts. That callback creates EVERY part
  * directory before the stream starts — a part no batch writes (an
  * HNSW layer no vector reaches) must still exist, or the on-disk
  * validity check below fails and every later session rebuilds. */
object StoreCatalog {

  /** A resolved, servable store: `parts` maps each named artifact
    * (e.g. "postings", "docs") to its directory; `meta` carries the
    * builder's scalar facts (e.g. the HNSW hierarchy's max level) so a
    * serve session never recomputes build-time constants;
    * `fingerprint` is the source fingerprint the handle was resolved
    * against (memo hits re-validate it — see [[getOrBuild]]). */
  final case class StoreHandle(dir: String, parts: Map[String, String],
                               meta: Map[String, String],
                               fingerprint: String = "")

  /** Build invocations this JVM — specs assert zero rebuild on the
    * serve-from-a-second-session path. */
  private[graft] val buildCount = new AtomicLong(0)

  private val memo =
    new scala.collection.concurrent.TrieMap[String, StoreHandle]()

  /** Forget every in-memory handle (the on-disk stores stay): the spec
    * hook that makes "open a SECOND session and serve with zero
    * rebuild" testable inside one JVM. */
  private[graft] def dropSessionMemo(): Unit = memo.clear()

  private val ManifestName = "_graft_manifest.properties"

  def storeRoot(spark: SparkSession): String =
    spark.conf.get("spark.graft.storeRoot",
      sys.props("java.io.tmpdir") + "/graft_stores")

  /** Stat-walk fingerprint of the source files backing a store: the
    * file COUNT per source plus every regular file's (relative path,
    * size, mtime, tail sentinel) in sorted order, hashed. The tail
    * sentinel — the file's last 16 bytes (for parquet: part of the
    * footer, which moves whenever row-group contents change) — closes
    * the (same size, same mtime-millis) regeneration hole a
    * deterministic fixture writer on a fast disk can hit. Driver-side
    * metadata plus one 16-byte pread per file — still O(file count)
    * however large the corpus. */
  private[graft] def sourceFingerprint(sources: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    sources.sorted.foreach { s =>
      val p = Paths.get(s)
      md.update(s.getBytes("UTF-8"))
      if (Files.exists(p)) {
        val files =
          if (Files.isDirectory(p)) {
            val st = Files.walk(p) // walk holds a dir handle until closed
            try st.iterator().asScala.filter(Files.isRegularFile(_))
              .toSeq.sortBy(_.toString)
            finally st.close()
          } else Seq(p)
        md.update(s"#${files.size}".getBytes("UTF-8"))
        val base = p.toAbsolutePath.normalize()
        files.foreach { f =>
          val rel = base.relativize(f.toAbsolutePath.normalize())
          md.update((s"$rel:${Files.size(f)}:" +
            s"${Files.getLastModifiedTime(f).toMillis}:").getBytes("UTF-8"))
          md.update(tailSentinel(f))
        }
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Last <= 16 bytes of a file — the cheap content witness folded into
    * the fingerprint. */
  private def tailSentinel(f: Path): Array[Byte] = {
    val size = Files.size(f)
    val n = math.min(16L, size).toInt
    if (n == 0) return Array.emptyByteArray
    val ch = Files.newByteChannel(f)
    try {
      ch.position(size - n)
      val buf = java.nio.ByteBuffer.allocate(n)
      while (buf.hasRemaining && ch.read(buf) >= 0) {}
      buf.array()
    } finally ch.close()
  }

  private def canonicalConfig(config: Seq[(String, String)]): String =
    config.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")

  private def keyOf(family: String, sources: Seq[String],
                    config: Seq[(String, String)]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update((family + "|" + sources.sorted.mkString(",") + "|" +
      canonicalConfig(config)).getBytes("UTF-8"))
    family + "-" + md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def loadManifest(dir: Path): Option[java.util.Properties] = {
    val mf = dir.resolve(ManifestName)
    if (!Files.exists(mf)) None
    else {
      val props = new java.util.Properties()
      val in = Files.newInputStream(mf)
      try props.load(in) finally in.close()
      Some(props)
    }
  }

  private def handleFrom(dir: Path,
                         props: java.util.Properties): StoreHandle = {
    val names = props.getProperty("parts", "").split(",").filter(_.nonEmpty)
    val parts = names.map(n => n -> dir.resolve(n).toString).toMap
    val meta = props.stringPropertyNames().asScala
      .filter(_.startsWith("meta."))
      .map(k => k.stripPrefix("meta.") -> props.getProperty(k)).toMap
    StoreHandle(dir.toString, parts, meta)
  }

  /** One catalog row: the directory name (= resolution key), manifest
    * facts, and whether the recorded sources still fingerprint-match
    * (current = servable as-is; stale = next resolve rebuilds). */
  final case class StoreInfo(key: String, family: String, config: String,
                             sources: Seq[String], current: Boolean,
                             dir: String)

  /** Inventory of every store under the root with a readable manifest —
    * the admin surface a long-lived index service needs ("what indexes
    * exist, for what corpus, and are they current"). Driver-side stat
    * walks only. */
  def list(spark: SparkSession): Seq[StoreInfo] = {
    val root = Paths.get(storeRoot(spark))
    if (!Files.exists(root)) return Nil
    val st = Files.list(root)
    val dirs = try st.iterator().asScala
      .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString)
    finally st.close()
    dirs.flatMap { d =>
      loadManifest(d).map { props =>
        val srcs = props.getProperty("sources", "").split("\n").toSeq
          .filter(_.nonEmpty)
        StoreInfo(d.getFileName.toString,
          props.getProperty("family", ""),
          props.getProperty("config", ""),
          srcs,
          srcs.nonEmpty &&
            sourceFingerprint(srcs) == props.getProperty("fingerprint"),
          d.toString)
      }
    }
  }

  /** Delete every STALE store (recorded sources changed or vanished
    * since the build) — catalog hygiene for a shared store root where
    * corpora regenerate. Returns the removed keys. Current stores are
    * never touched; the next resolve of a removed key simply rebuilds. */
  def gcStale(spark: SparkSession): Seq[String] = {
    val stale = list(spark).filterNot(_.current)
    stale.foreach { s =>
      Scratch.deleteRec(Paths.get(s.dir))
      memo.remove(s.key)
    }
    stale.map(_.key)
  }

  /** Remove ONE specific store — the admin op a layout rewrite ends
    * with (re-bucketing / hierarchy raise publishes under the NEW
    * config's key; the old store stays fingerprint-current, so
    * [[gcStale]] will never collect it — the caller retires it here
    * once the new layout serves). Clears the store's session-memo
    * entry; returns whether the store existed. */
  def drop(spark: SparkSession, family: String, sources: Seq[String],
           config: Seq[(String, String)]): Boolean = {
    val key = keyOf(family, sources, config)
    memo.remove(key)
    val dir = Paths.get(storeRoot(spark)).resolve(key)
    val existed = Files.exists(dir)
    Scratch.deleteRec(dir)
    existed
  }

  /** Hardlink every data file of `src` into `dest` at the same
    * relative path (directories created, Spark marker files like
    * _SUCCESS skipped) — the metadata-only "copy" a layout rewrite
    * uses for parts it does not change. Falls back to a real copy when
    * the filesystem refuses links. */
  private[graft] def linkTree(src: Path, dest: Path): Unit = {
    val st = Files.walk(src)
    val files = try st.iterator().asScala
      .filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("_"))
      .toSeq
    finally st.close()
    files.foreach { f =>
      val rel = src.relativize(f)
      val out = dest.resolve(rel)
      Files.createDirectories(out.getParent)
      try Files.createLink(out, f)
      catch { case _: Exception => Files.copy(f, out) }
    }
  }

  /** Whether a store part dir holds data beyond `_SUCCESS`/hidden files. */
  private[graft] def storeNonEmpty(d: String): Boolean = {
    val f = new java.io.File(d).list()
    f != null && f.exists(n => !n.startsWith("_") && !n.startsWith("."))
  }

  /** Resolve the store for (family, sources, config): memo → valid
    * on-disk manifest → build. `build` receives part-name → staging
    * directory and returns the meta map to persist; it runs at most
    * once per (key, fingerprint) ACROSS SESSIONS — the whole point.
    *
    * Every serve calls this — no operator caches the returned handle —
    * and memo hits RE-VALIDATE the source fingerprint (one stat walk +
    * 16-byte tail reads — cheap next to any serve): a source
    * regenerated inside this JVM's lifetime flips the fingerprint and
    * falls through to the rebuild path, so "never serves yesterday's
    * index for today's corpus" holds in-session too, and a store
    * [[gcStale]] or [[drop]] deleted is rebuilt, never served dead. */
  def getOrBuild(spark: SparkSession, family: String, sources: Seq[String],
                 config: Seq[(String, String)], parts: Seq[String])
                (build: Map[String, String] => Map[String, String]): StoreHandle = {
    val key = keyOf(family, sources, config)
    val fp = sourceFingerprint(sources)
    memo.get(key).filter(_.fingerprint == fp).getOrElse {
      memo.remove(key)
      val resolved = resolve(spark, key, family, fp, sources, config, parts)(build)
      memo.put(key, resolved)
      resolved
    }
  }

  private def resolve(spark: SparkSession, key: String, family: String,
                      fp: String, sources: Seq[String],
                      config: Seq[(String, String)], parts: Seq[String])
                     (build: Map[String, String] => Map[String, String]): StoreHandle = {
    val root = Paths.get(storeRoot(spark))
    Files.createDirectories(root)
    val finalDir = root.resolve(key)
    val cfg = canonicalConfig(config)
    def validOnDisk(): Option[java.util.Properties] =
      loadManifest(finalDir).filter { props =>
        props.getProperty("fingerprint") == fp &&
          props.getProperty("config") == cfg &&
          parts.forall(n => Files.exists(finalDir.resolve(n)))
      }
    validOnDisk() match {
      case Some(props) => handleFrom(finalDir, props).copy(fingerprint = fp)
      case None =>
        buildCount.incrementAndGet()
        val staging = Files.createTempDirectory(root, s".build-$key-")
        val partDirs = parts.map(n => n -> staging.resolve(n).toString).toMap
        val meta =
          try build(partDirs)
          catch {
            case e: Throwable => Scratch.deleteRec(staging); throw e
          }
        val props = new java.util.Properties()
        props.setProperty("family", family)
        props.setProperty("fingerprint", fp)
        props.setProperty("config", cfg)
        props.setProperty("sources", sources.sorted.mkString("\n"))
        props.setProperty("parts", parts.mkString(","))
        meta.foreach { case (k, v) => props.setProperty(s"meta.$k", v) }
        val out = Files.newOutputStream(staging.resolve(ManifestName))
        try props.store(out, s"graft $family store") finally out.close()
        publish(root, key, finalDir, staging, fp)
    }
  }

  /** Publish staging as the store by ATOMIC rename, safe against
    * cross-process races. Each attempt: move a pre-existing finalDir
    * aside (it is stale — the valid-manifest check already failed),
    * then rename staging in. Race outcomes handled:
    *   - another process published first → our rename fails
    *     (FileAlreadyExists/DirectoryNotEmpty); if its manifest carries
    *     OUR fingerprint we adopt it and discard staging;
    *   - both saw the same stale store and the other won the move-aside
    *     → our move throws NoSuchFile; retry — either the winner's
    *     publish lands (we adopt) or finalDir is briefly absent and our
    *     own rename succeeds;
    *   - an INCOMPATIBLE manifest (different fingerprint — e.g. the
    *     source is being regenerated under a concurrent writer) → keep
    *     retrying with OUR build, which believes its fingerprint is
    *     current; bounded attempts, staging always deleted on the
    *     failure path. */
  private def publish(root: Path, key: String, finalDir: Path,
                      staging: Path, fp: String): StoreHandle = {
    val MaxAttempts = 20
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        if (Files.exists(finalDir)) {
          val trash = root.resolve(s".trash-$key-${staging.getFileName}-$attempt")
          Files.move(finalDir, trash, StandardCopyOption.ATOMIC_MOVE)
          Scratch.deleteRec(trash)
        }
        Files.move(staging, finalDir, StandardCopyOption.ATOMIC_MOVE)
        return handleFrom(finalDir, loadManifest(finalDir).get)
          .copy(fingerprint = fp)
      } catch {
        // FileAlreadyExists / DirectoryNotEmpty / AccessDenied /
        // NoSuchFile are all FileSystemException subclasses — and the
        // JDK's rename also surfaces a RAW FileSystemException
        // ("Directory not empty") when the target is a non-empty dir,
        // so the base class is the correct net for "the move lost a
        // race"
        case _: java.nio.file.FileSystemException =>
          loadManifest(finalDir).filter(_.getProperty("fingerprint") == fp) match {
            case Some(props) => // compatible winner — adopt its store
              Scratch.deleteRec(staging)
              return handleFrom(finalDir, props).copy(fingerprint = fp)
            case None if attempt < MaxAttempts =>
              // mid-race window (winner moved the stale store aside but
              // hasn't published) or an incompatible build: brief wait,
              // then retry with our own staging
              Thread.sleep(25L * attempt)
            case None =>
              Scratch.deleteRec(staging)
              throw new IllegalStateException(
                s"store $key lost $MaxAttempts publish races to an " +
                  "incompatible build")
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
