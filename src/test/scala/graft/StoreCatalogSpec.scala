package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalytics}

/** The persistent-store contract: an index store is built ONCE per corpus
  * lifetime and any later session serves it with ZERO rebuild — the
  * embedded analogue of a create-if-absent vector index service
  * (reference: src/pinecone_utils.py:30-40). */
class StoreCatalogSpec extends AnyFunSuite {
  import TestSession.spark

  test("a SECOND session serves hnsw/bm25/ivf/graph/pq stores from disk " +
    "with zero rebuild and identical results") {
    val dir = TestSession.sfDir
    val root = Scratch.dir("catalog_spec_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    StoreCatalog.dropSessionMemo()
    try {
      def runAll(s: org.apache.spark.sql.SparkSession) = Map(
        "hnsw" -> Similarity.hnswSearchFromStore(s, dir, nQueries = 3,
          stepsUpper = 2, beamWidth = 2, steps = 2).collect().toSeq,
        "beam" -> Similarity.graphBeamSearchFromStore(s, dir, nQueries = 3,
          beamWidth = 2, steps = 2).collect().toSeq,
        "ivf" -> Similarity.ivfTopKFromStore(s, dir, nQueries = 5)
          .collect().toSeq,
        "pq" -> Similarity.pqRerankFromStore(s, dir, nQueries = 5)
          .collect().toSeq,
        "bm25" -> TextAnalytics.bm25SearchFromStore(s, dir)
          .collect().toSeq)

      // session 1: indexing — every store builds exactly once
      val before = StoreCatalog.buildCount.get()
      val built = runAll(spark)
      val afterBuild = StoreCatalog.buildCount.get()
      assert(afterBuild - before == 5,
        s"expected 5 store builds, got ${afterBuild - before}")
      assert(built.values.forall(_.nonEmpty))

      // the stores landed under the catalog root with manifests
      val stores = new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
      assert(stores.length == 5, stores.map(_.getName).mkString(","))
      stores.foreach { f =>
        assert(new java.io.File(f, "_graft_manifest.properties").exists(),
          s"no manifest in ${f.getName}")
      }

      // "fresh JVM": drop every in-memory handle, open a SECOND session
      StoreCatalog.dropSessionMemo()
      val session2 = spark.newSession()
      session2.conf.set(key, root)
      val served = runAll(session2)
      assert(StoreCatalog.buildCount.get() == afterBuild,
        "a second session rebuilt a store the catalog already holds")
      assert(served == built, "served results differ from the build session")
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("create-if-absent: same (source, config) resolves to the same store; " +
    "a config change or a source-file change rebuilds") {
    val root = Scratch.dir("catalog_unit_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    try {
      val src = Scratch.dir("catalog_src")
      Files.write(src.resolve("data.bin"), Array.fill(64)(7.toByte))
      def resolve(tag: String) = {
        StoreCatalog.dropSessionMemo()
        StoreCatalog.getOrBuild(spark, "unit", Seq(src.toString),
          Seq("tag" -> tag), Seq("part")) { parts =>
          Files.createDirectories(Paths.get(parts("part")))
          Files.write(Paths.get(parts("part"), "x"), "x".getBytes)
          Map("note" -> tag)
        }
      }
      val b0 = StoreCatalog.buildCount.get()
      val h1 = resolve("a")
      assert(StoreCatalog.buildCount.get() == b0 + 1)
      assert(h1.meta("note") == "a" && Files.exists(Paths.get(h1.parts("part"))))
      // same source+config, fresh memo: discovered from disk, no rebuild
      val h2 = resolve("a")
      assert(StoreCatalog.buildCount.get() == b0 + 1)
      assert(h2.dir == h1.dir)
      // different config: a DIFFERENT store (the first one untouched)
      val h3 = resolve("b")
      assert(StoreCatalog.buildCount.get() == b0 + 2)
      assert(h3.dir != h1.dir)
      // source change (mtime flip): fingerprint mismatch, in-place rebuild
      Files.setLastModifiedTime(src.resolve("data.bin"),
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(src.resolve("data.bin")).toMillis + 5000))
      val h4 = resolve("a")
      assert(StoreCatalog.buildCount.get() == b0 + 3)
      assert(h4.dir == h1.dir, "a stale store must rebuild IN PLACE")
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("catalog admin: list inventories stores with currency; gcStale removes " +
    "exactly the stores whose sources changed") {
    val root = Scratch.dir("catalog_admin_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    try {
      val srcA = Scratch.dir("catalog_src_a")
      val srcB = Scratch.dir("catalog_src_b")
      Files.write(srcA.resolve("a"), "a".getBytes)
      Files.write(srcB.resolve("b"), "b".getBytes)
      def build(fam: String, src: java.nio.file.Path) =
        StoreCatalog.getOrBuild(spark, fam, Seq(src.toString), Nil,
          Seq("part")) { parts =>
          Files.createDirectories(Paths.get(parts("part")))
          Map.empty
        }
      build("fam_a", srcA)
      build("fam_b", srcB)
      val all = StoreCatalog.list(spark)
      assert(all.size == 2 && all.forall(_.current),
        all.map(i => (i.key, i.current)).toString)
      assert(all.map(_.family).toSet == Set("fam_a", "fam_b"))
      // corpus A regenerates: its store goes stale, B stays current
      Files.setLastModifiedTime(srcA.resolve("a"),
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(srcA.resolve("a")).toMillis + 5000))
      val afterTouch = StoreCatalog.list(spark)
      assert(afterTouch.count(_.current) == 1 &&
        afterTouch.find(!_.current).get.family == "fam_a")
      val removed = StoreCatalog.gcStale(spark)
      assert(removed.size == 1 && removed.head.startsWith("fam_a-"))
      val left = StoreCatalog.list(spark)
      assert(left.size == 1 && left.head.family == "fam_b" &&
        left.head.current)
      // the gc'd key resolves again by REBUILDING (memo was dropped too)
      val b0 = StoreCatalog.buildCount.get()
      build("fam_a", srcA)
      assert(StoreCatalog.buildCount.get() == b0 + 1)
      assert(StoreCatalog.list(spark).size == 2)
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a memo HIT re-validates the source fingerprint: an in-session " +
    "source regeneration rebuilds instead of serving the stale store") {
    val root = Scratch.dir("catalog_memo_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    try {
      val src = Scratch.dir("catalog_memo_src")
      Files.write(src.resolve("d"), "one".getBytes)
      def resolve() =
        StoreCatalog.getOrBuild(spark, "memofp", Seq(src.toString),
          Nil, Seq("part")) { parts =>
          Files.createDirectories(Paths.get(parts("part")))
          Map.empty
        }
      val b0 = StoreCatalog.buildCount.get()
      resolve()
      resolve() // memo hit, fingerprint unchanged: no rebuild
      assert(StoreCatalog.buildCount.get() == b0 + 1)
      // regenerate the source WITHOUT touching the session memo
      Files.setLastModifiedTime(src.resolve("d"),
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(src.resolve("d")).toMillis + 5000))
      resolve()
      assert(StoreCatalog.buildCount.get() == b0 + 2,
        "memo hit served a stale store after in-session source change")
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("operator serves see an in-session source rewrite: bm25 and ivf " +
    "rebuild their store once and equal the in-plan twin on the new rows") {
    type Q = (org.apache.spark.sql.SparkSession, String) =>
      Seq[org.apache.spark.sql.Row]
    // (name, source table, id column, store serve, in-plan twin)
    val cases = Seq[(String, String, String, Q, Q)](
      ("bm25", "documents", "doc_id",
        (s, d) => TextAnalytics.bm25SearchFromStore(s, d).collect().toSeq,
        (s, d) => TextAnalytics.bm25Search(s, d).collect().toSeq),
      ("ivf", "embeddings", "vec_id",
        (s, d) => Similarity.ivfTopKFromStore(s, d, nQueries = 5)
          .collect().toSeq,
        (s, d) => Similarity.ivfTopK(s, d, nQueries = 5).collect().toSeq))
    val root = Scratch.dir("catalog_rewrite_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    StoreCatalog.dropSessionMemo()
    try cases.foreach { case (name, table, id, served, twin) =>
      val dir = Scratch.dir(s"catalog_rewrite_$name")
      StoreCatalog.linkTree(Paths.get(TestSession.sfDir), dir)
      val before = served(spark, dir.toString)
      // regenerate the source with a different row set
      spark.read.parquet(s"${TestSession.sfDir}/$table.parquet")
        .filter(col(id) % 3 =!= 2)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
      val b0 = StoreCatalog.buildCount.get()
      val after = served(spark, dir.toString)
      assert(StoreCatalog.buildCount.get() == b0 + 1,
        s"$name: the rewritten source did not rebuild its store")
      assert(after != before, s"$name: the rewrite did not change the answer")
      assert(after == twin(spark, dir.toString),
        s"$name: the serve answered from the pre-rewrite store")
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("fingerprint sees a content change even at identical (size, mtime): " +
    "the tail sentinel catches same-millisecond regeneration") {
    val src = Scratch.dir("catalog_sentinel_src")
    val f = src.resolve("d")
    Files.write(f, "aaaaaaaaaaaaaaaaaaaaaaaa".getBytes)
    val mtime = Files.getLastModifiedTime(f)
    val fp1 = StoreCatalog.sourceFingerprint(Seq(src.toString))
    Files.write(f, "aaaaaaaaaaaaaaaaaaaaaaab".getBytes) // same size
    Files.setLastModifiedTime(f, mtime) // same mtime-millis
    val fp2 = StoreCatalog.sourceFingerprint(Seq(src.toString))
    assert(fp1 != fp2, "same-size same-mtime regeneration fingerprinted equal")
    // file-count changes are seen even when the stat triple would collide
    Files.write(src.resolve("e"), Array.emptyByteArray)
    val fp3 = StoreCatalog.sourceFingerprint(Seq(src.toString))
    assert(fp3 != fp2)
  }

  test("gcStale leaves CURRENT stores alone; drop retires a CURRENT " +
    "store by exact (family, sources, config)") {
    val root = Scratch.dir("catalog_drop_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    try {
      val src = Scratch.dir("catalog_drop_src")
      Files.write(src.resolve("d"), "d".getBytes)
      def build(cfg: Seq[(String, String)]) =
        StoreCatalog.getOrBuild(spark, "dropfam", Seq(src.toString),
          cfg, Seq("part")) { parts =>
          Files.createDirectories(Paths.get(parts("part")))
          Map.empty
        }
      build(Seq("buckets" -> "64"))
      build(Seq("buckets" -> "256")) // the re-bucketed layout
      assert(StoreCatalog.list(spark).size == 2)
      // both stores are fingerprint-CURRENT: gcStale must not touch them
      assert(StoreCatalog.gcStale(spark).isEmpty)
      assert(StoreCatalog.list(spark).size == 2)
      // retiring the old layout is drop's job — exact key
      assert(StoreCatalog.drop(spark, "dropfam", Seq(src.toString),
        Seq("buckets" -> "64")))
      val left = StoreCatalog.list(spark)
      assert(left.size == 1 && left.head.config.contains("buckets=256"))
      // dropping a store that is already gone reports false
      assert(!StoreCatalog.drop(spark, "dropfam", Seq(src.toString),
        Seq("buckets" -> "64")))
      // once the source changes, gcStale collects the survivor
      Files.setLastModifiedTime(src.resolve("d"),
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(src.resolve("d")).toMillis + 5000))
      assert(StoreCatalog.gcStale(spark).size == 1)
      assert(StoreCatalog.list(spark).isEmpty)
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("two concurrent resolvers of the same STALE store both finish with " +
    "a valid handle (the move-aside race: loser retries or adopts, " +
    "staging never leaks)") {
    val root = Scratch.dir("catalog_race_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    try {
      val src = Scratch.dir("catalog_race_src")
      Files.write(src.resolve("d"), "d".getBytes)
      def resolve(sleepMs: Long) =
        StoreCatalog.getOrBuild(spark, "racefam", Seq(src.toString),
          Nil, Seq("part")) { parts =>
          Thread.sleep(sleepMs)
          Files.createDirectories(Paths.get(parts("part")))
          Map.empty
        }
      resolve(0) // seed the store
      // stale it, then race two resolvers from a cold memo
      Files.setLastModifiedTime(src.resolve("d"),
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(src.resolve("d")).toMillis + 5000))
      StoreCatalog.dropSessionMemo()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // both threads bypass the memo fast path by starting simultaneously
      val fa = Future(StoreCatalog.getOrBuild(spark, "racefam",
        Seq(src.toString), Nil, Seq("part")) { parts =>
        Thread.sleep(50)
        Files.createDirectories(Paths.get(parts("part")))
        Map.empty
      })
      val fb = Future(StoreCatalog.getOrBuild(spark, "racefam",
        Seq(src.toString), Nil, Seq("part")) { parts =>
        Thread.sleep(50)
        Files.createDirectories(Paths.get(parts("part")))
        Map.empty
      })
      val ha = Await.result(fa, 60.seconds)
      val hb = Await.result(fb, 60.seconds)
      assert(ha.dir == hb.dir)
      assert(Files.exists(Paths.get(ha.parts("part"))))
      // no staging or trash directories leaked
      val leftovers = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("."))
      assert(leftovers.isEmpty, leftovers.map(_.getName).mkString(","))
      // and the published store is current
      val infos = StoreCatalog.list(spark).filter(_.family == "racefam")
      assert(infos.size == 1 && infos.head.current)
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("catalog-managed re-bucketing: the widened graph store serves " +
    "byte-identical walks; drop retires the old layout with zero stale " +
    "reads and zero rebuilds of the new one") {
    val dir = TestSession.sfDir
    val root = Scratch.dir("catalog_rebucket_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    StoreCatalog.dropSessionMemo()
    try {
      val r1 = Similarity.graphBeamSearchFromStore(spark, dir, nQueries = 3,
        beamWidth = 2, steps = 2).collect().toSeq
      val oldDir = Similarity.buildGraphStore(spark, dir, 8)
      val newDir = Similarity.rebucketGraphStore(spark, dir, 8, 256)
      // the widened layout spans buckets beyond the old width
      val buckets = new java.io.File(newDir).list()
        .filter(_.startsWith("gbucket=")).map(_.stripPrefix("gbucket=").toInt)
      assert(buckets.max >= 64, s"max bucket ${buckets.max} not widened")
      // serve continuity: byte-identical walk off the widened store
      val r2 = Similarity.graphBeamServeFrom(spark, dir, newDir, 256,
        nQueries = 3, beamWidth = 2, steps = 2).collect().toSeq
      assert(r2 == r1)
      // retire the old layout — fingerprint-current, so this is drop's job
      assert(StoreCatalog.drop(spark, "knn_graph",
        Seq(s"$dir/embeddings.parquet"),
        Seq("deg" -> "8", "buckets" -> "64")))
      assert(!Files.exists(Paths.get(oldDir)), "old layout still on disk")
      // the widened store resolves and serves with ZERO rebuild
      val b0 = StoreCatalog.buildCount.get()
      val resolved = Similarity.buildGraphStore(spark, dir, 8, 256)
      assert(StoreCatalog.buildCount.get() == b0, "re-resolve rebuilt")
      val r3 = Similarity.graphBeamServeFrom(spark, dir, resolved, 256,
        nQueries = 3, beamWidth = 2, steps = 2).collect().toSeq
      assert(r3 == r1)
      // no cached handle outlives the drop: the default-width serve
      // re-resolves through the catalog, which republishes the dropped
      // layout instead of reading the deleted directory
      val b1 = StoreCatalog.buildCount.get()
      val r4 = Similarity.graphBeamSearchFromStore(spark, dir, nQueries = 3,
        beamWidth = 2, steps = 2).collect().toSeq
      assert(r4 == r1)
      assert(StoreCatalog.buildCount.get() == b1 + 1,
        "the default-width serve did not rebuild the dropped store")
      assert(Files.exists(Paths.get(oldDir)))
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("catalog-managed re-bucketing of the postings store: the widened " +
    "layout serves byte-identical BM25, the doc-length part hardlinks " +
    "across, and after dropping the old layout the new one resolves " +
    "with zero rebuild") {
    val dir = TestSession.sfDir
    val root = Scratch.dir("catalog_postings_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    StoreCatalog.dropSessionMemo()
    try {
      val terms = Seq("vector", "scan", "merge")
      val r1 = TextAnalytics.bm25SearchFromStore(spark, dir).collect().toSeq
      val (_, ddOld) = TextAnalytics.buildBm25Store(spark, dir)
      val (pd2, dd2) = TextAnalytics.rebucketBm25Store(spark, dir, 256)
      // serve continuity at the widened width
      val r2 = TextAnalytics.serveBm25(spark, dir,
        TextAnalytics.prunedPostings(spark, pd2, terms, 256),
        spark.read.parquet(dd2), terms, 20).collect().toSeq
      assert(r2 == r1)
      // the bucket-independent docs part is the SAME inodes
      def firstParquet(base: String): java.nio.file.Path = {
        val st = Files.walk(Paths.get(base))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.find(p =>
            Files.isRegularFile(p) && p.toString.endsWith(".parquet")).get
        } finally st.close()
      }
      assert(Files.isSameFile(firstParquet(ddOld), firstParquet(dd2)),
        "docs part was copied, not hardlinked")
      // retire the old layout; the widened store must resolve from its
      // manifest without any rebuild
      assert(StoreCatalog.drop(spark, "bm25_postings",
        Seq(s"$dir/documents.parquet"),
        Seq("buckets" -> TextAnalytics.PostingsBuckets.toString)))
      val b0 = StoreCatalog.buildCount.get()
      val h = StoreCatalog.getOrBuild(spark, "bm25_postings",
        Seq(s"$dir/documents.parquet"),
        Seq("buckets" -> "256"), Seq("postings", "docs")) { _ =>
        sys.error("widened store should resolve from disk, not rebuild")
      }
      assert(StoreCatalog.buildCount.get() == b0,
        "resolving the widened store after the drop rebuilt something")
      val r3 = TextAnalytics.serveBm25(spark, dir,
        TextAnalytics.prunedPostings(spark, h.parts("postings"), terms, 256),
        spark.read.parquet(h.parts("docs")), terms, 20).collect().toSeq
      assert(r3 == r1)
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("hierarchy raise: lower layers are hardlinked and serve " +
    "byte-identical at the old parameters; the new top layer equals a " +
    "direct build and re-caps the entry set 16x") {
    val dir = TestSession.sfDir
    val root = Scratch.dir("catalog_raise_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    StoreCatalog.dropSessionMemo()
    try {
      val (d1, maxl1) = Similarity.buildHnswStore(spark, dir, 8, cap = 1)
      assert(maxl1 == 1, s"fixture should populate level 1, got $maxl1")
      val rOld = Similarity.hnswServeFromStore(spark, dir, d1, maxl1,
        nQueries = 3, stepsUpper = 2, beamWidth = 2, steps = 2)
        .collect().toSeq
      val (d2, maxl2) = Similarity.raiseHnswMaxLevel(spark, dir, 8,
        fromCap = 1, toCap = 2)
      assert(maxl2 == 2, s"raise should populate level 2, got $maxl2")
      // serve-identical at the OLD parameters: the walk reads only the
      // layers the rewrite hardlinked
      val rAtOld = Similarity.hnswServeFromStore(spark, dir, d2, 1,
        nQueries = 3, stepsUpper = 2, beamWidth = 2, steps = 2)
        .collect().toSeq
      assert(rAtOld == rOld)
      // the raised entry layer is a 16x re-cap (nonempty, strictly
      // smaller than the old top layer)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n1 = emb.filter(
        Similarity.hnswLevelCol(col("vec_id"), 1) === 1).count()
      val n2 = emb.filter(
        Similarity.hnswLevelCol(col("vec_id"), 2) === 2).count()
      assert(n2 > 0 && n2 < n1, s"entry re-cap: $n1 -> $n2")
      // the raised store serves at the new entry layer
      val rRaised = Similarity.hnswServeFromStore(spark, dir, d2, 2,
        nQueries = 3, stepsUpper = 2, beamWidth = 2, steps = 2)
        .collect().toSeq
      assert(rRaised.nonEmpty)
      // the new top layer is EXACTLY the graph a direct build computes
      // over the raised level's nodes (at sf0.001 level 2 holds one
      // node — a legitimately empty graph, equal on both sides; the
      // NON-degenerate equality is pinned by the 0 -> 1 raise below)
      def layerEdges(store: String, l: Int) =
        spark.read.parquet(store).where(col("lvl") === l)
          .select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      def directEdges(minLvl: Int, cap: Int, deg: Int) = {
        val nodes = emb.filter(
            Similarity.hnswLevelCol(col("vec_id"), cap) >= minLvl)
          .select(col("vec_id"), col("embedding"))
        Similarity.knnGraphFrom(nodes, deg,
            Similarity.adaptiveBits(nodes.count()))
          .select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      }
      assert(layerEdges(d2, 2) == directEdges(2, 2, 8))
      // a flat (cap 0) hierarchy raised to cap 1 — at deg 6 so neither
      // catalog key collides with the stores built above and the
      // REWRITE path (not a fresh build) provably produced the layer:
      // the added layer holds the fixture's ~n/16 level-1 nodes, a
      // real graph
      val (d0, m0) = Similarity.buildHnswStore(spark, dir, 6, cap = 0)
      assert(m0 == 0)
      val bRaise = StoreCatalog.buildCount.get()
      val (d01, m01) = Similarity.raiseHnswMaxLevel(spark, dir, 6,
        fromCap = 0, toCap = 1)
      assert(m01 == 1)
      assert(StoreCatalog.buildCount.get() == bRaise + 1,
        "raise resolved an existing store instead of rewriting")
      val raisedL1 = layerEdges(d01, 1)
      assert(raisedL1 == directEdges(1, 1, 6) && raisedL1.nonEmpty)
      // and its base layer is the flat store's, hardlinked
      assert(layerEdges(d01, 0) == layerEdges(d0, 0))
      // metadata-shaped rewrite: a base-layer file in the raised store
      // is the SAME inode as the old store's (hardlink, not a copy)
      def firstParquet(base: String): java.nio.file.Path = {
        val st = Files.walk(Paths.get(base))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.find(p =>
            Files.isRegularFile(p) &&
              p.toString.endsWith(".parquet")).get
        } finally st.close()
      }
      val f1 = firstParquet(s"$d1/lvl=0")
      val f2 = Paths.get(d2).resolve(Paths.get(d1).relativize(f1))
      assert(Files.exists(f2) && Files.isSameFile(f1, f2),
        "base layer was copied, not hardlinked")
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a crashed build publishes nothing; the next resolve builds cleanly") {
    val root = Scratch.dir("catalog_crash_root").toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    try {
      val src = Scratch.dir("catalog_crash_src")
      Files.write(src.resolve("d"), "d".getBytes)
      intercept[RuntimeException] {
        StoreCatalog.getOrBuild(spark, "crash", Seq(src.toString),
          Nil, Seq("part")) { _ => throw new RuntimeException("boom") }
      }
      StoreCatalog.dropSessionMemo()
      // no half-published store directory is visible
      val visible = new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
      assert(visible.isEmpty, visible.map(_.getName).mkString(","))
      val h = StoreCatalog.getOrBuild(spark, "crash", Seq(src.toString),
        Nil, Seq("part")) { parts =>
        Files.createDirectories(Paths.get(parts("part")))
        Map.empty
      }
      assert(Files.exists(Paths.get(h.dir, "_graft_manifest.properties")))
    } finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Run `body` under a fresh store root and an empty session memo,
    * restoring the previous root afterwards. */
  private def withFreshRoot(prefix: String)(body: String => Unit): Unit = {
    val root = Scratch.dir(prefix).toString
    val key = "spark.graft.storeRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, root)
    StoreCatalog.dropSessionMemo()
    try body(root)
    finally {
      StoreCatalog.dropSessionMemo()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream twins see an in-session source rewrite: the exact-dedup and " +
    "DSIR-refresh stores rebuild once and equal their batch twins on the new rows") {
    import graft.streaming.StreamOps
    import graft.functions.TextFunctions.fingerprint
    type Q = (org.apache.spark.sql.SparkSession, String) =>
      Seq[org.apache.spark.sql.Row]
    // (name, stream twin, batch twin): an append-only seen-store and a
    // multi-part store whose every batch also rewrites a model version
    val cases = Seq[(String, Q, Q)](
      ("exact_dedup",
        (s, d) => StreamOps.streamExactDedupStoreQuery(s, d).collect().toSeq,
        (s, d) => Tables.load(s, d, "documents")
          .groupBy(fingerprint(col("text"))).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id")).orderBy(col("doc_id")).collect().toSeq),
      ("dsir_refresh",
        (s, d) => StreamOps.streamDsirRefreshQuery(s, d).collect().toSeq,
        (s, d) => TextAnalytics.dsirSelect(s, d).collect().toSeq))
    withFreshRoot("catalog_stream_rewrite_root") { _ =>
      cases.foreach { case (name, streamed, twin) =>
        val dir = Scratch.dir(s"catalog_stream_rewrite_$name")
        StoreCatalog.linkTree(Paths.get(TestSession.sfDir), dir)
        val before = streamed(spark, dir.toString)
        assert(before.nonEmpty && before == twin(spark, dir.toString), name)
        TestSession.replaceTableByMove(dir, "documents", col("doc_id") % 3 =!= 2)
        val b0 = StoreCatalog.buildCount.get()
        val after = streamed(spark, dir.toString)
        assert(StoreCatalog.buildCount.get() == b0 + 1,
          s"$name: the rewritten source did not rebuild its store exactly once")
        assert(after != before, s"$name: the rewrite did not change the answer")
        assert(after == twin(spark, dir.toString),
          s"$name: the twin answered from the pre-rewrite store")
      }
    }
  }

  test("stream stores serve a SECOND session from disk: no rebuild, no " +
    "stream started — an HNSW layer no batch wrote included") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.streaming.StreamingQueryListener
    withFreshRoot("catalog_stream_session_root") { root =>
      val full = Scratch.dir("catalog_stream_full")
      StoreCatalog.linkTree(Paths.get(TestSession.sfDir), full)
      // every vector on level 0: the upper layers' stores are never
      // written, only pre-created
      val base = Scratch.dir("catalog_stream_level0")
      StoreCatalog.linkTree(Paths.get(TestSession.sfDir), base)
      TestSession.replaceTableByMove(base, "embeddings",
        Similarity.hnswLevelCol(col("vec_id")) === 0)
      def runAll(s: org.apache.spark.sql.SparkSession) = Map(
        "dedup" -> StreamOps.streamExactDedupStoreQuery(s, full.toString)
          .collect().toSeq,
        "hnsw" -> StreamOps.streamHnswSearchQuery(s, full.toString, nQueries = 5,
          stepsUpper = 2, beamWidth = 4, steps = 3).collect().toSeq,
        "hnsw_level0" -> StreamOps.streamHnswSearchQuery(s, base.toString,
          nQueries = 5, stepsUpper = 2, beamWidth = 4, steps = 3).collect().toSeq)
      val b0 = StoreCatalog.buildCount.get()
      val built = runAll(spark)
      val afterBuild = StoreCatalog.buildCount.get()
      assert(afterBuild - b0 == 3, s"expected 3 store builds, got ${afterBuild - b0}")
      assert(built.values.forall(_.nonEmpty))
      val upper = StreamOps.hnswStreamStores(spark, base.toString).drop(1)
      assert(upper.nonEmpty && upper.forall { case (n, e) =>
        Seq(n, e).forall(d => Option(new java.io.File(d).list()).exists(_.isEmpty))
      }, s"expected empty, present upper-layer parts: $upper")

      StoreCatalog.dropSessionMemo()
      val session2 = spark.newSession()
      session2.conf.set("spark.graft.storeRoot", root)
      val started = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
          started.incrementAndGet()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      Seq(spark, session2).foreach(_.streams.addListener(listener))
      val served =
        try runAll(session2)
        finally Seq(spark, session2).foreach(_.streams.removeListener(listener))
      assert(StoreCatalog.buildCount.get() == afterBuild,
        "a second session rebuilt a stream store the catalog already holds")
      assert(started.get == 0, s"${started.get} streams started on the serve path")
      assert(served == built, "served results differ from the build session")
    }
  }
}
