package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TextAnalytics, TextSearch}
import graft.streaming.StreamOps

/** The batch build and the stream build of each per-row index family
  * (bm25, phrase and trigram postings, IVF cells, PQ codes) write
  * through one ingest kernel. Over the same fixture the two stores hold
  * the same rows in the same partition dirs, and a stream store gains
  * at most one sorted file per touched bucket per micro-batch. */
class IngestKernelSpec extends AnyFunSuite {
  import TestSession.spark

  /** Micro-batches the stream stores replay the fixture in. */
  private val Batches = 3

  /** The fixture's documents and embeddings, each split by id into
    * `Batches` single-file parts with increasing mtimes: a stream store
    * replays one part per micro-batch. */
  private lazy val fixture: String = {
    val base = Scratch.dir("ingest_fixture")
    for ((table, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val src = spark.read.parquet(s"${TestSession.sfDir}/$table.parquet")
      val out = Files.createDirectory(base.resolve(s"$table.parquet"))
      for (b <- 0 until Batches) {
        val tmp = Scratch.dir(s"ingest_$table").toString
        src.filter(col(id) % Batches === b)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        val dest = out.resolve(s"b$b.parquet")
        Files.move(part, dest)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1000000L * (b + 1)))
      }
    }
    base.toString
  }

  /** Run `body` on a fresh store root; the dir of each store it built,
    * by catalog family. AQE partition coalescing is off: at fixture
    * scale it folds any shuffle into one task, and one file per bucket
    * must come from the clustering, not from a small input. */
  private def built(body: => Unit): Map[String, String] = {
    val confs = Seq("spark.graft.storeRoot" -> Scratch.dir("ingest_root").toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    StoreCatalog.dropSessionMemo()
    try {
      body
      StoreCatalog.list(spark).map(i => i.family -> i.dir).toMap
    } finally {
      StoreCatalog.dropSessionMemo()
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  private def partitionDirs(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.contains("=")).toSet

  /** Equal rows as a multiset (partition column included) and the same
    * partition dirs. */
  private def sameStore(batchDir: String, streamDir: String): Unit = {
    val b = spark.read.parquet(batchDir)
    val s = spark.read.parquet(streamDir)
    assert(b.columns.sorted.sameElements(s.columns.sorted),
      s"${b.columns.mkString(",")} vs ${s.columns.mkString(",")}")
    val s2 = s.select(b.columns.map(col).toSeq: _*)
    assert(b.count() > 0)
    assert(b.exceptAll(s2).isEmpty && s2.exceptAll(b).isEmpty,
      s"$streamDir holds other rows than $batchDir")
    assert(partitionDirs(batchDir) == partitionDirs(streamDir))
  }

  /** Binary (UTF-8 byte) order for strings, as Spark sorts them. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Every `bucket=` dir holds at most `maxFiles` data files, and each
    * file's rows are sorted by `keys`. */
  private def clustered(dir: String, bucket: String, keys: Seq[String],
                        maxFiles: Int): Unit = {
    val dirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith(s"$bucket="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val n = d.list().count(_.endsWith(".parquet"))
      assert(n <= maxFiles, s"${d.getName} holds $n files, more than $maxFiles")
    }
    val rows = spark.read.parquet(dir)
      .select(keys.map(col) :+ input_file_name().as("f"): _*).collect()
    rows.groupBy(_.getString(keys.length)).foreach { case (f, rs) =>
      val ks = rs.map(r => keys.indices.map(r.get))
      val sorted = ks.iterator.sliding(2).withPartial(false).forall { case Seq(x, y) =>
        x.zip(y).map { case (a, b) => cmp(a, b) }.find(_ != 0).getOrElse(0) <= 0
      }
      assert(sorted, s"$f is not sorted by ${keys.mkString(", ")}")
    }
  }

  test("bm25 postings: the stream store holds the batch rows, one sorted " +
    "file per bucket per micro-batch") {
    val s = built {
      TextAnalytics.buildBm25Store(spark, fixture)
      StreamOps.bm25StreamStore(spark, fixture)
    }
    val (b, st) = (s("bm25_postings"), s("stream_bm25_postings"))
    sameStore(s"$b/postings", s"$st/posts")
    sameStore(s"$b/docs", s"$st/docs")
    clustered(s"$b/postings", "tbucket", Seq("word", "doc_id"), 1)
    clustered(s"$st/posts", "tbucket", Seq("word", "doc_id"), Batches)
  }

  test("phrase postings: the stream store holds the batch rows, one sorted " +
    "file per bucket per micro-batch") {
    val s = built {
      TextAnalytics.phraseSearchFromStore(spark, fixture)
      StreamOps.phraseStreamStore(spark, fixture)
    }
    val (b, st) = (s("phrase_postings"), s("stream_phrase_postings"))
    sameStore(s"$b/postings", s"$st/posts")
    clustered(s"$b/postings", "tbucket", Seq("word", "doc_id", "pos"), 1)
    clustered(s"$st/posts", "tbucket", Seq("word", "doc_id", "pos"), Batches)
  }

  test("trigram postings: the stream store holds the batch rows and stored " +
    "fields, one sorted file per bucket per micro-batch") {
    val s = built {
      TextSearch.buildTrigramStore(spark, fixture)
      StreamOps.trigramStreamStore(spark, fixture)
    }
    val (b, st) = (s("trigram_postings"), s("stream_trigram_postings"))
    sameStore(s"$b/postings", s"$st/posts")
    sameStore(s"$b/docs", s"$st/docs")
    clustered(s"$b/postings", "tgbucket", Seq("tg", "doc_id"), 1)
    clustered(s"$st/posts", "tgbucket", Seq("tg", "doc_id"), Batches)
    clustered(s"$b/docs", "dbucket", Seq("doc_id"), 1)
    clustered(s"$st/docs", "dbucket", Seq("doc_id"), Batches)
  }

  private def seedCodebook = Similarity.seedCodebook(
    Tables.loadWide(spark, fixture, "embeddings"), 8)

  test("IVF cells: the stream store holds the batch rows, one sorted file " +
    "per cell per micro-batch") {
    val s = built {
      Similarity.ivfTopKFromStore(spark, fixture)
      StreamOps.ivfStreamStore(spark, fixture, 8, seedCodebook)
    }
    val (b, st) = (s("ivf_cells"), s("stream_ivf_cells"))
    sameStore(s"$b/cells", s"$st/store")
    clustered(s"$b/cells", "cell", Seq("vec_id"), 1)
    clustered(s"$st/store", "cell", Seq("vec_id"), Batches)
  }

  test("PQ codes: the stream store holds the batch rows") {
    val s = built {
      Similarity.pqRerankFromStore(spark, fixture)
      StreamOps.pqStreamStore(spark, fixture, 8, 4, 64, seedCodebook)
    }
    sameStore(s"${s("pq_codes")}/codes", s"${s("stream_pq_codes")}/store")
  }

  test("the first IVF and PQ store builds submit no more jobs than their " +
    "hand-written builds did") {
    var ivf, pq = 0
    val s = built {
      ivf = TestSession.countJobs(
        Similarity.ivfTopKFromStore(spark, TestSession.sfDir, nQueries = 5))
      pq = TestSession.countJobs(
        Similarity.pqRerankFromStore(spark, TestSession.sfDir, nQueries = 5))
    }
    assert(s.keySet == Set("ivf_cells", "pq_codes"))
    info(s"jobs: ivfTopKFromStore $ivf, pqRerankFromStore $pq")
    assert(ivf <= IvfBuildJobs && pq <= PqBuildJobs,
      s"ivf $ivf (at most $IvfBuildJobs), pq $pq (at most $PqBuildJobs)")
  }

  /** Jobs of the first construction (codebook collect, store build,
    * serve preamble) when each build was written by hand; the kernels'
    * emptiness check keeps the builds at these counts. */
  private val IvfBuildJobs = 11
  private val PqBuildJobs = 7
}
