package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{Dedup, DocPipeline, Similarity, Sinks, TextAnalytics}
import graft.sources.BinaryIngest

/** A benchmark workload: inputs, a repeatable set-up step, and a
  * measured loop that checks its own outputs. */
trait Workload {
  /** Generate inputs (not part of set-up time). */
  def prepare(ctx: Ctx): Unit
  /** One repetition of the workload's set-up; timed by the caller. */
  def setupRep(ctx: Ctx, rep: Int): Unit
  /** The measured loop, its checks, and its metrics. */
  def run(ctx: Ctx): Unit
}

object Workload {
  /** Set-up repetitions per run; `setup_s` takes their median. */
  val SetupReps = 3

  def apply(name: String): Workload = name match {
    case "etl_batch" | "etl_text" => EtlBatch
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def treeBytes(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.count(!_.getFileName.toString.startsWith(".")).toLong)
    } finally s.close()
  }

  /** A `documents` table (doc_id, text, lang, source, n_chars) under `dir`. */
  def writeCorpus(spark: SparkSession, c: Inputs.Corpus, dir: Path, parts: Int): String = {
    import spark.implicits._
    c.texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "perfbench", t.length.toLong) }
      .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(parts).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  /** Largest share of a traced call's wall that construction, Catalyst
    * and Spark jobs may leave uncovered, and largest share by which the
    * DocPipeline stage differences may miss the full-chain time; a traced
    * run beyond either fails its reconciliation check. */
  val MaxCallGap = 0.25
  val MaxStageGap = 0.5
}

/** The DocPipeline composition both ETL workloads run: binary ingest,
  * then the stages of `StreamOps.streamDocPipeline`, in batch. */
object Pipe {
  val idFromPath: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    p => regexp_extract(p, "doc_(\\d+)\\.[a-z]+$", 1).cast(LongType)

  def parsed(spark: SparkSession, dir: String): DataFrame =
    BinaryIngest.ingest(spark, BinaryIngest.readBinary(spark, dir))

  def docs(spark: SparkSession, dir: String): DataFrame =
    parsed(spark, dir).select(idFromPath(col("file_path")).as("doc_id"),
      col("raw_text").as("text"))

  /** Every prefix of the stage chain, named by its last stage. */
  def prefixes(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    prefixes(spark, docs(spark, dir))

  def prefixes(spark: SparkSession, src: DataFrame): Seq[(String, DataFrame)] = {
    val s1 = DocPipeline.ingest(src)
    val s2 = DocPipeline.clean(s1)
    val s3 = DocPipeline.classifyStage(s2)
    val s4 = DocPipeline.schemaLookup(spark, s3)
    val s5 = DocPipeline.extractValidateWithRetry(s4)
    val s6 = DocPipeline.persist(s5)
    Seq("sources" -> src, "ingest" -> s1, "clean" -> s2, "classify" -> s3,
      "schema" -> s4, "extract_validate" -> s5, "persist" -> s6)
  }

  def full(spark: SparkSession, dir: String): DataFrame = prefixes(spark, dir).last._2

  /** file_url → doc_id (DocPipeline.ingest names each row mem://docs/<id>.txt). */
  def idOfUrl(url: String): Long =
    url.substring(url.lastIndexOf('/') + 1).stripSuffix(".txt").toLong

  /** Per-stage times by prefix-chain differencing (the StageProbe
    * method): each prefix runs to a noop sink, a stage's time is its
    * prefix minus the previous one. The full chain is also timed on
    * its own, and the gap between the two is the reconciliation. */
  def stageProbe(ctx: Ctx, dir: String, reps: Int): Unit = {
    import Workload._
    // stages run over the parsed docs materialized once, so parse-time
    // noise does not swamp the cheap stages' differences
    val base = docs(ctx.spark, dir).localCheckpoint(true)
    val names = prefixes(ctx.spark, base).map(_._1)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val parseT = mutable.ArrayBuffer.empty[Double]
    val fullT = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to reps) {
      names.indices.foreach { i =>
        val t0 = now
        noop(prefixes(ctx.spark, base)(i)._2)
        times.getOrElseUpdate(names(i), mutable.ArrayBuffer.empty) += secs(t0)
      }
      val t0 = now
      noop(docs(ctx.spark, dir))
      parseT += secs(t0)
      val t1 = now
      noop(full(ctx.spark, dir))
      fullT += secs(t1)
    }
    val med = names.map(n => n -> Stats.median(times(n).toSeq)).toMap
    ctx.layers("sources.parse_s") = Stats.median(parseT.toSeq)
    names.sliding(2).foreach { case Seq(prev, cur) =>
      ctx.layers(s"docpipeline.${cur}_s") = med(cur) - med(prev)
    }
    val stageSum = Stats.median(parseT.toSeq) +
      names.sliding(2).map { case Seq(p, c) => med(c) - med(p) }.sum
    val fullMed = Stats.median(fullT.toSeq)
    val gap = math.abs(stageSum - fullMed) / fullMed
    ctx.layers("reconcile.stage_gap_share") = gap
    ctx.check(1, if (gap > Workload.MaxStageGap) 1 else 0,
      f"stage differences sum to the full chain within ${Workload.MaxStageGap} (gap $gap%.3f)")
    ctx.layers("sources.parse_errors") =
      parsed(ctx.spark, dir).filter(col("error").isNotNull).count().toDouble
    ctx.info("stage_probe_full_s") = fullMed
  }

  /** Check rows against planted labels; returns the observed retry share. */
  def checkRows(ctx: Ctx, planted: Map[Long, Inputs.PlantedDoc],
                rows: Seq[(Long, String, Int, Option[Double])], what: String): Double = {
    val seen = mutable.Map.empty[Long, Int]
    var bad = 0L
    rows.foreach { case (id, dt, retry, amount) =>
      seen(id) = seen.getOrElse(id, 0) + 1
      planted.get(id) match {
        case None => bad += 1
        case Some(p) =>
          val amountOk = (p.expectedAmount, amount) match {
            case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
            case (None, None) => true
            case _ => false
          }
          if (dt != p.docType || retry != p.expectedRetry || !amountOk) bad += 1
      }
    }
    bad += planted.keys.count(id => seen.getOrElse(id, 0) != 1)
    ctx.check(planted.size, bad, s"$what: doc_type/retry_count/amount or exactly-once")
    rows.count(_._3 > 0).toDouble / math.max(1, rows.size)
  }
}

// ------------------------------------------------------------ etl workloads

/** Both ETL workloads: a drop dir of one-document files through binary
  * ingest, the DocPipeline stages and the parquet sink. etl_batch mixes
  * every parser arm; etl_text is text only, so the stages and the sink
  * carry its time. */
object EtlBatch extends Workload {
  import Workload._
  private var main: Inputs.DocSet = _
  private var warm: Seq[Inputs.DocSet] = Nil

  private def docSet(ctx: Ctx, seed: Long, dir: Path, n: Int): Inputs.DocSet = {
    val mix = {
      val m = ctx.params.get("format_mix")
      m.fieldNames().asScala.toSeq.map(k => k -> m.get(k).asDouble())
    }
    Inputs.etlDocs(seed, dir, n, 0L, mix, ctx.dbl("negative_amount_share"),
      ctx.dbl("malformed_email_share"), ctx.ints("words_per_doc").head,
      ctx.ints("words_per_doc")(1))
  }

  def prepare(ctx: Ctx): Unit = {
    main = docSet(ctx, ctx.seed, ctx.dir("in/drop"), ctx.int("docs"))
    warm = (1 to SetupReps).map(r => docSet(ctx, ctx.seed * 31 + r, ctx.dir(s"in/warm$r"),
      ctx.int("warm_docs")))
    ctx.info("inputs") = main.params ++ Map("warm_docs" -> ctx.int("warm_docs"))
  }

  private def write(ctx: Ctx, src: Path, out: Path): Unit =
    Sinks.writeDocumentsOut(Pipe.full(ctx.spark, src.toString), out.toString)

  def setupRep(ctx: Ctx, rep: Int): Unit = {
    val out = ctx.work.resolve(s"out/warm$rep")
    write(ctx, warm(rep - 1).dir, out)
    deleteTree(out)
  }

  private lazy val planted: Map[Long, Inputs.PlantedDoc] = main.docs.map(d => d.id -> d).toMap

  /** Every pass's written rows: one per planted doc, with its doc_type. */
  private def checkOutput(ctx: Ctx, out: Path): Unit = {
    val rows = ctx.spark.read.parquet(out.toString).select("file_url", "doc_type").collect()
    val seen = mutable.Map.empty[Long, Int]
    var bad = 0L
    rows.foreach { r =>
      val id = Pipe.idOfUrl(r.getString(0))
      seen(id) = seen.getOrElse(id, 0) + 1
      if (!planted.get(id).exists(_.docType == r.getString(1))) bad += 1
    }
    bad += planted.keys.count(id => seen.getOrElse(id, 0) != 1)
    ctx.check(planted.size, bad, "etl_batch written rows/doc_type")
  }

  def run(ctx: Ctx): Unit = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val calls = mutable.ArrayBuffer.empty[CallTrace]
    var outBytes = 0L; var outFiles = 0L
    var i = 0
    val wall0 = now
    while (lat.sum < ctx.seconds || lat.size < 3) {
      val out = ctx.work.resolve(s"out/p$i")
      val t0 = now
      ctx.tracer match {
        case Some(t) =>
          val (_, c) = t.call("etl_pass")(Pipe.full(ctx.spark, main.dir.toString))(df =>
            Sinks.writeDocumentsOut(df, out.toString))
          calls += c
        case None => write(ctx, main.dir, out)
      }
      // a traced pass includes the tracer's fences, so the traced rate
      // against the untraced one is the tracing overhead
      lat += secs(t0)
      checkOutput(ctx, out)
      val (b, f) = treeBytes(out)
      outBytes = b; outFiles = f
      deleteTree(out)
      i += 1
    }
    val wall = secs(wall0)
    // per median pass, so one stalled pass does not move it
    ctx.e2e("docs_per_s") = main.docs.size / Stats.median(lat.toSeq)
    ctx.info("passes") = lat.size
    ctx.info("pass_p50_s") = Stats.median(lat.toSeq)
    ctx.info("pass_s") = lat.map(x => math.round(x * 1e4) / 1e4)
    val rows = Pipe.full(ctx.spark, main.dir.toString)
      .select(col("doc_id"), col("doc_type"), col("retry_count"), col("x_amount")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    val retryShare = Pipe.checkRows(ctx, planted, rows, "etl_batch pipeline rows")
    ctx.tracer.foreach { t =>
      ctx.callLayers(calls.toSeq, calls.size, calls.map(_.wallS).sum)
      ctx.layers("docpipeline.retry_share") = retryShare
      ctx.layers("sinks.output_mb") = outBytes / 1048576.0
      ctx.layers("sinks.files") = outFiles.toDouble
      ctx.layers("trace.docs_per_s") = ctx.e2e("docs_per_s")
      ctx.layers("trace.overhead_share") = t.ownNs.get / 1e9 / wall
      Pipe.stageProbe(ctx, main.dir.toString, ctx.int("probe_reps"))
      val writeS = Stats.median(calls.map(_.execS).toSeq) - ctx.info("stage_probe_full_s").asInstanceOf[Double]
      ctx.layers("sinks.write_s") = math.max(0.0, writeS)
      // the layers no end-to-end workload runs, probed where the params ask
      Option(ctx.params.get("stream")).foreach(StreamProbe.run(ctx, t, _))
      Option(ctx.params.get("curate")).foreach(CurationProbe.run(ctx, t, _))
      Option(ctx.params.get("search")).foreach(SearchProbe.run(ctx, t, _))
    }
  }
}

// ------------------------------------------------------------- curation probe

/** Corpus curation over a Zipf corpus with planted near-duplicate
  * clusters: `Dedup.exactDedup`, `TextAnalytics.qualityFilter`,
  * `Dedup.lshPairs` and `Dedup.dedupKeep`, each traced and checked
  * against the planted clusters. Run inside the etl_batch traced run;
  * it reports the Dedup layer. */
object CurationProbe {
  import Workload._

  private val ops: Seq[(String, (SparkSession, String, Double) => DataFrame)] = Seq(
    "exact" -> ((s, d, _) => Dedup.exactDedup(s, d)),
    "quality" -> ((s, d, _) => TextAnalytics.qualityFilter(s, d)),
    "lsh" -> ((s, d, j) => Dedup.lshPairs(s, d, minJ = j)),
    "keep" -> ((s, d, j) => Dedup.dedupKeep(s, d, minJ = j)))

  def run(ctx: Ctx, t: Tracer, p: com.fasterxml.jackson.databind.JsonNode): Unit = {
    def int(k: String) = p.get(k).asInt()
    def dbl(k: String) = p.get(k).asDouble()
    def pair(k: String) = (p.get(k).get(0).asInt(), p.get(k).get(1).asInt())
    val minJ = dbl("min_jaccard")
    val (minW, maxW) = pair("words_per_doc")
    val main = Inputs.corpus(ctx.seed * 7 + 1, int("docs"), int("vocabulary"), dbl("zipf_s"),
      minW, maxW, dbl("dup_share"), pair("cluster_sizes"), pair("edits_per_copy"),
      dbl("exact_copy_share"), dbl("short_share"))
    val dir = writeCorpus(ctx.spark, main, ctx.dir("curate/corpus"), ctx.cores)
    val n = main.texts.length
    val exactGroups: Set[(Long, Long)] = main.texts.indices.groupBy(i => main.texts(i)).values
      .map(ids => (ids.min.toLong, ids.size.toLong)).toSet
    // the planted pairs are all the exact pairs: a chance near-duplicate
    // between unrelated Zipf documents would also break the kept set
    val pairs = main.exactPairs(minJ)
    val kept = main.keptAfter(pairs)
    val perOp = mutable.Map.empty[String, mutable.ArrayBuffer[CallTrace]]
    var verified = 0.0
    for (_ <- 1 to int("passes")) {
      val out = ops.map { case (name, op) =>
        val (rows, c) = t.call(name)(op(ctx.spark, dir, minJ))(_.collect())
        perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += c
        name -> rows
      }.toMap
      // lshPairs persists its signatures; every pass starts cold
      ctx.spark.catalog.clearCache()
      val ex = out("exact").map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies"))).toSet
      ctx.check(1, if (ex == exactGroups) 0 else 1,
        s"exactDedup groups (${ex.size} vs ${exactGroups.size} planted)")
      val q = out("quality").map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      val qBad = (0 until n).count(i => !q.get(i.toLong).contains(!main.shortIds(i.toLong)))
      ctx.check(1, if (qBad == 0) 0 else 1, s"qualityFilter keep flags ($qBad docs wrong)")
      val l = out("lsh").map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      val lBad = l.count(x => !pairs(x))
      ctx.check(1, if (lBad == 0) 0 else 1, s"lshPairs not within exact pairs ($lBad pairs)")
      val k = out("keep").map(_.getAs[Long]("doc_id")).toSet
      ctx.check(1, if (k == kept) 0 else 1,
        s"dedupKeep kept set (${k.size} vs ${kept.size} planted)")
      verified = l.length.toDouble
    }
    ops.foreach { case (op, _) =>
      ctx.layers(s"dedup.${op}_s") = Stats.median(perOp(op).map(_.wallS).toSeq)
    }
    val lshNodes = perOp("lsh").last.qes.flatMap(t.nodes)
    val candidates = lshNodes.collect {
      case a: BaseAggregateExec if a.output.map(_.name) == Seq("a_id", "b_id") =>
        t.metric(a, "numOutputRows")
    }.filter(_ > 0).minOption.getOrElse(0L).toDouble
    val keepNodes = perOp("keep").last.qes.flatMap(t.nodes)
    val joinRows = keepNodes.collect {
      case j: BaseJoinExec if j.output.exists(_.name == "s_a") => t.metric(j, "numOutputRows")
    }.sum.toDouble
    val pairsKept = keepNodes.collect {
      case f: FilterExec if f.child.output.exists(_.name == "inter") => t.metric(f, "numOutputRows")
    }.sum.toDouble
    ctx.layers("dedup.lsh_candidates") = candidates
    ctx.layers("dedup.lsh_yield") = if (candidates > 0) verified / candidates else 0.0
    ctx.layers("dedup.keep_join_rows") = joinRows
    ctx.layers("dedup.keep_yield") = if (joinRows > 0) pairsKept / joinRows else 0.0
    ctx.info("curation") = main.params ++ Map("min_jaccard" -> minJ,
      "planted_clusters" -> main.clusters.size, "planted_pairs" -> pairs.size, "kept" -> kept.size)
  }
}

// --------------------------------------------------------------- search probe

/** A closed loop with one client over stores built through
  * `StoreCatalog`: BM25 postings and IVF cells, each built three times
  * on a fresh corpus copy under a fresh `spark.graft.storeRoot`, then a
  * seeded cycle of `bm25SearchFromStore` (Zipf-drawn terms),
  * `hybridSearchFromStore` and `Similarity.ivfTopKFromStore` requests,
  * a sample of them checked against the in-plan twins. Run inside the
  * etl_text traced run; it reports the StoreCatalog and serve layers. */
object SearchProbe {
  import Workload._
  sealed trait Req
  final case class Bm25(terms: Seq[String], k: Int) extends Req
  final case class Hybrid(terms: Seq[String], k: Int) extends Req
  final case class Ivf(k: Int, nQueries: Int, nProbe: Int) extends Req

  def run(ctx: Ctx, t: Tracer, p: com.fasterxml.jackson.databind.JsonNode): Unit = {
    def int(k: String) = p.get(k).asInt()
    def dbl(k: String) = p.get(k).asDouble()
    def pair(k: String) = (p.get(k).get(0).asInt(), p.get(k).get(1).asInt())
    val spark = ctx.spark
    val seed = ctx.seed * 13 + 5
    val n = int("docs")
    val (minW, maxW) = pair("words_per_doc")
    val cells = int("ivf_cells")
    val c = Inputs.corpus(seed, n, int("vocabulary"), dbl("zipf_s"), minW, maxW,
      0.0, (2, 2), (0, 0), 0.0, 0.0)
    val vocabByRank = Inputs.vocabulary(new java.util.Random(seed ^ 0xC0DEL), int("vocabulary"))
    val base = ctx.dir("search/base")
    writeCorpus(spark, c, base, ctx.cores)
    import spark.implicits._
    Inputs.embeddings(seed + 7, n, int("dim"), int("emb_clusters")).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq, i % 10) }.toSeq
      .toDF("vec_id", "embedding", "label").repartition(ctx.cores)
      .write.parquet(base.resolve("embeddings.parquet").toString)

    // set-up: each repetition builds both stores on its own corpus copy
    // under its own store root, timed with the first serve
    val buildS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def root(rep: Int) = ctx.work.resolve(s"search/stores/r$rep")
    val dirs = (1 to 3).map { rep =>
      val d = ctx.work.resolve(s"search/r$rep")
      copyTree(base, d)
      spark.conf.set("spark.graft.storeRoot", root(rep).toString)
      val t0 = now
      TextAnalytics.bm25SearchFromStore(spark, d.toString, Seq(vocabByRank(0)), 10).collect()
      buildS.getOrElseUpdate("bm25_postings", mutable.ArrayBuffer.empty) += secs(t0)
      val t1 = now
      Similarity.ivfTopKFromStore(spark, d.toString, 3, 5, cells, 1).collect()
      buildS.getOrElseUpdate("ivf_cells", mutable.ArrayBuffer.empty) += secs(t1)
      d.toString
    }
    val dir = dirs.last
    def served(r: Req): DataFrame = r match {
      case Bm25(ts, k) => TextAnalytics.bm25SearchFromStore(spark, dir, ts, k)
      case Hybrid(ts, k) => TextAnalytics.hybridSearchFromStore(spark, dir, ts, k)
      case Ivf(k, q, np) => Similarity.ivfTopKFromStore(spark, dir, k, q, cells, np)
    }
    def twin(r: Req): DataFrame = r match {
      case Bm25(ts, k) => TextAnalytics.bm25Search(spark, dir, ts, k)
      case Hybrid(ts, k) => TextAnalytics.hybridSearch(spark, dir, ts, k)
      case Ivf(k, q, np) => Similarity.ivfTopK(spark, dir, k, q, cells, np)
    }
    // the set-up served bm25 and ivf; warm the hybrid path once
    served(Hybrid(Seq(vocabByRank(1)), 10)).collect()

    // the kind mix is a fixed cycle; the seed draws each request's terms
    // (Zipf over the corpus vocabulary) and ivf parameters
    val rng = new java.util.Random(seed * 17 + 3)
    val zipf = new Inputs.Zipf(vocabByRank.length, dbl("term_zipf_s"))
    val (minT, maxT) = pair("terms_per_request")
    val cycle = p.get("kind_cycle").asText()
    val reqs = (0 until int("requests")).map { i =>
      def terms = Seq.fill(minT + rng.nextInt(maxT - minT + 1))(vocabByRank(zipf.draw(rng))).distinct
      cycle(i % cycle.length) match {
        case 'b' => Bm25(terms, 10)
        case 'h' => Hybrid(terms, 10)
        case _ => Ivf(3 + 2 * rng.nextInt(2), 5 * (1 + rng.nextInt(2)), 1 + rng.nextInt(3))
      }
    }
    val builds0 = graft.StoreCatalog.buildCount.get
    val answers = reqs.map { r =>
      val (rows, call) = t.call("serve")(served(r))(_.collect())
      (r, rows, call)
    }
    val rebuilds = graft.StoreCatalog.buildCount.get - builds0
    val wrong = answers.take(int("check_max")).count { case (r, rows, _) =>
      val ok = twin(r).collect().toSeq == rows.toSeq
      if (!ok) System.err.println(s"[perfbench] $r: served rows differ from the in-plan twin")
      !ok
    }
    ctx.check(math.min(answers.size, int("check_max")), wrong, "served answers vs in-plan twins")
    ctx.check(1, if (rebuilds == 0) 0 else 1, s"stores rebuilt while serving ($rebuilds)")

    val calls = answers.map(_._3)
    buildS.foreach { case (fam, xs) => ctx.layers(s"store.build_s.$fam") = Stats.median(xs.toSeq) }
    ctx.layers("store.builds") = rebuilds.toDouble
    val (storeBytes, _) = treeBytes(root(dirs.size))
    val (inBytes, _) = treeBytes(java.nio.file.Paths.get(dir))
    ctx.layers("store.mb") = storeBytes / 1048576.0
    ctx.layers("store.bytes_per_input_byte") = storeBytes.toDouble / inBytes
    ctx.layers("serve.construct_s") = Stats.median(calls.map(_.constructS))
    ctx.layers("serve.exec_s") = Stats.median(calls.map(_.execS))
    ctx.layers("serve.jobs") = Stats.median(calls.map(x => (x.construct.jobs + x.exec.jobs).toDouble))
    ctx.layers("serve.files_read") = Stats.median(calls.map(x => t.filesRead(x.qes).toDouble))
    ctx.info("search") = c.params ++ Map("vectors" -> n, "dim" -> int("dim"),
      "emb_clusters" -> int("emb_clusters"), "ivf_cells" -> cells, "kind_cycle" -> cycle,
      "requests" -> reqs.size, "terms_per_request" -> Seq(minT, maxT),
      "term_zipf_s" -> dbl("term_zipf_s"), "request_p50_s" -> Stats.median(calls.map(_.wallS)))
  }
}

// ------------------------------------------------------------- stream probe

/** The same DocPipeline used latency-bound: an open-loop file-drop
  * stream through `StreamOps.streamDocPipeline` under a foreachBatch
  * sink owned by the benchmark, at a few fixed rates. Run inside the
  * etl_batch traced run; it reports the StreamOps layer. */
object StreamProbe {
  import Workload._

  /** Rows the sink has seen: (doc_id, doc_type, retry_count, x_amount,
    * arrival ns). */
  final class Arrivals {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Option[Double], Long)]()
    def ids: Set[Long] = rows.asScala.map(_._1).toSet
  }

  private def start(ctx: Ctx, drop: Path, sink: Arrivals) = {
    val f: (DataFrame, Long) => Unit = (batch, _) => {
      val got = batch.select(col("doc_id"), col("doc_type"), col("retry_count"), col("x_amount"))
        .collect()
      val t = System.nanoTime()
      got.foreach(r => sink.rows.add((r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), t)))
    }
    // the engine's default checkpoint root (GraftSession), no location here
    graft.streaming.StreamOps.streamDocPipeline(ctx.spark, drop.toString,
        p => regexp_extract(p, "doc_(\\d+)\\.txt$", 1).cast(LongType))
      .writeStream.foreachBatch(f).start()
  }

  private def drop(staging: Path, drop: Path, d: Inputs.PlantedDoc, text: String): Unit = {
    val tmp = staging.resolve(d.fileName)
    Files.write(tmp, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, drop.resolve(d.fileName), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def await(sink: Arrivals, ids: Set[Long], timeoutS: Double): Boolean = {
    val t0 = now
    while (!ids.subsetOf(sink.ids) && secs(t0) < timeoutS) Thread.sleep(5)
    ids.subsetOf(sink.ids)
  }

  def run(ctx: Ctx, t: Tracer, p: com.fasterxml.jackson.databind.JsonNode): Unit = {
    def dbl(k: String) = p.get(k).asDouble()
    val rates = (0 until p.get("rates").size).map(p.get("rates").get(_).asDouble())
    val ref = dbl("reference_rate")
    val limit = dbl("latency_limit_s")
    val phaseS = dbl("phase_s")
    var nextId = 0L
    val phaseDocs = rates.map { r =>
      val n = math.max(1, (r * phaseS).round.toInt)
      val docs = Inputs.streamTexts(ctx.seed * 1000003L + nextId, n, nextId,
        dbl("negative_amount_share"), p.get("words_per_doc").asInt())
      nextId += n
      docs
    }
    val planted = phaseDocs.flatten.map { case (d, _) => d.id -> d }.toMap
    val dropDir = ctx.dir("stream/drop")
    val staging = ctx.dir("stream/stage")
    val sink = new Arrivals
    val q = start(ctx, dropDir, sink)
    val due = mutable.Map.empty[Long, Long]
    val lateness = mutable.ArrayBuffer.empty[Double]
    val perRate = mutable.LinkedHashMap.empty[Double, (Seq[Double], Int)]
    try {
      Thread.sleep(300) // let the first (empty) trigger pass
      rates.zip(phaseDocs).foreach { case (rate, docs) =>
        // one generator thread drops docs on a fixed schedule; latency
        // counts from each doc's due time
        val gen0 = now + 50000000L
        val gen = new Thread(() => docs.zipWithIndex.foreach { case ((d, text), i) =>
          val dueNs = gen0 + (i * 1e9 / rate).toLong
          val wait = dueNs - now
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          drop(staging, dropDir, d, text)
          due.synchronized { due(d.id) = dueNs }
          lateness.synchronized { lateness += secs(dueNs) }
        })
        gen.start(); gen.join()
        val arrivedIds = sink.ids
        val backlog = docs.count(x => !arrivedIds.contains(x._1.id))
        await(sink, docs.map(_._1.id).toSet, 30)
        val arrival = sink.rows.asScala.map(r => r._1 -> r._5).toMap
        val lat = docs.flatMap { case (d, _) => arrival.get(d.id).map(a => (a - due(d.id)) / 1e9) }
        perRate(rate) = (lat, backlog)
      }
    } finally { q.stop(); q.awaitTermination(30000) }
    val rows = sink.rows.asScala.toSeq.map(r => (r._1, r._2, r._3, r._4))
    Pipe.checkRows(ctx, planted, rows, "stream arrivals")
    val ok = perRate.collect { case (r, (lat, backlog))
      if lat.nonEmpty && Stats.tail(lat)._2 <= limit && backlog <= math.max(2.0, r * limit) => r }
    val maxRate = if (ok.isEmpty) 0.0 else ok.max
    ctx.info("stream") = Map("rates_per_s" -> rates, "reference_rate" -> ref,
      "latency_limit_s" -> limit, "phase_s" -> phaseS, "max_rate" -> maxRate,
      "per_rate" -> perRate.map { case (r, (lat, b)) =>
        r.toString -> Map("p50_s" -> Stats.median(lat), "tail_s" -> Stats.tail(lat)._2,
          "tail_percentile" -> Stats.tail(lat)._1, "samples" -> lat.size, "backlog_files" -> b)
      }.toMap)
    val prog = t.progress.asScala.toSeq.map(_.progress).filter(x => x.id == q.id && x.numInputRows > 0)
    def phase(k: String) = Stats.median(prog.map(x =>
      Option(x.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)))
    ctx.layers("stream.batches") = prog.size.toDouble
    ctx.layers("stream.rows_per_batch") = Stats.mean(prog.map(_.numInputRows.toDouble))
    ctx.layers("stream.latest_offset_s") = phase("latestOffset")
    ctx.layers("stream.query_planning_s") = phase("queryPlanning")
    ctx.layers("stream.add_batch_s") = phase("addBatch")
    ctx.layers("stream.wal_commit_s") = phase("walCommit")
    ctx.layers("stream.commit_offsets_s") = phase("commitOffsets")
    ctx.layers("stream.backlog_files") = perRate.values.map(_._2.toDouble).max
    ctx.layers("stream.generator_late_s") = Stats.quantile(lateness.toSeq, 0.99)
    ctx.layers("stream.max_rate") = maxRate
    ctx.layers("stream.p50_s") = Stats.median(perRate(ref)._1)
    ctx.layers("stream.tail_s") = Stats.tail(perRate(ref)._1)._2
  }
}
