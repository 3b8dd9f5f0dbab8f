package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sources.{DocFormats, GlyphOcr, HtmlFormat}

/** The one seeded input generator shared by the workloads and probes. Every
  * input is a pure function of (seed, parameters); the parameters that
  * shaped an input are returned beside it so each result can record
  * them. Expected outputs are planted here and checked by the
  * workloads — the engine never sees them. */
object Inputs {

  /** Synthetic lowercase words that cannot hit any classifier keyword
    * pattern, so a planted doc type is the only label a document can
    * score. */
  def vocabulary(rng: java.util.Random, size: Int): Array[String] = {
    val forbidden = graft.functions.TextFunctions.labels
      .flatMap { case (_, pat) => pat.stripPrefix("(").stripSuffix(")").split('|') }
      .flatMap(alt => alt +: alt.split(' ').toSeq)
      .distinct
    val onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n",
      "p", "r", "s", "t", "v", "w", "z", "br", "cl", "dr", "gr", "pl", "st", "tr")
    val vowels = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syl = 1 + rng.nextInt(3)
      val w = (0 until syl).map(_ =>
        onsets(rng.nextInt(onsets.length)) + vowels(rng.nextInt(vowels.length))).mkString +
        (if (rng.nextBoolean()) onsets(rng.nextInt(onsets.length)) else "")
      if (w.length >= 3 && !forbidden.exists(w.contains)) seen += w
    }
    seen.toArray
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(rng: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def writeFile(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  // ---------------------------------------------------------------- docs

  /** Keywords planted per doc type (each hits only its own label). */
  val typeKeywords: Seq[(String, Seq[String])] = Seq(
    "invoice" -> Seq("invoice", "subtotal"),
    "contract" -> Seq("agreement", "hereby"),
    "receipt" -> Seq("receipt", "cashier"),
    "form" -> Seq("applicant", "checkbox"),
    "report" -> Seq("findings", "summary"),
    "transcript" -> Seq("transcript", "semester"),
    "cover letter" -> Seq("position"),
    "resume" -> Seq("experience", "skills"),
    "other" -> Seq.empty)

  /** Doc types whose retrieved schema reads `amount` (advisory `other`
    * included): a negative amount there fails the first validation and
    * takes exactly one retry. */
  val amountTypes: Set[String] = Set("invoice", "receipt", "other")

  final case class PlantedDoc(id: Long, fmt: String, docType: String,
                              amount: Double, negative: Boolean) {
    def expectedRetry: Int = if (negative && amountTypes(docType)) 1 else 0
    def expectedAmount: Option[Double] =
      if (docType == "other" || graft.operators.DocPipeline.typesWanting("amount").contains(docType))
        Some(math.abs(amount)) else None
    def fileName: String = s"doc_$id.${ext(fmt)}"
  }

  def ext(fmt: String): String = fmt match {
    case "text" => "txt"
    case other => other
  }

  /** The engine's C1 classifier replayed on the driver: keyword-hit
    * counts over the first 500 lowercased chars, first-label-wins ties,
    * `other` when nothing hits. Guards the generator against a
    * document that would score a label other than the planted one. */
  def classifyLikeEngine(text: String): String = {
    val cleaned = text.replaceAll("\\s+", " ").replaceAll("[^\\w\\s.,\\-():]", "").trim
    val in = cleaned.substring(0, math.min(500, cleaned.length)).toLowerCase
    val scores = graft.functions.TextFunctions.labels.map { case (name, pat) =>
      val m = java.util.regex.Pattern.compile(pat).matcher(in)
      var n = 0
      while (m.find()) n += 1
      name -> n
    }
    val best = scores.map(_._2).max
    if (best == 0) "other" else scores.find(_._2 == best).get._1
  }

  /** One pipeline document's text: planted keywords, an amount, a
    * (possibly malformed) email, an ISO date and a phone, separated by
    * filler words. `ocrSafe` keeps to the OCR atlas (no '@'). */
  def docText(rng: java.util.Random, vocab: Array[String], docType: String,
              amount: Double, malformedEmail: Boolean, ocrSafe: Boolean,
              words: Int): String = {
    def filler(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.length)))
    val kws = typeKeywords.find(_._1 == docType).get._2
    val amountStr = f"$amount%.2f"
    val date = f"20${10 + rng.nextInt(15)}%02d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
    val phone = f"(${200 + rng.nextInt(700)}) ${100 + rng.nextInt(900)}-${1000 + rng.nextInt(9000)}"
    val user = vocab(rng.nextInt(vocab.length))
    val host = vocab(rng.nextInt(vocab.length))
    val email =
      if (ocrSafe) s"$user at $host"
      else if (malformedEmail) s"$user@@$host"
      else s"$user.${vocab(rng.nextInt(vocab.length))}@$host.com"
    val parts = Seq(filler(3), kws, filler(4), Seq("total", amountStr), filler(4),
      Seq("contact", email), filler(3), Seq("dated", date, "call", phone),
      filler(math.max(0, words - 20)), kws)
    parts.flatten.mkString(" ")
  }

  def shuffled[T](rng: java.util.Random, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.map(_.asInstanceOf[T])
  }

  final case class DocSet(dir: Path, docs: Seq[PlantedDoc], params: Map[String, Any])

  /** A drop dir of one-document files covering every parser arm. */
  def etlDocs(seed: Long, dir: Path, n: Int, idBase: Long,
              mix: Seq[(String, Double)], negShare: Double, badEmailShare: Double,
              minWords: Int, maxWords: Int): DocSet = {
    val rng = new java.util.Random(seed)
    val vocab = vocabulary(new java.util.Random(seed ^ 0x5EEDL), 4000)
    val types = typeKeywords.map(_._1)
    // exact shares, shuffled by the seed: every seed parses the same
    // format and doc-type composition
    val total = mix.map(_._2).sum
    val fmts = {
      val counts = mix.map { case (f, w) => f -> math.floor(n * w / total).toInt }
      val fill = Seq.fill(n - counts.map(_._2).sum)(mix.head._1)
      shuffled(rng, counts.flatMap { case (f, c) => Seq.fill(c)(f) } ++ fill)
    }
    val docTypes = shuffled(rng, (0 until n).map(i => types(i % types.length)))
    val negatives = shuffled(rng, (0 until n).map(_ < math.round(n * negShare)))
    val docs = (0 until n).map { i =>
      val id = idBase + i
      val fmt = fmts(i)
      val docType = docTypes(i)
      val negative = negatives(i)
      val amount = (if (negative) -1 else 1) * (1 + rng.nextInt(99999)) / 100.0
      // OCR cost grows with length and the few images pack into one
      // task, so images get the mean length; the rest spread evenly
      val words =
        if (fmt == "png") (minWords + maxWords) / 2
        else minWords + (i.toLong * (maxWords - minWords + 1) / n).toInt
      var text = ""
      var tries = 0
      do {
        text = docText(rng, vocab, docType, amount, rng.nextDouble() < badEmailShare,
          fmt == "png", words)
        tries += 1
        require(tries < 50, s"cannot plant an unambiguous $docType document")
      } while (classifyLikeEngine(text) != docType)
      val d = PlantedDoc(id, fmt, docType, amount, negative)
      val bytes = fmt match {
        case "text" => text.getBytes(UTF_8)
        case "pdf" => DocFormats.buildPdf(Seq(text))
        case "docx" => DocFormats.buildDocx(Seq(text))
        case "html" => HtmlFormat.buildHtml(id, text, "")
        case "png" => GlyphOcr.renderNoisy(text, seed = id)
      }
      writeFile(dir.resolve(d.fileName), bytes)
      d
    }
    DocSet(dir, docs, Map("docs" -> n, "format_mix" -> mix.toMap,
      "negative_amount_share" -> negShare, "malformed_email_share" -> badEmailShare,
      "words_per_doc" -> Seq(minWords, maxWords), "doc_types" -> types))
  }

  /** Text-only docs for the stream generator (the stream reads .txt). */
  def streamTexts(seed: Long, n: Int, idBase: Long, negShare: Double,
                  words: Int): Seq[(PlantedDoc, String)] = {
    val rng = new java.util.Random(seed)
    val vocab = vocabulary(new java.util.Random(seed ^ 0x5EEDL), 4000)
    val types = typeKeywords.map(_._1)
    (0 until n).map { i =>
      val docType = types(rng.nextInt(types.length))
      val negative = rng.nextDouble() < negShare
      val amount = (if (negative) -1 else 1) * (1 + rng.nextInt(99999)) / 100.0
      var text = ""
      do text = docText(rng, vocab, docType, amount, rng.nextBoolean(), false, words)
      while (classifyLikeEngine(text) != docType)
      (PlantedDoc(idBase + i, "text", docType, amount, negative), text)
    }
  }

  // -------------------------------------------------------------- corpus

  final case class Corpus(texts: Array[String], params: Map[String, Any],
                          shortIds: Set[Long], clusters: Seq[Seq[Long]]) {
    /** Distinct word bigrams, as the engine's WordBigrams computes them
      * on single-space-joined lowercase text. */
    def bigrams(id: Long): Set[String] = {
      val t = texts(id.toInt).split(' ')
      (0 until t.length - 1).map(i => t(i) + " " + t(i + 1)).toSet
    }
    def jaccard(a: Long, b: Long): Double = {
      val (x, y) = (bigrams(a), bigrams(b))
      val inter = x.count(y)
      inter.toDouble / (x.size + y.size - inter)
    }
    /** Planted near-duplicate pairs at or above `minJ` (a < b). */
    def exactPairs(minJ: Double): Set[(Long, Long)] =
      clusters.flatMap { c =>
        for (a <- c; b <- c if a < b && jaccard(a, b) >= minJ) yield (a, b)
      }.toSet
    /** Ids kept by representative selection over `pairs`. */
    def keptAfter(pairs: Set[(Long, Long)]): Set[Long] = {
      val parent = mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      texts.indices.map(_.toLong).filter(id => find(id) == id).toSet
    }
  }

  /** A Zipf corpus with planted near-duplicate clusters, exact copies
    * and too-short documents. Doc ids are 0..n-1. */
  def corpus(seed: Long, n: Int, vocabSize: Int, zipfS: Double,
             minWords: Int, maxWords: Int, dupShare: Double,
             clusterSizes: (Int, Int), editsPerCopy: (Int, Int),
             exactCopyShare: Double, shortShare: Double): Corpus = {
    val rng = new java.util.Random(seed)
    val vocab = vocabulary(new java.util.Random(seed ^ 0xC0DEL), vocabSize)
    val zipf = new Zipf(vocabSize, zipfS)
    def zipfDoc(len: Int) = Array.fill(len)(vocab(zipf.draw(rng)))
    val texts = new Array[String](n)
    val shortIds = mutable.Set.empty[Long]
    val clusters = mutable.ArrayBuffer.empty[Seq[Long]]
    var i = 0
    val dupTarget = (n * dupShare).toInt
    var dupUsed = 0
    while (i < n) {
      val len = minWords + rng.nextInt(maxWords - minWords + 1)
      if (dupUsed < dupTarget && rng.nextDouble() < dupShare * 1.5) {
        val size = math.min(n - i,
          clusterSizes._1 + rng.nextInt(clusterSizes._2 - clusterSizes._1 + 1))
        val base = zipfDoc(len)
        val ids = (0 until size).map { c =>
          val words = base.clone()
          if (c > 0 && rng.nextDouble() >= exactCopyShare) {
            val edits = editsPerCopy._1 + rng.nextInt(editsPerCopy._2 - editsPerCopy._1 + 1)
            (0 until edits).foreach(_ => words(rng.nextInt(words.length)) = vocab(zipf.draw(rng)))
          }
          texts(i) = words.mkString(" ")
          i += 1
          (i - 1).toLong
        }
        if (size > 1) clusters += ids
        dupUsed += size
      } else if (rng.nextDouble() < shortShare) {
        // rare tail words only, so short docs never pair up by chance
        texts(i) = Array.fill(3)(vocab(vocabSize / 2 + rng.nextInt(vocabSize / 2))).mkString(" ")
        shortIds += i.toLong
        i += 1
      } else {
        texts(i) = zipfDoc(len).mkString(" ")
        i += 1
      }
    }
    Corpus(texts, Map("docs" -> n, "vocabulary" -> vocabSize, "zipf_s" -> zipfS,
      "words_per_doc" -> Seq(minWords, maxWords), "dup_share" -> dupShare,
      "cluster_sizes" -> Seq(clusterSizes._1, clusterSizes._2),
      "edits_per_copy" -> Seq(editsPerCopy._1, editsPerCopy._2),
      "exact_copy_share" -> exactCopyShare, "short_share" -> shortShare),
      shortIds.toSet, clusters.toSeq)
  }

  /** Seeded 64-d embeddings around `nClusters` random centers. */
  def embeddings(seed: Long, n: Int, dim: Int, nClusters: Int): Array[Array[Float]] = {
    val rng = new java.util.Random(seed)
    val centers = Array.fill(nClusters, dim)(rng.nextGaussian().toFloat)
    Array.tabulate(n) { _ =>
      val c = centers(rng.nextInt(nClusters))
      Array.tabulate(dim)(d => c(d) + 0.6f * rng.nextGaussian().toFloat)
    }
  }
}
