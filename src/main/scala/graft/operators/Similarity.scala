package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.VectorFunctions._

/** Vector similarity search over `array<float>` embeddings (SURVEY §2.6
  * V3/V4 + the north-star ANN surface).
  *
  * Reference semantics: Pinecone cosine top-k (k=3 at both call sites,
  * /root/reference/src/agents.py:120,133) with an optional `$eq` metadata
  * filter applied BEFORE scoring (/root/reference/src/pinecone_utils.py:160).
  * Here the index is the `embeddings` table and `label` stands in for the
  * metadata key (FIXTURES.md).
  *
  * Scale posture (100 TB): the query set is the SMALL side and is always
  * broadcast — the corpus never shuffles and never moves; scoring is a
  * narrow map over corpus partitions, and top-k is a per-query window
  * after a shuffle of only (qid, vec_id, score) triples, never vectors.
  * The brute-force path is the exact baseline; `lshTopK` is the scale
  * path: bucket the corpus once by hyperplane signs, then score only
  * within the query's bucket (candidates shrink ~2^bits-fold).
  */
object Similarity {

  /** Exact brute-force cosine top-k for each query vector (V3).
    * `labelEq` replays V4's metadata pre-filter. */
  def topK(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10,
           labelEq: Option[Int] = None): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val corpus0 = labelEq.map(l => emb.filter(col("label") === l)).getOrElse(emb)
    val corpus = corpus0.select(col("vec_id"), col("embedding"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb")))
    // NULL-score contract (engine-wide): cosine is NULL on zero-norm
    // vectors; such rows are never ranked — filtered here and in every
    // SQL twin, so the window and aggregate shapes agree by construction
    val scored = corpus.join(queries, col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("q_emb"), col("embedding")))
      .filter(col("score").isNotNull)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** topK in the AGGREGATE shape (SURVEY §4's heap top-k): one
    * ObjectHashAggregate with the bounded-heap TopKByScore buffer instead
    * of a window rank. Identical results to `topK` (same (score DESC,
    * id ASC) contract — the oracle is literally topKSql); the difference
    * is the shuffle: the window form moves EVERY scored (qid, vec_id,
    * score) triple to the qid's reducer, the aggregate form
    * partial-aggregates so each partition ships at most k rows per qid.
    * At fixture scale both are sub-second; at 100 TB corpus × q queries
    * the shuffle shrinks from |corpus|·q rows to k·partitions·q. */
  def topKAgg(spark: SparkSession, dir: String, k: Int = 3,
              nQueries: Int = 10): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb")))
    corpus.join(queries, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("score"))
      .filter(col("score").isNotNull) // NULL-score contract: see topK
      .groupBy(col("qid"))
      .agg(graft.functions.NativeFunctions.topKByScore(
        col("score"), col("vec_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("qid"), (col("pos") + 1).cast(IntegerType).as("rn"),
        col("p.id").as("vec_id"), col("p.score").as("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Oracle SQL for topK — identical fold-order arithmetic (VectorFunctions
    * determinism contract). */
  def topKSql(k: Int = 3, nQueries: Int = 10, labelEq: Option[Int] = None): String = {
    val filt = labelEq.map(l => s"WHERE label = $l").getOrElse("")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id < $nQueries),
        c AS (SELECT vec_id, embedding FROM embeddings $filt),
        scored AS (SELECT qid, vec_id, ${cosineSql("q_emb", "embedding")} AS score
                   FROM q CROSS JOIN c WHERE vec_id <> qid),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""
  }

  /** V4 with a TRUE metadata map and NAMESPACE scoping (reference vector
    * records carry `metadata: dict` sanitized to flat string values,
    * pinecone_utils.py:70-82; queries are namespace-scoped,
    * pinecone_utils.py:98, and filter `$eq` on a metadata key BEFORE
    * scoring, pinecone_utils.py:160): build the store with a namespace
    * column and a sanitized metadata map — nested schema double-encoded
    * under "schema", exactly the reference's ride-along — push an update
    * wave through the upsert (last-writer-wins carries the map), scope
    * the corpus to one namespace AND filter metadata['type'] pre-score,
    * and return the top-k WITH the double-encoded schema so the map
    * provably rides the whole dataflow.
    *
    * Scale posture: identical to topK — namespace + metadata filters
    * prune the corpus BEFORE the broadcast join (at scale: partition the
    * store BY namespace and Z-order by hot metadata keys so these
    * filters prune files, not rows). */
  def topKMeta(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10,
               typeEq: String = "L3", ns: String = "ns1"): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    // nested metadata JSON per record; sanitize flattens it to
    // map<string,string> with the nested schema re-encoded as JSON
    def metaJson(prefix: String): Column = concat(
      lit(s"""{"type":"$prefix"""), (col("label") % 5).cast(StringType),
      lit("""","schema":{"fields":{"amount":"monetary amount"}}}"""))
    val namespace = concat(lit("ns"), (col("vec_id") % 3).cast(StringType))
    val base = emb.select(col("vec_id"), col("embedding"), col("label"),
      namespace.as("namespace"),
      EmbeddingStore.sanitizeMetadata(metaJson("L")).as("metadata"))
    // update wave: every 10th record's metadata is rewritten (type
    // prefix U) — the upsert must carry the NEW map, dropping those
    // records out of the L-typed corpus below
    val updates = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"), col("label"),
        namespace.as("namespace"),
        EmbeddingStore.sanitizeMetadata(metaJson("U")).as("metadata"))
    // eager localCheckpoint: materialize the last-writer-wins window ONCE
    // so BOTH the corpus and the query side can read the merged store
    // (truer to V4 — queries hit the store, not the pre-upsert batch)
    // without evaluating the window twice inside one action. Blocks are
    // ContextCleaner-freed when the result DataFrame is GC'd; at scale
    // this trades one store materialization for window re-evaluation —
    // the store is the smaller of the two by construction.
    val store = EmbeddingStore.upsert(base, updates).localCheckpoint(true)
    val corpus = store
      .filter(col("namespace") === ns &&
        element_at(col("metadata"), "type") === typeEq)
      .select(col("vec_id"), col("embedding"),
        element_at(col("metadata"), "schema").as("m_schema"))
    // update waves rewrite only metadata, never embeddings, so the
    // query embeddings are identical through the upsert
    val queries = broadcast(
      store.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb")))
    val scored = corpus.join(queries, col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("q_emb"), col("embedding")))
      .filter(col("score").isNotNull) // NULL-score contract: see topK
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"), col("m_schema"))
      .orderBy(col("qid"), col("rn"))
  }

  def topKMetaSql(k: Int = 3, nQueries: Int = 10, typeEq: String = "L3",
                  ns: String = "ns1"): String =
    s"""WITH s AS (SELECT vec_id, embedding,
          'ns' || CAST(vec_id % 3 AS VARCHAR) AS namespace,
          (CASE WHEN vec_id % 10 = 0 THEN 'U' ELSE 'L' END)
            || CAST(label % 5 AS VARCHAR) AS mtype
        FROM embeddings),
        c AS (SELECT vec_id, embedding FROM s
              WHERE namespace = '$ns' AND mtype = '$typeEq'),
        q AS (SELECT vec_id AS qid, embedding AS q_emb FROM s WHERE vec_id < $nQueries),
        scored AS (SELECT qid, c.vec_id, ${cosineSql("q_emb", "c.embedding")} AS score
                   FROM q CROSS JOIN c WHERE c.vec_id <> qid),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score,
               '{"fields":{"amount":"monetary amount"}}' AS m_schema
        FROM ranked WHERE rn <= $k"""

  /** Scale-adaptive LSH width: the smallest `bits` in [minBits, maxBits]
    * with expected bucket occupancy n/2^bits <= target. A constant bits
    * leaves the within-bucket self-join O(n²/2^bits) — still quadratic at
    * 100 TB; growing bits with the corpus keeps per-bucket work bounded,
    * so total join cost stays ~linear in n. Integer arithmetic only
    * (n <= target·2^b) so Spark and the DuckDB oracle agree exactly. */
  def adaptiveBits(n: Long, target: Long = 128, minBits: Int = 4, maxBits: Int = 16): Int =
    (minBits to maxBits).find(b => n <= target * (1L << b)).getOrElse(maxBits)

  /** SQL twin of adaptiveBits as a 1-row CTE body (column `bits`).
    * COALESCE clamps to maxBits exactly like the Scala side's getOrElse:
    * when n > target·2^maxBits the filter matches nothing and a bare
    * min(b) would yield NULL bits (bucket 0 for every row = full
    * self-join) while Spark buckets with maxBits. */
  def adaptiveBitsSql(table: String, target: Long = 128, minBits: Int = 4,
                      maxBits: Int = 16): String =
    s"""SELECT coalesce(min(b), $maxBits) AS bits
        FROM (SELECT unnest(generate_series($minBits, $maxBits)) AS b),
             (SELECT count(*) AS n FROM $table)
        WHERE n <= $target * (1 << b)"""

  /** Sign-LSH bucket id: `bits` hyperplane sign bits packed into an int.
    * The planes are the first `bits` coordinate axes — axis-aligned
    * random-hyperplane LSH, deterministic and engine-independent (the
    * general seeded-plane variant is VectorFunctions.hyperplaneBit). */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(v, i + 1) >= 0f, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  def signBucketSql(v: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(CASE WHEN $v[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** XOR masks for every bucket within Hamming distance `radius` of a
    * `bits`-bit bucket: 0 (the bucket itself), the single-bit flips
    * (radius >= 1), the i<j double flips (radius >= 2). Distinct by
    * construction, so multi-probe joins never emit a candidate twice. */
  private[graft] def probeMasks(bits: Int, radius: Int): Seq[Int] =
    Seq(0) ++
      (if (radius >= 1) (0 until bits).map(1 << _) else Nil) ++
      (if (radius >= 2)
        for { i <- 0 until bits; j <- (i + 1) until bits }
          yield (1 << i) | (1 << j)
      else Nil)

  /** The query-side probe set: every bucket within Hamming distance
    * `radius` of the row's own ([[probeMasks]]). Shared by the top-k and
    * pair operators so a probe-policy change lands once. Probe count is
    * 1, 1+bits, 1+bits+C(bits,2) for radius 0/1/2 — the
    * recall/candidate-volume knob; the corpus side never grows. */
  private[graft] def probeArray(bucketCol: String, bits: Int, radius: Int): Column =
    if (radius <= 0) array(col(bucketCol))
    else array(probeMasks(bits, radius).map(m => expr(s"$bucketCol ^ $m")): _*)

  /** ANN top-k: score only candidates in the query's probed sign
    * bucket(s). Candidate set shrinks ~2^bits-fold (times bits+1 under
    * multi-probe); recall < 1 by design (the exact baseline is `topK`).
    * Corpus is bucketed once (narrow), the join key is (bucket), and
    * only the small query side is broadcast — probes explode THERE, so
    * the corpus never grows or shuffles. `bits = None` sizes the bucket
    * count to the corpus (adaptiveBits) — a metadata-cheap count()
    * before planning. */
  private def lshTopKImpl(spark: SparkSession, dir: String, k: Int,
                          nQueries: Int, bitsOpt: Option[Int],
                          multiProbe: Boolean): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val bits = bitsOpt.getOrElse(adaptiveBits(emb.count()))
    val corpus = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
          signBucket(col("embedding"), bits).as("q_bucket"))
        .withColumn("probe",
          explode(probeArray("q_bucket", bits, if (multiProbe) 1 else 0))))
    val scored = corpus.join(queries,
        col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("q_emb"), col("embedding")))
      .filter(col("score").isNotNull) // NULL-score contract: see topK
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  def lshTopK(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10,
              bitsOpt: Option[Int] = None): DataFrame =
    lshTopKImpl(spark, dir, k, nQueries, bitsOpt, multiProbe = false)

  /** Adaptive-width bucket expression for the oracle: unrolls to maxBits
    * terms, each gated on i <= nb.bits (a plain column from the
    * cross-joined 1-row `nb` CTE — DuckDB forbids subqueries inside
    * lambda bodies). */
  private def signBucketSqlAdaptive(v: String, maxBits: Int = 16,
                                    nbAlias: String = "nb"): String =
    s"""CAST(list_sum(list_transform(generate_series(1, $maxBits), i ->
        CASE WHEN i <= $nbAlias.bits AND $v[i] >= 0
             THEN (1 << (i - 1)) ELSE 0 END)) AS INT)"""

  def lshTopKSql(k: Int = 3, nQueries: Int = 10, bitsOpt: Option[Int] = None): String = {
    val (nbCte, nbFrom, bucketExpr) = bitsOpt match {
      case Some(b) => ("", "", signBucketSql("embedding", b))
      case None => (s"nb AS (${adaptiveBitsSql("embeddings")}), ", ", nb",
        signBucketSqlAdaptive("embedding"))
    }
    s"""WITH ${nbCte}c AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings$nbFrom),
        q AS (SELECT vec_id AS qid, embedding AS q_emb, bucket AS q_bucket FROM c WHERE vec_id < $nQueries),
        scored AS (SELECT qid, c.vec_id, ${cosineSql("q_emb", "c.embedding")} AS score
                   FROM q JOIN c ON c.bucket = q.q_bucket AND c.vec_id <> qid),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""
  }

  /** MULTI-PROBE sign-LSH top-k: score the query's own bucket PLUS every
    * bucket at Hamming distance 1 (flip each sign bit) — bits+1 probes.
    * Single-bucket LSH's recall collapses when true neighbors are not
    * angularly tight (RecallProbe measured 0.067@3 on the fixture: a
    * neighbor at cosine ~0.3 crosses each hyperplane with p≈0.4, so
    * p^bits survives one bucket almost never); probing the Hamming-1
    * shell recovers every neighbor that disagreed on exactly one plane,
    * the dominant failure mode (Lv et al., "Multi-Probe LSH", VLDB'07).
    * Same plan as [[lshTopK]] (shared impl) — only the broadcast query
    * side grows bits+1-fold. */
  def lshTopKMultiProbe(spark: SparkSession, dir: String, k: Int = 3,
                        nQueries: Int = 10, bitsOpt: Option[Int] = None): DataFrame =
    lshTopKImpl(spark, dir, k, nQueries, bitsOpt, multiProbe = true)

  def lshTopKMultiProbeSql(k: Int = 3, nQueries: Int = 10,
                           bitsOpt: Option[Int] = None): String = {
    val (nbCte, nbFrom, bucketExpr, probeUpper) = bitsOpt match {
      case Some(b) => ("", "", signBucketSql("embedding", b), b.toString)
      case None => (s"nb AS (${adaptiveBitsSql("embeddings")}), ", ", nb",
        signBucketSqlAdaptive("embedding"), "nb.bits")
    }
    val probeFrom = bitsOpt match {
      case Some(_) => ""
      case None => " nb,"
    }
    s"""WITH ${nbCte}c AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings$nbFrom),
        q AS (SELECT vec_id AS qid, embedding AS q_emb, bucket AS q_bucket FROM c WHERE vec_id < $nQueries),
        p AS (SELECT qid, q_emb,
                CASE WHEN i = 0 THEN q_bucket
                     ELSE xor(q_bucket, (1 << (i - 1))) END AS probe
              FROM q,$probeFrom unnest(generate_series(0, $probeUpper)) AS t(i)),
        scored AS (SELECT qid, c.vec_id, ${cosineSql("q_emb", "c.embedding")} AS score
                   FROM p JOIN c ON c.bucket = p.probe AND c.vec_id <> qid),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""
  }

  /** Serve sign-LSH top-k from a bucket-PARTITIONED store directory —
    * the read side of the incrementally-maintained streaming ANN index
    * (StreamOps.streamLshTopKQuery writes it micro-batch by micro-batch
    * with `partitionBy(bucket)`). The probe set is collected first —
    * O(nQueries) ints of QUERY-side metadata, same legitimacy class as
    * the IVF codebook collect — and pushed as a static partition filter,
    * so the scan lists and reads ONLY the probed bucket directories: at
    * 100 TB the index answers a top-k probe touching 1/2^bits of the
    * store, with no rebuild and no shuffle of the corpus. Results are
    * byte-identical to [[lshTopK]] at the same `bits` — same buckets,
    * same cosine, same ranks. */
  def serveLshTopKFromStore(spark: SparkSession, dir: String, storeDir: String,
                            k: Int = 3, nQueries: Int = 10,
                            bits: Int = 6): DataFrame = {
    val queries = Tables.loadWide(spark, dir, "embeddings")
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        signBucket(col("embedding"), bits).as("probe"))
    val probes = queries.select(col("probe")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val corpus = spark.read.parquet(storeDir)
      .where(col("bucket").isin(probes: _*))
    val scored = corpus.join(broadcast(queries),
        col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("q_emb"), col("embedding")))
      .filter(col("score").isNotNull)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** IVF-Flat ANN top-k — the second scale path beside sign-LSH: coarse-
    * quantize the corpus ONCE into `nCells` centroid cells (one narrow
    * assignment pass — argmax cosine against the codebook), then answer
    * each query by scoring only the cells its `nProbe` nearest centroids
    * own. Candidates shrink ~nCells/nProbe-fold; recall < 1 by design
    * (the exact baseline is `topK`).
    *
    * The codebook here is deterministic — the first `nCells` corpus
    * vectors — so the operator is oracle-checkable end-to-end; a k-means
    * codebook plugs in behind the same contract (assignment and probing
    * are centroid-agnostic). Collecting it to the driver is the one
    * legitimate collect in the engine: O(nCells·dim) MODEL state,
    * independent of corpus size — the same broadcast-small-side pattern
    * as the schema index (SchemaRetrieval.pseudoEmbedLocal), inlined as
    * literals so assignment stays a codegen'd narrow expression with NO
    * shuffle of the corpus and no re-join of cell ids.
    *
    * Scale posture: corpus never shuffles (cell id is a narrow column;
    * at rest it would be the partition key of the stored index); the
    * probe side explodes to nProbe rows per query and broadcasts; the
    * only wide op is the per-query top-k window over (qid, vec_id,
    * score) triples. */
  /** (score, cid) structs against every centroid; argmax by natural
    * struct ordering — ties break to the larger cent_id on both engines. */
  private def centScores(v: Column,
      codebook: Array[(Long, Array[Float])]): Seq[Column] =
    codebook.map { case (cid, cv) =>
      struct(cosine(v, typedlit(cv)).as("score"), lit(cid).as("cid"))
    }.toSeq

  /** Coarse-quantizer cell assignment: argmax cosine against the
    * codebook, ties to the larger cent_id (both engines). */
  private[graft] def assignCell(v: Column,
      codebook: Array[(Long, Array[Float])]): Column =
    greatestOf(centScores(v, codebook)).getField("cid")

  /** The deterministic default codebook: the first nCells corpus vectors. */
  def seedCodebook(emb: DataFrame, nCells: Int): Array[(Long, Array[Float])] =
    emb.filter(col("vec_id") < nCells)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  /** Lloyd-iteration k-means refinement of a codebook — the trained
    * variant behind ivfTopK's pluggable-codebook contract. Each iteration
    * is (1) the same narrow argmax-assignment expression ivfTopK uses,
    * (2) per-cell elementwise means via posexplode → two grouped
    * aggregations, (3) collect the O(nCells·dim) codebook back to the
    * driver. Cells that lose all members keep their previous centroid.
    * Deterministic only up to floating-point reduction order (double
    * `avg` partial sums combine in shuffle order) — which is why the
    * oracle-checked ivf query ships the exactly-reproducible seed
    * codebook and this trained variant is spec-verified on quality
    * (assignment cosine must not decrease), not on exact values. At
    * 100 TB each iteration is two shuffles of (cell, pos, partial-sum)
    * triples — never vectors — and iters is a small constant (k-means on
    * a sample is the usual production choice; both fit this contract). */
  def kmeansCodebook(emb: DataFrame, nCells: Int, iters: Int = 2): Array[(Long, Array[Float])] = {
    var codebook = seedCodebook(emb, nCells)
    for (_ <- 1 to iters) {
      val assigned = emb.select(
        assignCell(col("embedding"), codebook).as("cell"),
        col("embedding"))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cent"))
        .collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Double](1).map(_.toFloat).toArray).toMap
      codebook = codebook.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
    }
    codebook
  }

  /** EXACT-ARITHMETIC Lloyd iterations — the trained codebook actually
    * SHIPPED in an oracle-checked query (`vector_ivf_trained`), where
    * [[kmeansCodebook]]'s double `avg` (partition-order fp) can't go.
    * Per-cell means use the [[embeddingOutliers]] fixed-point protocol:
    * quantize each coordinate to round(x·2^scaleBits) longs, sum as
    * integers (order-free, exact), divide ONCE, cast to float — both
    * engines produce bit-identical centroids, so the whole train →
    * assign → probe → top-k chain hash-matches DuckDB. Empty cells keep
    * their previous centroid. Same O(nCells·dim) driver-side model
    * state as [[seedCodebook]]; each iteration is one narrow assignment
    * pass + one (cell, pos) shuffle of long partial sums — vectors
    * never shuffle. */
  def kmeansCodebookExact(emb: DataFrame, nCells: Int, iters: Int = 1,
                          scaleBits: Int = 20): Array[(Long, Array[Float])] = {
    val q = 1L << scaleBits
    var codebook = seedCodebook(emb, nCells)
    for (_ <- 1 to iters if codebook.nonEmpty) {
      val assigned = emb.select(
        assignCell(col("embedding"), codebook).as("cell"),
        col("embedding"))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("cell"), col("pos"),
          round(col("x").cast(DoubleType) * q).cast(LongType).as("qx"))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("qx")).as("sq"), count(lit(1)).as("n"))
        .withColumn("c",
          (col("sq").cast(DoubleType) / (col("n") * q).cast(DoubleType))
            .cast(FloatType))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cell"), expr("transform(pc, s -> s.c)").as("cent"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      codebook = codebook.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
    }
    codebook
  }

  /** IVF-Flat with the TRAINED (exact k-means) codebook as the measured
    * default — same query contract as [[ivfTopK]], centroids from
    * [[kmeansCodebookExact]] instead of the raw seed.
    *
    * nProbe defaults to 3 (vs the seeded query's 2): on the near-isotropic
    * fixture embeddings (word-salad corpus — no real cluster structure for
    * k-means to find) one Lloyd iteration BALANCES the cells (measured
    * spread 223-264 rows/cell vs the seed's 220-292 at sf0.1) but cannot
    * tighten them, so recall parity with the seeded row (0.867@3) costs
    * one extra probed cell (7.4k vs 4.8k candidates, still ~nCells/nProbe-
    * fold under the 149k-pair exhaustive scan). On clustered production
    * embeddings the same trained codebook RAISES recall at equal nProbe —
    * the knob is honest, not a fixture trick. */
  def ivfTrainedTopK(spark: SparkSession, dir: String, k: Int = 3,
                     nQueries: Int = 10, nCells: Int = 8, nProbe: Int = 3,
                     iters: Int = 1): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    ivfTopK(spark, dir, k, nQueries, nCells, nProbe,
      codebookOpt = Some(kmeansCodebookExact(emb, nCells, iters)))
  }

  /** Oracle twin of [[ivfTrainedTopK]]: the k-means iterations unroll as
    * CTE chains cb0 → (assign, quantized means) → cb1 → …, each step
    * mirroring the engine's exact-arithmetic protocol, then the
    * [[ivfTopKSql]] tail runs against the final codebook. */
  def ivfTrainedTopKSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                        nProbe: Int = 3, iters: Int = 1,
                        scaleBits: Int = 20): String = {
    val q = 1L << scaleBits
    val iterCtes = (0 until iters).map { it =>
      s"""a$it AS (SELECT e.vec_id, e.embedding, cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosineSql("e.embedding", s"cb$it.cent")} DESC, cid DESC) AS crn
               FROM embeddings e CROSS JOIN cb$it),
        m$it AS (SELECT cid AS cell, i AS pos,
                        CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * $q) AS BIGINT)) AS BIGINT) AS sq,
                        count(*) AS n
                 FROM a$it, unnest(generate_series(1, len(embedding))) AS t$it(i)
                 WHERE crn = 1 GROUP BY 1, 2),
        c$it AS (SELECT cell,
                        list(CAST(CAST(sq AS DOUBLE) / CAST(n * $q AS DOUBLE) AS FLOAT)
                             ORDER BY pos) AS cent
                 FROM m$it GROUP BY 1),
        cb${it + 1} AS (SELECT cid, coalesce(c$it.cent, cb$it.cent) AS cent
                        FROM cb$it LEFT JOIN c$it ON c$it.cell = cb$it.cid)"""
    }.mkString(",\n        ")
    s"""WITH cb0 AS (SELECT vec_id AS cid, embedding AS cent
                     FROM embeddings WHERE vec_id < $nCells),
        $iterCtes,
        ca AS (SELECT e.vec_id, e.embedding, cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosineSql("e.embedding", s"cb$iters.cent")} DESC, cid DESC) AS crn
               FROM embeddings e CROSS JOIN cb$iters),
        assigned AS (SELECT vec_id, embedding, cid AS cell FROM ca WHERE crn = 1),
        probe AS (SELECT vec_id AS qid, embedding AS q_emb, cid AS q_cell
                  FROM ca WHERE vec_id < $nQueries AND crn <= $nProbe),
        scored AS (SELECT qid, a.vec_id, ${cosineSql("q_emb", "a.embedding")} AS score
                   FROM probe p JOIN assigned a
                     ON a.cell = p.q_cell AND a.vec_id <> p.qid),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""
  }

  def ivfTopK(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10,
              nCells: Int = 8, nProbe: Int = 2,
              codebookOpt: Option[Array[(Long, Array[Float])]] = None): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val codebook: Array[(Long, Array[Float])] =
      codebookOpt.getOrElse(seedCodebook(emb, nCells))
    if (codebook.isEmpty) {
      // empty corpus (or no vectors under nCells): no cells exist, so no
      // neighbors — return the empty result with the contract schema
      // rather than letting greatest() choke on zero centroid columns
      import spark.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "vec_id", "score")
    }
    val assigned = emb.select(col("vec_id"), col("embedding"),
      assignCell(col("embedding"), codebook).as("cell"))
    val probeCells = transform(
      slice(sort_array(array(centScores(col("q_emb"), codebook): _*), asc = false), 1, nProbe),
      s => s.getField("cid"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
        .withColumn("q_cell", explode(probeCells)))
    // cells partition the corpus (assignment is unique), so probing
    // nProbe cells can never double-count a candidate — no dedup needed
    val scored = assigned.join(queries,
        col("cell") === col("q_cell") && col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("q_emb"), col("embedding")))
      .filter(col("score").isNotNull) // NULL-score contract: see topK
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  def ivfTopKSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                 nProbe: Int = 2): String =
    s"""WITH cb AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                    FROM embeddings WHERE vec_id < $nCells),
        ca AS (SELECT e.vec_id, e.embedding, cent_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosineSql("e.embedding", "cent_emb")} DESC, cent_id DESC) AS crn
               FROM embeddings e CROSS JOIN cb),
        assigned AS (SELECT vec_id, embedding, cent_id AS cell FROM ca WHERE crn = 1),
        probe AS (SELECT vec_id AS qid, embedding AS q_emb, cent_id AS q_cell
                  FROM ca WHERE vec_id < $nQueries AND crn <= $nProbe),
        scored AS (SELECT qid, a.vec_id, ${cosineSql("q_emb", "a.embedding")} AS score
                   FROM probe p JOIN assigned a
                     ON a.cell = p.q_cell AND a.vec_id <> p.qid),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""

  /** The pruned cell read: only the partitions holding the query set's
    * probe cells are listed and scanned — the IVF member of the
    * store-serve family (prunedGraphEdges / prunedHnswEdges), exposed
    * for the plan spec. */
  private[graft] def prunedIvfCells(spark: SparkSession, storeDir: String,
                                    cells: Seq[Int]): DataFrame =
    spark.read.parquet(storeDir).where(col("cell").isin(cells: _*))

  /** The IVF ingest kernel: assign `vecs` (vec_id, embedding) to cells
    * against the codebook (the broadcast O(nCells·dim) coarse quantizer,
    * fixed at deploy like the LSH width — a retrain is a rebuild) and
    * append them clustered by cell, sorted vec_id. Into a non-empty
    * store it first anti-joins vec_id against ONLY the cells the input
    * touches, so a replayed micro-batch admits nothing; an empty store
    * (the batch build, a stream's first batch) pays no extra job. The
    * batch build calls it once on the corpus and the stream store once
    * per micro-batch: assignment is a pure function of (vector,
    * codebook), so the two stores hold the same rows under any
    * batching. */
  private[graft] def appendIvfCells(vecs: DataFrame, storeDir: String,
                                    codebook: Array[(Long, Array[Float])]): Unit = {
    val assigned = vecs.select(col("vec_id"), col("embedding"),
      assignCell(col("embedding"), codebook).cast(IntegerType).as("cell"))
    if (!graft.StoreCatalog.storeNonEmpty(storeDir))
      Sinks.writeClustered(assigned, storeDir, "cell", Seq("vec_id"))
    else {
      assigned.persist()
      try {
        assigned.count() // materialize: two consumers below
        val cells = assigned.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        Sinks.writeClustered(assigned.join(
            prunedIvfCells(vecs.sparkSession, storeDir, cells)
              .select(col("vec_id").as("seen_id")),
            col("vec_id") === col("seen_id"), "left_anti"),
          storeDir, "cell", Seq("vec_id"))
      } finally assigned.unpersist()
    }
  }

  /** [[ivfTopK]] SERVED from a materialized, cell-PARTITIONED vector
    * store — the deployment shape of the cells index family (the LSH
    * bucket store / graph edge store / HNSW hierarchy store sibling):
    * assignment runs ONCE at build (argmax against the codebook, the
    * O(nCells·dim) driver model), vectors land clustered by cell, and
    * a query set's probe-cell union — O(nQueries · nProbe) longs of
    * driver control state — is pushed as a static partition filter, so
    * serving a billion-row index lists and scans nProbe-many cells per
    * query, never the corpus. Per-query probe membership is re-checked
    * in-plan (the pruned read is the probe UNION across queries).
    * Results are byte-identical to [[ivfTopK]]; oracle: ivfTopKSql. */
  def ivfTopKFromStore(spark: SparkSession, dir: String, k: Int = 3,
                       nQueries: Int = 10, nCells: Int = 8,
                       nProbe: Int = 2,
                       codebookOpt: Option[Array[(Long, Array[Float])]] = None,
                       storeTag: String = "seed"): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val codebook = codebookOpt.getOrElse(seedCodebook(emb, nCells))
    if (codebook.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "vec_id", "score")
    }
    val storeDir = graft.StoreCatalog.getOrBuild(spark, "ivf_cells",
      Seq(s"$dir/embeddings.parquet"),
      Seq("nCells" -> nCells.toString, "tag" -> storeTag),
      Seq("cells")) { parts =>
      appendIvfCells(emb, parts("cells"), codebook)
      Map.empty
    }.parts("cells")
    serveIvfFromStore(spark, emb, storeDir, codebook, k, nQueries, nProbe)
  }

  /** [[ivfTrainedTopK]] served from the cell store — the TRAINED
    * codebook (exact-arithmetic Lloyd, the oracle-checkable fixed-point
    * protocol) builds its own store under a separate tag: training
    * moves cell boundaries, so the at-rest clustering is retrained
    * WITH the quantizer (re-indexing on codebook refresh is the
    * standard IVF lifecycle). Oracle: ivfTrainedTopKSql. */
  def ivfTrainedTopKFromStore(spark: SparkSession, dir: String, k: Int = 3,
                              nQueries: Int = 10, nCells: Int = 8,
                              nProbe: Int = 3, iters: Int = 1): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    ivfTopKFromStore(spark, dir, k, nQueries, nCells, nProbe,
      codebookOpt = Some(kmeansCodebookExact(emb, nCells, iters)),
      storeTag = s"trained$iters")
  }

  /** The serve tail shared by the batch-built and stream-built cell
    * stores: per-query probe cells from the broadcast codebook, the
    * probe-cell UNION collected as bounded driver control state and
    * pushed as a static partition filter, exact cosine + top-k over the
    * pruned cells only. */
  private[graft] def serveIvfFromStore(spark: SparkSession, emb: DataFrame,
                                       storeDir: String,
                                       codebook: Array[(Long, Array[Float])],
                                       k: Int, nQueries: Int,
                                       nProbe: Int): DataFrame = {
    val probeCells = transform(
      slice(sort_array(array(centScores(col("q_emb"), codebook): _*), asc = false),
        1, nProbe),
      s => s.getField("cid"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
        .withColumn("q_cell_l", explode(probeCells)) // generator: top-level
        .withColumn("q_cell", col("q_cell_l").cast(IntegerType))
        .drop("q_cell_l")
        .localCheckpoint(true)) // two consumers: probe-set collect + join
    // the probe-cell union: bounded driver control state (int-typed to
    // match the inferred partition column, so the isin prunes)
    val probed = queries.select(col("q_cell")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val scored = prunedIvfCells(spark, storeDir, probed)
      .join(queries,
        col("cell") === col("q_cell") && col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("q_emb"), col("embedding")))
      .filter(col("score").isNotNull) // NULL-score contract: see topK
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Embedding near-duplicate pairs: same sign bucket AND cosine >= minCos
    * (north-star embedding-cosine near-dup). Pairs are (a < b) so each is
    * reported once. The bucket equi-join keeps this a hash join — never a
    * cross join — at any scale; skewed buckets fall to AQE skew handling. */
  /** Unsorted pair set — the form downstream set-oriented consumers
    * (connected components in [[semanticDedup]]) take: the public
    * query's global ORDER BY is a range-partition exchange that a CC
    * input would pay for nothing. */
  private def nearDupPairsRaw(spark: SparkSession, dir: String, minCos: Double,
                              bitsOpt: Option[Int]): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val bits = bitsOpt.getOrElse(adaptiveBits(emb.count()))
    val b = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val a = b.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("bucket").as("a_bucket"))
    a.join(b, col("a_bucket") === col("bucket") && col("a_id") < col("vec_id"))
      .withColumn("score", cosine(col("a_emb"), col("embedding")))
      .filter(col("score") >= minCos)
      .select(col("a_id"), col("vec_id").as("b_id"), col("score"))
  }

  def nearDupPairs(spark: SparkSession, dir: String, minCos: Double = 0.4,
                   bitsOpt: Option[Int] = None): DataFrame =
    nearDupPairsRaw(spark, dir, minCos, bitsOpt)
      .orderBy(col("a_id"), col("b_id"))

  def nearDupPairsSql(minCos: Double = 0.4, bitsOpt: Option[Int] = None): String = {
    val (nbCte, nbFrom, bucketExpr) = bitsOpt match {
      case Some(b) => ("", "", signBucketSql("embedding", b))
      case None => (s"nb AS (${adaptiveBitsSql("embeddings")}), ", ", nb",
        signBucketSqlAdaptive("embedding"))
    }
    s"""WITH ${nbCte}b AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings$nbFrom)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ${cosineSql("a.embedding", "b.embedding")} AS score
        FROM b a JOIN b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ${cosineSql("a.embedding", "b.embedding")} >= $minCos"""
  }

  /** MULTI-PROBE near-dup pairs: one side additionally probes every
    * Hamming-1 bucket, so pairs whose sign vectors disagree on exactly
    * one plane — the dominant loss at minCos ≈ 0.4, where each plane
    * flips with p ≈ 0.35 — are recovered (measured on the sf0.01
    * fixture: 12 of 59 true pairs single-bucket → 33 multi-probe; the
    * residual sits at Hamming ≥ 2 — the recall/candidate-volume trade
    * the probe radius controls).
    * Each pair still emits ONCE: probes are distinct buckets and the
    * a_id < b_id gate keeps only the ordering whose left row does the
    * probing. Still a hash join on the bucket key — candidates grow
    * (bits+1)-fold on the probing side only, never toward a cross
    * join. */
  private def nearDupPairsMultiProbeRaw(spark: SparkSession, dir: String,
                                        minCos: Double,
                                        bitsOpt: Option[Int],
                                        radius: Int = 1): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val bits = bitsOpt.getOrElse(adaptiveBits(emb.count()))
    val ids = emb.select(col("vec_id"),
      signBucket(col("embedding"), bits).as("bucket"))
    // candidate generation on IDS ONLY (the lsh_pairs device): the
    // probing side explodes probe-count-fold, so letting it carry vectors
    // would shuffle n·probes embeddings; ids probe, vectors are
    // fetched once per SIDE afterwards via id equi-joins
    val probes = ids.select(col("vec_id").as("a_id"), col("bucket").as("a_bucket"))
      .withColumn("probe", explode(probeArray("a_bucket", bits, radius)))
    val cand = probes.join(ids,
        col("probe") === col("bucket") && col("a_id") < col("vec_id"))
      .select(col("a_id"), col("vec_id").as("b_id"))
    cand
      .join(emb.select(col("vec_id").as("av"), col("embedding").as("a_emb")),
        col("a_id") === col("av"))
      .join(emb.select(col("vec_id").as("bv"), col("embedding").as("b_emb")),
        col("b_id") === col("bv"))
      .withColumn("score", cosine(col("a_emb"), col("b_emb")))
      .filter(col("score") >= minCos)
      .select(col("a_id"), col("b_id"), col("score"))
  }

  def nearDupPairsMultiProbe(spark: SparkSession, dir: String,
                             minCos: Double = 0.4,
                             bitsOpt: Option[Int] = None,
                             radius: Int = 1): DataFrame =
    nearDupPairsMultiProbeRaw(spark, dir, minCos, bitsOpt, radius)
      .orderBy(col("a_id"), col("b_id"))

  /** Oracle twin of the multi-probe pair surface. The probe set unrolls
    * as (i, j) flip-index pairs over 0..bits (0 = no flip): (0,0) is the
    * row's own bucket, (0,j) the single flips, (i<j) the double flips —
    * exactly [[probeMasks]], adaptive-bits-safe because the indices range
    * over the 1-row nb CTE's `bits` column. radius <= 1 keeps only the
    * i = 0 rows. */
  def nearDupPairsMultiProbeSql(minCos: Double = 0.4,
                                bitsOpt: Option[Int] = None,
                                radius: Int = 1): String = {
    val (nbCte, nbFrom, bucketExpr, probeUpper, probeFrom) = bitsOpt match {
      case Some(bb) => ("", "", signBucketSql("embedding", bb), bb.toString, "")
      case None => (s"nb AS (${adaptiveBitsSql("embeddings")}), ", ", nb",
        signBucketSqlAdaptive("embedding"), "nb.bits", " nb,")
    }
    val pairGate =
      if (radius >= 2) "(i = 0 AND j = 0) OR (i = 0 AND j > 0) OR (i > 0 AND i < j)"
      else "i = 0"
    s"""WITH ${nbCte}b AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings$nbFrom),
        pa AS (SELECT vec_id AS a_id, embedding AS a_emb,
                      xor(bucket,
                          (CASE WHEN i = 0 THEN 0 ELSE (1 << (i - 1)) END) |
                          (CASE WHEN j = 0 THEN 0 ELSE (1 << (j - 1)) END)) AS probe
               FROM b,$probeFrom unnest(generate_series(0, $probeUpper)) AS t1(i),
                    unnest(generate_series(0, $probeUpper)) AS t2(j)
               WHERE $pairGate)
        SELECT pa.a_id, b.vec_id AS b_id,
               ${cosineSql("pa.a_emb", "b.embedding")} AS score
        FROM pa JOIN b ON pa.probe = b.bucket AND pa.a_id < b.vec_id
        WHERE ${cosineSql("pa.a_emb", "b.embedding")} >= $minCos"""
  }

  /** greatest()/least() require >= 2 arguments in Spark; a 1-centroid
    * codebook (1-vector corpus, nCells=1) is a legal degenerate model,
    * so the argmax/argmin helpers collapse to the single expression. */
  private def greatestOf(cols: Seq[Column]): Column =
    if (cols.length == 1) cols.head else greatest(cols: _*)
  private def leastOf(cols: Seq[Column]): Column =
    if (cols.length == 1) cols.head else least(cols: _*)

  /** Per-subspace centroid slices of a codebook — the PQ model state. */
  private def pqSlices(codebook: Array[(Long, Array[Float])],
                       sub: Int): Int => Array[(Long, Array[Float])] =
    j => codebook.map { case (cid, v) => (cid, v.slice(j * sub, (j + 1) * sub)) }

  private def pqVslice(c: Column, j: Int, sub: Int): Column =
    slice(c, j * sub + 1, sub)

  /** encode: argmin L2 per subspace — least() over (dist, cid) structs
    * breaks ties to the SMALLER cid, mirrored by the oracle's
    * ORDER BY dist, cid. */
  private def pqCodeCols(cslice: Int => Array[(Long, Array[Float])], m: Int,
                         sub: Int): Seq[Column] =
    (0 until m).map { j =>
      leastOf(cslice(j).map { case (cid, cv) =>
        struct(l2(pqVslice(col("embedding"), j, sub), typedlit(cv)).as("dist"),
          lit(cid).as("cid"))
      }.toSeq).getField("cid").as(s"code$j")
    }

  /** per-query ADC lookup table: m·nCells exact dots, broadcast. */
  private def pqLutCols(cslice: Int => Array[(Long, Array[Float])], m: Int,
                        sub: Int): Seq[Column] =
    for (j <- 0 until m; (cid, cv) <- cslice(j))
      yield dot(pqVslice(col("embedding"), j, sub), typedlit(cv)).as(s"lut_${j}_$cid")

  private def pqAdcScore(cslice: Int => Array[(Long, Array[Float])],
                         m: Int): Column =
    (0 until m).map { j =>
      cslice(j).foldLeft(lit(null).cast("double")) { case (acc, (cid, _)) =>
        when(col(s"code$j") === cid, col(s"lut_${j}_$cid")).otherwise(acc)
      }
    }.reduceLeft(_ + _)

  /** Product-quantization ANN top-k (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split each vector into
    * `m` subvectors, quantize every subvector against a per-subspace
    * codebook (L2 argmin — ties to the smaller centroid id on both
    * engines), and score query-corpus pairs by ASYMMETRIC DISTANCE
    * COMPUTATION: the approximate dot product Σ_j q_j · centroid_j(code_j),
    * summed in fixed subspace order. The codebook is the deterministic
    * seed posture ivfTopK uses (subvectors of the first `nCells` corpus
    * vectors), so the operator is oracle-checkable end-to-end; a trained
    * (k-means-per-subspace) codebook plugs in behind the same contract.
    *
    * Scale posture: this is the memory-compressed EXHAUSTIVE scan —
    * encoding shrinks each vector to m small codes (m·log2(nCells) bits
    * here vs dim·32 for floats), encode is a one-time narrow index-build
    * pass, and the scan side of the join carries CODES ONLY (the
    * original vectors never shuffle; the float embedding is left behind
    * at the scan). Per-pair cost is m table lookups instead of a
    * dim-wide dot. In production PQ composes with IVF ([[ivfPqTopK]]);
    * here it stands alone so the ADC math is what's verified.
    * The per-query lookup table (m·nCells dots) rides the broadcast
    * query side. Recall < 1 by design; the exact baseline is [[topK]]. */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10,
             nCells: Int = 8, m: Int = 4, dim: Int = 64): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val codebook = seedCodebook(emb, nCells)
    if (codebook.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "vec_id", "score")
    }
    require(codebook.forall(_._2.length == dim), s"corpus dim != $dim")
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cslice = pqSlices(codebook, sub)
    val encoded = emb.select(col("vec_id") +: pqCodeCols(cslice, m, sub): _*)
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid") +: pqLutCols(cslice, m, sub): _*))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    encoded.crossJoin(queries)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", pqAdcScore(cslice, m))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** IVF+PQ — the production ANN composition the plain forms document:
    * the corpus is coarse-quantized into IVF cells AND PQ-encoded, a
    * query probes its `nProbe` nearest cells, and ONLY the probed
    * cells' codes are ADC-scored (Jégou et al. 2011 §VI, "IVFADC").
    * Cell assignment and PQ codes are both narrow columns from the same
    * seed codebook posture, so the operator stays oracle-checkable;
    * trained coarse/subspace codebooks plug in behind the contract.
    *
    * Scale posture: the scan side carries (cell, m codes) — no floats;
    * candidates shrink ~nCells/nProbe-fold BEFORE the compressed-domain
    * scoring, which is what makes the exhaustive-ADC form's memory win
    * also a compute win. Compose with [[pqRerankTopK]]'s exact-rerank
    * stage for recall. */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 3,
                nQueries: Int = 10, nCells: Int = 8, nProbe: Int = 2,
                m: Int = 4, dim: Int = 64): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val codebook = seedCodebook(emb, nCells)
    if (codebook.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "vec_id", "score")
    }
    require(codebook.forall(_._2.length == dim), s"corpus dim != $dim")
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cslice = pqSlices(codebook, sub)
    val assigned = emb.select(
      col("vec_id") +:
        assignCell(col("embedding"), codebook).as("cell") +:
        pqCodeCols(cslice, m, sub): _*)
    val probeCells = transform(
      slice(sort_array(array(centScores(col("q_emb"), codebook): _*), asc = false), 1, nProbe),
      s => s.getField("cid"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid") +: col("embedding").as("q_emb") +:
          pqLutCols(cslice, m, sub): _*)
        .withColumn("q_cell", explode(probeCells))
        .drop("q_emb"))
    val scored = assigned.join(queries,
        col("cell") === col("q_cell") && col("vec_id") =!= col("qid"))
      .withColumn("score", pqAdcScore(cslice, m))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** IVFADC + EXACT RERANK — the composition [[ivfPqTopK]]'s scaladoc
    * promises: probe nProbe cells, ADC-shortlist `budget` candidates in
    * the compressed domain, then exact-rerank the shortlist alone
    * ([[exactRerank]]). This is the full production ANN stack (Jégou et
    * al. 2011 §VI + §V): the IVF stage bounds COMPUTE (only probed
    * cells' codes are scanned), PQ bounds MEMORY (codes, not floats),
    * and the rerank stage recovers the ordering ADC's quantization error
    * scrambles — raw IVFADC recall@3 is shortlist-grade (0.13), rerank
    * lifts it to what the shortlist retains at budget·nQueries
    * exact-score cost, decoupled from corpus size. */
  def ivfPqRerankTopK(spark: SparkSession, dir: String, k: Int = 3,
                      nQueries: Int = 10, nCells: Int = 8, nProbe: Int = 2,
                      m: Int = 4, dim: Int = 64, budget: Int = 32): DataFrame =
    exactRerank(spark, dir,
      ivfPqTopK(spark, dir, budget, nQueries, nCells, nProbe, m, dim)
        .select(col("qid"), col("vec_id")),
      k, nQueries)

  def ivfPqRerankTopKSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                         nProbe: Int = 2, m: Int = 4, dim: Int = 64,
                         budget: Int = 32): String =
    s"""WITH ${ivfPqCtes(nQueries, nCells, nProbe, m, dim)},
        cand2 AS (SELECT qid, vec_id FROM ranked WHERE rn <= $budget),
        ex AS (SELECT cand2.qid, cand2.vec_id,
                      ${cosineSql("q.embedding", "e.embedding")} AS score
               FROM cand2
               JOIN embeddings e ON e.vec_id = cand2.vec_id
               JOIN embeddings q ON q.vec_id = cand2.qid),
        r2 AS (SELECT qid, vec_id, score,
                      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
               FROM ex WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM r2 WHERE rn <= $k"""

  /** The cb → enc → cell-probed cand → ADC-scored → ranked CTE body
    * shared by the plain IVFADC statement and its rerank form. */
  private def ivfPqCtes(nQueries: Int, nCells: Int, nProbe: Int, m: Int,
                        dim: Int): String = {
    // NOTE: the cb/enc/scoreSum builders repeat pqCtes' text because this
    // form replaces its scored/ranked tail with the cell-probed candidate
    // chain; a tie-break or slice change must land in BOTH (the engine
    // side shares one implementation, so a divergence fails the gate)
    val sub = dim / m
    def slc(c: String, j: Int): String = s"$c[${j * sub + 1}:${(j + 1) * sub}]"
    val encCtes = (0 until m).map { j =>
      s"""enc$j AS (SELECT vec_id, cid AS code$j FROM (
            SELECT e.vec_id, cb.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${l2Sql(slc("e.embedding", j), slc("cb.embedding", j))}, cb.cid) AS rn
            FROM embeddings e CROSS JOIN cb) t$j WHERE rn = 1)"""
    }.mkString(",\n        ")
    val encJoin = (1 until m).map(j => s"JOIN enc$j USING (vec_id)").mkString(" ")
    val cbJoins = (0 until m).map(j => s"JOIN cb c$j ON c$j.cid = e.code$j").mkString(" ")
    val scoreSum = (0 until m).map { j =>
      s"(${dotSql(slc("q.embedding", j), slc(s"c$j.embedding", j))})"
    }.mkString(" + ")
    s"""cb AS (SELECT vec_id AS cid, embedding FROM embeddings
                    WHERE vec_id < $nCells),
        $encCtes,
        enc AS (SELECT * FROM enc0 $encJoin),
        ca AS (SELECT e.vec_id, cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosineSql("e.embedding", "cb.embedding")} DESC, cid DESC) AS crn
               FROM embeddings e CROSS JOIN cb),
        assigned AS (SELECT vec_id, cid AS cell FROM ca WHERE crn = 1),
        probe AS (SELECT vec_id AS qid, cid AS q_cell
                  FROM ca WHERE vec_id < $nQueries AND crn <= $nProbe),
        cand AS (SELECT p.qid, a.vec_id
                 FROM probe p JOIN assigned a
                   ON a.cell = p.q_cell AND a.vec_id <> p.qid),
        scored AS (SELECT cand.qid, e.vec_id, $scoreSum AS score
                   FROM cand
                   JOIN enc e ON e.vec_id = cand.vec_id
                   JOIN embeddings q ON q.vec_id = cand.qid
                   $cbJoins),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored)"""
  }

  def ivfPqTopKSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                   nProbe: Int = 2, m: Int = 4, dim: Int = 64): String =
    s"""WITH ${ivfPqCtes(nQueries, nCells, nProbe, m, dim)}
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""

  /** The cb → enc → scored → ranked CTE chain shared by the plain-ADC
    * and rerank forms. */
  private def pqCtes(nQueries: Int, nCells: Int, m: Int, dim: Int,
                     src: String = "embeddings"): String = {
    val sub = dim / m
    def slc(c: String, j: Int): String = s"$c[${j * sub + 1}:${(j + 1) * sub}]"
    val encCtes = (0 until m).map { j =>
      s"""enc$j AS (SELECT vec_id, cid AS code$j FROM (
            SELECT e.vec_id, cb.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${l2Sql(slc("e.embedding", j), slc("cb.embedding", j))}, cb.cid) AS rn
            FROM $src e CROSS JOIN cb) t$j WHERE rn = 1)"""
    }.mkString(",\n        ")
    val encJoin = (1 until m).map(j => s"JOIN enc$j USING (vec_id)").mkString(" ")
    val cbJoins = (0 until m).map(j => s"JOIN cb c$j ON c$j.cid = e.code$j").mkString(" ")
    val scoreSum = (0 until m).map { j =>
      s"(${dotSql(slc("q.embedding", j), slc(s"c$j.embedding", j))})"
    }.mkString(" + ")
    s"""cb AS (SELECT vec_id AS cid, embedding FROM $src
                    WHERE vec_id < $nCells),
        $encCtes,
        enc AS (SELECT * FROM enc0 $encJoin),
        scored AS (SELECT q.vec_id AS qid, e.vec_id, $scoreSum AS score
                   FROM enc e CROSS JOIN (SELECT vec_id, embedding FROM $src
                                          WHERE vec_id < $nQueries) q
                   $cbJoins
                   WHERE e.vec_id <> q.vec_id),
        ranked AS (SELECT qid, vec_id, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
                   FROM scored)"""
  }

  def pqTopKSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8, m: Int = 4,
                dim: Int = 64): String =
    s"""WITH ${pqCtes(nQueries, nCells, m, dim)}
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""

  /** SQ8 scalar-quantized top-k — the remaining member of the
    * quantization family (LSH buckets / IVF cells / PQ codes /
    * [[graft.plans.Sq8Encode]] int8-per-dim codes): each vector is
    * encoded once to one [0,127] code per dimension (4× smaller than
    * float32, and far gentler than PQ's m-codes-per-vector — recall
    * stays near-exact because quantization error is per-DIMENSION, not
    * per-subspace), and query-corpus pairs are scored by the cosine of
    * the CENTERED codes ([[graft.plans.CodesCosine]]: exact integer
    * dot + norms of (code−64), one correctly-rounded sqrt per side).
    * Centering matters: a raw code dot carries +64·Σcodeᵢ per corpus
    * vector — a brightness bias that destroys the ranking (recall 0
    * without it). The fixed power-of-two scale (floor(x·64)+64) makes
    * codes and scores bit-identical across engines — no trained
    * min/max affine, whose reciprocal and rounding mode are fp
    * hazards.
    *
    * Scale posture: the scan side of the join carries CODES ONLY (the
    * float embedding dies at the scan, 4× less memory bandwidth than
    * the exact path), queries broadcast, scoring is a narrow codegen'd
    * integer loop, and the window moves (qid, vec_id, score) triples
    * only. Reference contract: pinecone_utils.py:94-132's top-k, served
    * from a compressed index. Exact baseline: [[topK]]. */
  def sq8TopK(spark: SparkSession, dir: String, k: Int = 3,
              nQueries: Int = 10): DataFrame = {
    import graft.functions.NativeFunctions
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val corpus = emb.select(col("vec_id"),
      NativeFunctions.sq8Encode(col("embedding")).as("codes"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"),
          NativeFunctions.sq8Encode(col("embedding")).as("q_codes")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    corpus.join(queries, col("vec_id") =!= col("qid"))
      .withColumn("score",
        NativeFunctions.codesCosine(col("q_codes"), col("codes"), center = 64))
      .filter(col("score").isNotNull) // NULL-score contract: see topK
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** DuckDB twin of [[sq8TopK]]: same codes (floor/least/greatest are
    * exact integer ops), same centered integer dot + norms, same
    * sqrt/divide combine, same (score DESC, vec_id) tiebreak. */
  def sq8TopKSql(k: Int = 3, nQueries: Int = 10): String = {
    val codes = "list_transform(embedding, x -> least(127, greatest(0, " +
      "CAST(floor(CAST(x AS DOUBLE) * 64.0) AS INT) + 64)))"
    def isum(term: String) =
      "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, len(q_codes)), i -> $term)), " +
        "(acc, x) -> acc + x) AS BIGINT)"
    val dot = isum("CAST(q_codes[i] - 64 AS BIGINT) * (c.codes[i] - 64)")
    val na = isum("CAST(q_codes[i] - 64 AS BIGINT) * (q_codes[i] - 64)")
    val nb = isum("CAST(c.codes[i] - 64 AS BIGINT) * (c.codes[i] - 64)")
    s"""WITH enc AS (SELECT vec_id, $codes AS codes FROM embeddings),
        q AS (SELECT vec_id AS qid, codes AS q_codes FROM enc WHERE vec_id < $nQueries),
        sums AS (SELECT qid, c.vec_id, $dot AS dp, $na AS na, $nb AS nb
          FROM q CROSS JOIN enc c WHERE c.vec_id <> qid),
        scored AS (SELECT qid, vec_id,
            CASE WHEN na = 0 OR nb = 0 THEN NULL
                 ELSE CAST(dp AS DOUBLE) /
                      (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
            END AS score
          FROM sums),
        ranked AS (SELECT qid, vec_id, score,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
          FROM scored WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM ranked WHERE rn <= $k"""
  }

  /** PQ + EXACT RERANK: ADC ranks a candidate shortlist (`budget` per
    * query, compressed-domain scan as in [[pqTopK]]), then the shortlist
    * alone is re-scored with the exact cosine and the top-k re-ranked.
    * This is the standard production PQ shape (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 §V): ADC's
    * quantization error decides only WHICH ~budget candidates surface,
    * not their final order — RecallProbe: 0.133@3 raw ADC → rerank
    * recovers what the shortlist retains at ~budget/corpus cost.
    *
    * Scale posture: stage 1 is the code-only scan (vectors never move);
    * stage 2 fetches ONLY budget·nQueries full vectors through an
    * ids-equi-join against the store — the exact-scoring cost is
    * decoupled from corpus size. */
  /** The exact-rerank stage shared by [[pqRerankTopK]] and
    * [[ivfPqRerankTopK]]: fetch full vectors for the (qid, vec_id)
    * shortlist only — budget·nQueries rows through id equi-joins, never
    * the corpus — exact-cosine score, re-rank, top-k. */
  private def exactRerank(spark: SparkSession, dir: String, cands: DataFrame,
                          k: Int, nQueries: Int): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val queries = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q2"), col("embedding").as("q_emb")))
    val scored = cands
      .join(emb.select(col("vec_id").as("c_id"), col("embedding")),
        col("vec_id") === col("c_id"))
      .join(queries, col("qid") === col("q2"))
      .withColumn("score", cosine(col("q_emb"), col("embedding")))
      .filter(col("score").isNotNull)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  def pqRerankTopK(spark: SparkSession, dir: String, k: Int = 3,
                   nQueries: Int = 10, nCells: Int = 8, m: Int = 4,
                   dim: Int = 64, budget: Int = 32): DataFrame =
    exactRerank(spark, dir,
      pqTopK(spark, dir, budget, nQueries, nCells, m, dim)
        .select(col("qid"), col("vec_id")),
      k, nQueries)

  /** [[pqRerankTopK]] SERVED from a MATERIALIZED codes-only store — the
    * codes family's at-rest deployment shape (its LSH-bucket / graph /
    * hierarchy / IVF-cell siblings prune partitions; PQ's contract is
    * different: the scan is EXHAUSTIVE by design but each row is m
    * small codes instead of dim floats, a ~16× byte cut at (m=4,
    * dim=64 float) that turns the index scan IO-light). Encoding runs
    * ONCE at build; serving broadcasts the per-query LUTs against the
    * stored codes, takes the ADC shortlist, and reranks the shortlist
    * exactly against the float table (touched for budget-many rows per
    * query, never scanned). Results are byte-identical to
    * [[pqRerankTopK]]; oracle: pqRerankTopKSql. */
  def pqRerankFromStore(spark: SparkSession, dir: String, k: Int = 3,
                        nQueries: Int = 10, nCells: Int = 8, m: Int = 4,
                        dim: Int = 64, budget: Int = 32): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val codebook = seedCodebook(emb, nCells)
    if (codebook.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "vec_id", "score")
    }
    require(codebook.forall(_._2.length == dim), s"corpus dim != $dim")
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val storeDir = graft.StoreCatalog.getOrBuild(spark, "pq_codes",
      Seq(s"$dir/embeddings.parquet"),
      Seq("nCells" -> nCells.toString, "m" -> m.toString),
      Seq("codes")) { parts =>
      appendPqCodes(emb, parts("codes"), codebook, m, dim)
      Map.empty
    }.parts("codes")
    servePqFromStore(spark, dir, emb, storeDir, pqSliceFn(codebook, m, dim),
      m, dim / m, k, nQueries, budget)
  }

  /** The PQ ingest kernel: encode `vecs` (vec_id, embedding) against the
    * codebook's per-subspace slices and append the codes only. Into a
    * non-empty store it first anti-joins vec_id against the store's
    * vec_id column (codes pruned by the projection), so a replayed
    * micro-batch admits nothing. The batch build calls it once on the
    * corpus and the stream store once per micro-batch: codes are a pure
    * function of (vector, codebook), so the two stores hold the same
    * rows under any batching. */
  private[graft] def appendPqCodes(vecs: DataFrame, storeDir: String,
                                   codebook: Array[(Long, Array[Float])],
                                   m: Int, dim: Int): Unit = {
    val encoded = vecs.select(
      col("vec_id") +: pqCodeCols(pqSliceFn(codebook, m, dim), m, dim / m): _*)
    val fresh =
      if (!graft.StoreCatalog.storeNonEmpty(storeDir)) encoded
      else encoded.join(vecs.sparkSession.read.parquet(storeDir)
          .select(col("vec_id").as("seen_id")),
        col("vec_id") === col("seen_id"), "left_anti")
    fresh.write.mode("append").parquet(storeDir)
  }

  /** The serve tail shared by the batch-built and stream-built code
    * stores: broadcast per-query LUTs against the stored codes, ADC
    * shortlist, exact rerank of the shortlist against the float
    * table. */
  private[graft] def servePqFromStore(spark: SparkSession, dir: String,
                                      emb: DataFrame, storeDir: String,
                                      cslice: Int => Array[(Long, Array[Float])],
                                      m: Int, sub: Int, k: Int,
                                      nQueries: Int, budget: Int): DataFrame = {
    val codes = spark.read.parquet(storeDir)
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid") +: pqLutCols(cslice, m, sub): _*))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    val shortlist = codes.crossJoin(queries)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", pqAdcScore(cslice, m))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= budget)
      .select(col("qid"), col("vec_id"))
    exactRerank(spark, dir, shortlist, k, nQueries)
  }

  private[graft] def pqSliceFn(codebook: Array[(Long, Array[Float])],
                               m: Int, dim: Int): Int => Array[(Long, Array[Float])] =
    pqSlices(codebook, dim / m)

  def pqRerankTopKSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                      m: Int = 4, dim: Int = 64, budget: Int = 32,
                      src: String = "embeddings",
                      prefixCtes: String = ""): String =
    s"""WITH $prefixCtes${pqCtes(nQueries, nCells, m, dim, src)},
        cand AS (SELECT qid, vec_id FROM ranked WHERE rn <= $budget),
        ex AS (SELECT cand.qid, cand.vec_id,
                      ${cosineSql("q.embedding", "e.embedding")} AS score
               FROM cand
               JOIN $src e ON e.vec_id = cand.vec_id
               JOIN $src q ON q.vec_id = cand.qid),
        r2 AS (SELECT qid, vec_id, score,
                      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
               FROM ex WHERE score IS NOT NULL)
        SELECT qid, rn, vec_id, score FROM r2 WHERE rn <= $k"""

  /** DIMENSION GENERALITY, driver-enforced: [[pqRerankTopK]] at the
    * production MiniLM width (dim = 384) over a synthetic corpus both
    * engines derive from the SAME closed-form integer expression —
    * emb[j](i) = ((i*31 + j*17 + (i*j) % 29) % 13) - 6 as float, exact
    * on both sides — so the PQ slice/encode/ADC/rerank path is checked
    * at a non-default width every round, not just in the test suite.
    * The engine persists the corpus once per session
    * ([[d384Dir]]); the oracle derives it as a CTE. */
  def pqRerankTopKD384(spark: SparkSession, k: Int = 3, nQueries: Int = 10,
                       nCells: Int = 8, m: Int = 4,
                       budget: Int = 32): DataFrame =
    pqRerankTopK(spark, d384Dir(spark), k, nQueries, nCells, m,
      dim = 384, budget = budget)

  private[graft] val D384N = 400
  private val d384Dirs =
    new scala.collection.concurrent.TrieMap[String, String]()
  /** The persisted synthetic dim-384 corpus (one parquet per JVM under
    * [[graft.Scratch]], deleted at exit — harness staging, not a query
    * path). The one memo keyed by neither a store nor a fingerprint: the
    * corpus is generated from constants, with no source that could go
    * stale. */
  private[graft] def d384Dir(spark: SparkSession): String =
    d384Dirs.getOrElseUpdate("d384", {
      val dir = graft.Scratch.dir("graft_d384").toString
      spark.range(D384N)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(383)), j =>
            (((col("id") * 31 + j.cast("long") * 17 + (col("id") * j) % 29)
              % 13) - 6).cast("float")).as("embedding"),
          (col("id") % 3).cast(IntegerType).as("label"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    })

  def pqRerankTopKD384Sql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                          m: Int = 4, budget: Int = 32): String = {
    val cte =
      s"""emb384 AS (SELECT CAST(i AS BIGINT) AS vec_id,
            list_transform(generate_series(0, 383),
              j -> CAST(((i*31 + j*17 + (i*j) % 29) % 13) - 6 AS FLOAT))
              AS embedding
          FROM generate_series(0, ${D384N - 1}) t(i)),
        """
    pqRerankTopKSql(k, nQueries, nCells, m, dim = 384, budget = budget,
      src = "emb384", prefixCtes = cte)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): treat cosine-near-duplicate EMBEDDINGS as the
    * same content and keep one representative per duplicate group. The
    * paper clusters with k-means and prunes within clusters; here the
    * bucketing is the sign-LSH [[nearDupPairs]] already uses (the
    * k-means codebook plugs in behind the same pair contract), the
    * grouping is exact connected components over the near-dup edges
    * ([[Dedup.connectedComponents]]' large-star/small-star rounds — a
    * transitively-linked chain is ONE group even when its endpoints'
    * cosine is below threshold), and the survivor is the group's min
    * vec_id. Output: the surviving rows, `dedupKeep`'s contract on the
    * embeddings table.
    *
    * Scale shape: pairs come from the bucket hash join (never cross
    * join); components shuffle (u, v) id pairs only, O(log n) rounds;
    * the drop list is ids-only and the final anti-join is left to the
    * planner (AQE broadcasts it when small — same posture as
    * dedupKeep). */
  def semanticDedup(spark: SparkSession, dir: String, minCos: Double = 0.4,
                    bitsOpt: Option[Int] = None,
                    multiProbe: Boolean = false): DataFrame = {
    val pairGen = if (multiProbe) nearDupPairsMultiProbeRaw(spark, dir, minCos, bitsOpt)
                  else nearDupPairsRaw(spark, dir, minCos, bitsOpt)
    val pairs = pairGen.select(col("a_id").as("u"), col("b_id").as("v"))
    val drops = Dedup.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("drop_id"))
    Tables.loadWide(spark, dir, "embeddings")
      .join(drops, col("vec_id") === col("drop_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  def semanticDedupSql(minCos: Double = 0.4,
                       bitsOpt: Option[Int] = None,
                       multiProbe: Boolean = false): String = {
    val pairSql = if (multiProbe) nearDupPairsMultiProbeSql(minCos, bitsOpt)
                  else nearDupPairsSql(minCos, bitsOpt)
    s"""WITH RECURSIVE jp AS ($pairSql),
        e AS (SELECT a_id AS u, b_id AS v FROM jp
              UNION SELECT b_id, a_id FROM jp),
        reach(src, node) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM e) n
          UNION
          SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
        comp AS (SELECT src AS vid, min(node) AS cluster_id FROM reach GROUP BY 1)
        SELECT emb.vec_id, emb.label FROM embeddings emb
        WHERE NOT EXISTS (SELECT 1 FROM comp c
                          WHERE c.vid = emb.vec_id AND c.vid <> c.cluster_id)"""
  }

  /** Embedding OUTLIER scoring (curation op): cosine of every vector to
    * its label's centroid, ranked ascending — the k least-central
    * vectors per label are the prune candidates (mislabeled or noisy
    * rows; the "far from cluster center" pruning signal SemDeDup's
    * cluster pass and CLIP-score filtering both build on).
    *
    * Cross-engine determinism: a naive avg() centroid is a
    * floating-point sum in partition order — unreproducible between any
    * two engines (or two runs). Coordinates are instead quantized to
    * fixed-point longs (×2^20; float32 inputs are exact in double, the
    * scaled sum of a 100 TB corpus stays < 2^63 for |x| < 8e5·2^-20·n⁻¹…
    * practically any normalized embedding), summed EXACTLY as integers
    * (order-free), and divided once — both engines then produce
    * bit-identical float centroids, and cosine reuses the index-ordered
    * fold contract every other vector query relies on.
    *
    * Scale shape: one (label, pos) shuffle of longs for the centroids
    * (partial-aggregated map-side), centroid table is #labels × dim
    * (broadcast), scoring is a narrow codegen'd map over the corpus, and
    * the per-label bottom-k window shuffles (label, vec_id, score)
    * triples only. */
  def embeddingOutliers(spark: SparkSession, dir: String, k: Int = 5,
                        scaleBits: Int = 20): DataFrame = {
    val q = 1L << scaleBits
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val coords = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        round(col("x").cast(DoubleType) * q).cast(LongType).as("qx"))
    val cent = coords.groupBy(col("label"), col("pos"))
      .agg(sum(col("qx")).as("sq"), count(lit(1)).as("n"))
      .withColumn("c",
        (col("sq").cast(DoubleType) / (col("n") * q).cast(DoubleType))
          .cast(FloatType))
    val centArr = cent.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label").as("c_label"),
        expr("transform(pc, s -> s.c)").as("centroid"))
    val scored = emb.join(broadcast(centArr), col("label") === col("c_label"))
      .withColumn("cos_centroid", cosine(col("embedding"), col("centroid")))
      .filter(col("cos_centroid").isNotNull)
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_centroid").asc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("label"), col("rn"), col("vec_id"), col("cos_centroid"))
      .orderBy(col("label"), col("rn"))
  }

  def embeddingOutliersSql(k: Int = 5, scaleBits: Int = 20): String = {
    val q = 1L << scaleBits
    s"""WITH coords AS (
          SELECT label, i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE) * $q) AS BIGINT) AS qx
          FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        cent AS (SELECT label, pos, CAST(sum(qx) AS BIGINT) AS sq,
                        count(*) AS n
                 FROM coords GROUP BY 1, 2),
        carr AS (SELECT label,
                        list(CAST(CAST(sq AS DOUBLE) / CAST(n * $q AS DOUBLE) AS FLOAT)
                             ORDER BY pos) AS centroid
                 FROM cent GROUP BY 1),
        scored AS (SELECT e.label, e.vec_id,
                          ${cosineSql("e.embedding", "c.centroid")} AS cos_centroid
                   FROM embeddings e JOIN carr c ON e.label = c.label),
        r AS (SELECT label, vec_id, cos_centroid,
                     row_number() OVER (PARTITION BY label
                                        ORDER BY cos_centroid ASC, vec_id) AS rn
              FROM scored WHERE cos_centroid IS NOT NULL)
        SELECT label, rn, vec_id, cos_centroid FROM r WHERE rn <= $k"""
  }

  // ---------------------------------------------------------------------
  // Graph ANN: k-NN graph construction + multi-start greedy search.
  // The third index family next to the bucket indexes (sign-LSH) and the
  // cell indexes (IVF/PQ/SQ8): a navigable neighbor GRAPH, searched by
  // walking edges toward the query (the NSW/HNSW family reduced to its
  // deterministic, oracle-checkable core). Reference contract is still
  // Pinecone cosine top-k (/root/reference/src/pinecone_utils.py:94-132);
  // the graph is how production engines serve it when neither an
  // exhaustive scan nor cell probes fit the latency budget.
  // ---------------------------------------------------------------------

  /** K-NN GRAPH construction: for every node, its `deg` nearest
    * neighbors by exact cosine among multi-probe sign-LSH candidates
    * (radius-1 probes, adaptive bucket width). This is the
    * candidate-then-verify graph build every distributed NN-graph
    * system uses (NN-Descent and HNSW bulk-build both start from an
    * approximate candidate set): the LSH equi-join proposes, exact
    * cosine ranks, and a bounded per-node top-k keeps the graph
    * O(n·deg) — never all-pairs.
    *
    * Shape: corpus bucketed once (narrow); the probe side explodes each
    * node into bits+1 probe rows; candidates come from the bucket
    * equi-join (both sides shuffle ONCE on the bucket key, per-bucket
    * work bounded by [[adaptiveBits]]' occupancy target); per-node
    * top-deg is the bounded-heap aggregate ([[graft.functions
    * .NativeFunctions.topKByScore]]), so each partition ships at most
    * deg rows per node — the same map-side-combine win as
    * [[topKAgg]]. At 100 TB: one bucket-keyed shuffle of (src, dst,
    * score) triples bounded by occupancy, one deg-bounded aggregate;
    * the embeddings themselves move only into the bucket join, never
    * through the window. */
  /** The candidate-then-verify graph build over an arbitrary node set
    * (vec_id, embedding) at a given bucket width — shared by the
    * whole-corpus [[knnGraph]] and the per-layer builds of
    * [[hnswSearch]]. */
  private[graft] def knnGraphFrom(emb: DataFrame, deg: Int,
                                  bits: Int): DataFrame = {
    val nodes = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val probes = nodes
      .select(col("vec_id").as("src"), col("embedding").as("s_emb"),
        signBucket(col("embedding"), bits).as("s_bucket"))
      .withColumn("probe", explode(probeArray("s_bucket", bits, radius = 1)))
    val scored = nodes.join(probes,
        col("bucket") === col("probe") && col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        cosine(col("s_emb"), col("embedding")).as("score"))
      .filter(col("score").isNotNull) // NULL-score contract: see topK
    scored.groupBy(col("src"))
      .agg(graft.functions.NativeFunctions.topKByScore(
        col("score"), col("dst"), deg).as("top"))
      .select(col("src"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("src"), (col("pos") + 1).cast(IntegerType).as("rn"),
        col("p.id").as("dst"), col("p.score").as("score"))
  }

  def knnGraph(spark: SparkSession, dir: String, deg: Int = 8,
               bitsOpt: Option[Int] = None): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    knnGraphFrom(emb, deg, bitsOpt.getOrElse(adaptiveBits(emb.count())))
      .orderBy(col("src"), col("rn"))
  }

  /** Shared SQL for the graph CTEs (radius-1 probes, per-src top-deg by
    * (score DESC, dst)) — the oracle twin of [[knnGraph]]'s
    * candidate-then-verify build. `bitsOpt = None` is the adaptive-width
    * batch build; `Some(b)` pins the bucket width (the streaming store's
    * contract: a stream cannot count its corpus up front, so the index
    * config is fixed at deploy — the streamLshTopKQuery precedent). */
  private def knnGraphCtesSql(deg: Int, bitsOpt: Option[Int] = None): String = {
    val (nbCte, nbFrom, bucketExpr, seriesHi) = bitsOpt match {
      case Some(b) => ("", "", signBucketSql("embedding", b), b.toString)
      case None => (s"nb AS (${adaptiveBitsSql("embeddings")}),", ", nb",
        signBucketSqlAdaptive("embedding"), "nb.bits")
    }
    s"""$nbCte
        c AS (SELECT vec_id, embedding,
                     $bucketExpr AS bucket
              FROM embeddings$nbFrom),
        p AS (SELECT vec_id AS src, embedding AS s_emb,
                     CASE WHEN i = 0 THEN bucket
                          ELSE xor(bucket, (1 << (i - 1))) END AS probe
              FROM c$nbFrom, unnest(generate_series(0, $seriesHi)) AS t(i)),
        cand AS (SELECT p.src, c.vec_id AS dst,
                        ${cosineSql("s_emb", "c.embedding")} AS score
                 FROM p JOIN c ON c.bucket = p.probe AND c.vec_id <> p.src),
        g AS (SELECT src, rn, dst, score FROM (
                SELECT src, dst, score,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY score DESC, dst) AS rn
                FROM cand WHERE score IS NOT NULL) WHERE rn <= $deg)"""
  }

  def knnGraphSql(deg: Int = 8, bitsOpt: Option[Int] = None): String =
    s"""WITH ${knnGraphCtesSql(deg, bitsOpt)}
        SELECT src, rn, dst, score FROM g ORDER BY src, rn"""

  /** MULTI-START GREEDY GRAPH SEARCH over the [[knnGraph]]: from
    * `nEntries` fixed entry nodes spread across the id space, each walk
    * hops to the current node's best-scoring graph neighbor while that
    * STRICTLY improves cosine to the query (strict improvement = no
    * cycles, termination ≤ maxSteps enforced identically on both
    * engines); the answer is the best terminal over all starts
    * ((score DESC, node, steps) tie order). Multi-start is the graph
    * family's recall knob exactly as probe radius is LSH's and nProbe
    * is IVF's: one entry finds the true top-1 for 2/10 fixture queries,
    * 8 entries find 7/10 (RecallProbe) — each start descends a
    * different basin of the graph.
    *
    * Scale posture — the reason graph search wins at serving time: per
    * step each walk touches exactly deg edges of ONE node, so a query
    * costs O(entries · steps · deg) cosines (~3 steps · 8 edges here)
    * against thousands for cell probes or an exhaustive scan. The walk
    * is BSP on DataFrames (the CC pattern): the frontier —
    * O(nQueries · nEntries) control rows — joins the distributed edge
    * list each superstep, scores only the touched nodes'
    * neighborhoods, and localCheckpoints to keep lineage flat. The
    * graph never collects to the driver; per-step driver state is one
    * count. At 100 TB, partition edges by src so each superstep's join
    * prunes to the frontier's partitions (the streaming ANN store
    * layout). */
  def graphGreedySearch(spark: SparkSession, dir: String, deg: Int = 8,
                        nQueries: Int = 10, nEntries: Int = 8,
                        maxSteps: Int = 16): DataFrame = {
    // r13: the supersteps were the wall (8/32-core ratio ~1 — driver
    // actions, not data). When the corpus and graph fit the WalkDriver
    // caps the walk runs driver-side off the inputs the flat beam
    // descent collects, with greedy's own move rule; above cap the
    // distributed loop below runs.
    val d = graphBeamDescent(spark, dir, deg, nQueries, nEntries,
      beamWidth = 1, steps = maxSteps, k = 1)
    BeamDescent.collect(d).map { c =>
      WalkDriver.greedyResultDF(spark,
        WalkDriver.greedyWalk(c.queries, c.entries, c.emb, c.adjs(0), maxSteps))
    }.getOrElse(
      graphGreedySearchDistributed(spark, dir, deg, nQueries, nEntries,
        maxSteps))
  }

  /** The pre-r13 distributed superstep loop — the above-cap fallback,
    * and the equivalence anchor R13WalkDriverSpec pins the driver walk
    * against. */
  private[graft] def graphGreedySearchDistributed(
      spark: SparkSession, dir: String, deg: Int = 8,
      nQueries: Int = 10, nEntries: Int = 8,
      maxSteps: Int = 16): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val n = emb.count()
    // moves = graph edges with the destination vector attached once —
    // every superstep scans this, so materialize eagerly (lifetime
    // tracks the result via ContextCleaner; the persist-vs-checkpoint
    // lesson)
    val moves = knnGraph(spark, dir, deg)
      .select(col("src"), col("dst"))
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("dst_emb")),
        "dst")
      .select(col("src"), col("dst"), col("dst_emb"))
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val entries = emb.filter(
        col("vec_id").isin(BeamDescent.spreadIds(n, nQueries, nEntries): _*))
      .select(col("vec_id").as("entry"), col("embedding").as("e_emb"))
    var frontier = queries.join(broadcast(entries), col("entry") =!= col("qid"))
      .select(col("qid"), col("q_emb"), col("entry"),
        col("entry").as("node"),
        cosine(col("q_emb"), col("e_emb")).as("score"),
        lit(0).as("steps"), lit(false).as("done"))
      .filter(col("score").isNotNull)
      .localCheckpoint(true)
    var step = 0
    // driver control state is ONE long per superstep (the active count)
    var active = frontier.filter(!col("done")).count()
    while (step < maxSteps && active > 0) {
      val cand = frontier.filter(!col("done"))
        .join(moves, col("node") === col("src"))
        .filter(col("dst") =!= col("qid"))
        .withColumn("mscore", cosine(col("q_emb"), col("dst_emb")))
        .filter(col("mscore").isNotNull)
      val w = Window.partitionBy(col("qid"), col("entry"))
        .orderBy(col("mscore").desc, col("dst"))
      val best = cand.withColumn("brn", row_number().over(w))
        .filter(col("brn") === 1)
        .select(col("qid").as("b_qid"), col("entry").as("b_entry"),
          col("dst").as("b_dst"), col("mscore"))
      val moved = !col("done") && col("mscore").isNotNull &&
        col("mscore") > col("score")
      frontier = frontier.join(best,
          col("qid") === col("b_qid") && col("entry") === col("b_entry"),
          "left")
        .select(col("qid"), col("q_emb"), col("entry"),
          when(moved, col("b_dst")).otherwise(col("node")).as("node"),
          when(moved, col("mscore")).otherwise(col("score")).as("score"),
          when(moved, col("steps") + 1).otherwise(col("steps")).as("steps"),
          (col("done") || !(col("mscore").isNotNull &&
            col("mscore") > col("score"))).as("done"))
        .localCheckpoint(true)
      step += 1
      active = frontier.filter(!col("done")).count()
    }
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("node"), col("steps"))
    frontier.withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
      .select(col("qid"), col("node"), col("score"), col("steps"))
      .orderBy(col("qid"))
  }

  /** BEAM SEARCH over the [[knnGraph]] — the graph family's top-K
    * server ([[graphGreedySearch]] is the degenerate beam of width 1
    * answering top-1): start from the [[graphGreedySearch]] entry set,
    * keep the best `beamWidth` VISITED nodes per query, expand all
    * their edges each step, and after a FIXED `steps` supersteps answer
    * top-k of everything visited. The visited set only grows and the
    * beam is its running top-b, so the iteration is monotone — extra
    * steps are no-ops once no frontier node improves the beam, which
    * lets both engines run the identical fixed depth with no
    * early-exit divergence (the oracle UNROLLS the steps into chained
    * CTEs; no recursion, so window functions stay legal).
    *
    * Cost per query is O(steps · beamWidth · deg) cosines — a CONSTANT
    * of the search parameters, so at 100 TB it is the same few-hundred
    * cosines against a billion-row index (at fixture scale those
    * constants are an honest ~26% of the 2000-row corpus). Width is
    * the family's recall knob past multi-start (RecallProbe, sf0.1):
    * beam 4×6 = 0.27@3 / 0.30@1, the default 8×8 = 0.53@3 / 0.80@1,
    * 16×8 = 0.67@3 / 0.90@1 — vs 0.70@1 for 8-start greedy; pooling
    * the walkers into one frontier lets mass shift toward whichever
    * basin looks best instead of splitting it evenly. */
  def graphBeamSearch(spark: SparkSession, dir: String, deg: Int = 8,
                      nQueries: Int = 10, nEntries: Int = 8,
                      beamWidth: Int = 8, steps: Int = 8,
                      k: Int = 3): DataFrame =
    BeamDescent.run(spark, graphBeamDescent(spark, dir, deg, nQueries,
      nEntries, beamWidth, steps, k))

  /** [[graphBeamSearch]] as a descent: spread entries, one phase over
    * the in-plan [[knnGraph]]. */
  private[graft] def graphBeamDescent(spark: SparkSession, dir: String,
                                      deg: Int = 8, nQueries: Int = 10,
                                      nEntries: Int = 8, beamWidth: Int = 8,
                                      steps: Int = 8, k: Int = 3): BeamDescent.Descent = {
    val corpus = corpusOf(spark, dir)
    // unsorted: an output sort costs the edge probe a range-partition pass
    BeamDescent.Descent(corpus, nQueries,
      BeamDescent.Spread(nEntries),
      Seq(BeamDescent.Phase(BeamDescent.Graph(
        knnGraphFrom(corpus, deg, adaptiveBits(corpus.count()))
          .select(col("src"), col("dst"))), beamWidth, steps)),
      k)
  }

  private def corpusOf(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWide(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))

  private[graft] val GraphStoreBuckets = 64

  /** The pruned edge read: only the partitions holding the frontier's
    * buckets are listed and scanned — the store-serve analogue of
    * StreamOps.prunedSeenFps, exposed for the plan spec. */
  private[graft] def prunedGraphEdges(spark: SparkSession, storeDir: String,
                                      buckets: Seq[Int]): DataFrame =
    spark.read.parquet(storeDir).where(col("gbucket").isin(buckets: _*))

  /** [[graphBeamSearch]] served from a MATERIALIZED, src-bucket-
    * PARTITIONED edge store — the deployment layout the in-plan search's
    * scaladoc promises: the graph is built ONCE (write side:
    * `partitionBy(gbucket)` with clustered, src-sorted files), and each
    * superstep reads only the partitions holding the current frontier's
    * buckets. Per-step driver state is the frontier's bucket set —
    * O(nQueries · beamWidth) ints, the serveLshTopKFromStore probe-set
    * legitimacy class — pushed as a static partition filter, so a
    * superstep against a billion-edge store lists and scans
    * frontier-many buckets, not the store. Results are byte-identical
    * to [[graphBeamSearch]] at the same parameters (same graph, same
    * walk, same cosines); the oracle is graphBeamSearchSql itself. */
  def graphBeamSearchFromStore(spark: SparkSession, dir: String, deg: Int = 8,
                               nQueries: Int = 10, nEntries: Int = 8,
                               beamWidth: Int = 8, steps: Int = 8,
                               k: Int = 3): DataFrame =
    graphBeamServeFrom(spark, dir, buildGraphStore(spark, dir, deg),
      GraphStoreBuckets, nQueries, nEntries, beamWidth, steps, k)

  /** Resolve (build-if-absent) the src-bucket-partitioned k-NN edge
    * store at `buckets` partitions — the default width for fresh
    * builds; a RE-BUCKETED width resolves the layout
    * [[rebucketGraphStore]] published. */
  private[graft] def buildGraphStore(spark: SparkSession, dir: String,
                                     deg: Int,
                                     buckets: Int = GraphStoreBuckets): String =
    graft.StoreCatalog.getOrBuild(spark, "knn_graph",
      Seq(s"$dir/embeddings.parquet"),
      Seq("deg" -> deg.toString,
        "buckets" -> buckets.toString),
      Seq("edges")) { parts =>
      val emb = Tables.loadWide(spark, dir, "embeddings")
      knnGraph(spark, dir, deg)
        .select(col("src"), col("dst"))
        .join(emb.select(col("vec_id").as("dst"), col("embedding").as("dst_emb")),
          "dst")
        .withColumn("gbucket",
          pmod(col("src"), lit(buckets.toLong)).cast(IntegerType))
        .repartition(col("gbucket")) // one file per bucket, src-sorted
        .sortWithinPartitions(col("gbucket"), col("src"))
        .write.mode("overwrite").partitionBy("gbucket").parquet(parts("edges"))
      Map.empty
    }.parts("edges")

  /** CATALOG-MANAGED RE-BUCKETING of the k-NN edge store — the
    * store-growth knob every bucket-partitioned layout documents
    * ("raise buckets with the corpus"), run as a catalog operation:
    * the widened layout is REWRITTEN from the old store's at-rest rows
    * (the partition key is a pure function of `src` — no graph
    * rebuild, no embedding scan), built under the NEW config's key via
    * the catalog's staging + atomic publish (crash-safe, race-safe),
    * and the old store keeps serving until the caller retires it with
    * [[graft.StoreCatalog.drop]]. Serve continuity is spec-pinned: the
    * widened store serves byte-identical walks. */
  def rebucketGraphStore(spark: SparkSession, dir: String, deg: Int = 8,
                         newBuckets: Int = 256): String = {
    val oldDir = buildGraphStore(spark, dir, deg)
    graft.StoreCatalog.getOrBuild(spark, "knn_graph",
      Seq(s"$dir/embeddings.parquet"),
      Seq("deg" -> deg.toString,
        "buckets" -> newBuckets.toString),
      Seq("edges")) { parts =>
      Sinks.rebucketPartitioned(spark, oldDir, parts("edges"), "gbucket",
        pmod(col("src"), lit(newBuckets.toLong)).cast(IntegerType),
        Seq("src"))
      Map.empty
    }.parts("edges")
  }

  /** The descent itself, off an explicit edge store at an explicit
    * bucket width — shared by the default serve and the re-bucketed
    * layout (the frontier's bucket set is derived with the STORE's own
    * width, everything else is width-agnostic). */
  private[graft] def graphBeamServeFrom(spark: SparkSession, dir: String,
                                        storeDir: String, nBuckets: Int,
                                        nQueries: Int = 10, nEntries: Int = 8,
                                        beamWidth: Int = 8, steps: Int = 8,
                                        k: Int = 3): DataFrame =
    BeamDescent.run(spark, graphBeamServeDescent(spark, dir, storeDir,
      nBuckets, nQueries, nEntries, beamWidth, steps, k))

  /** [[graphBeamServeFrom]] as a descent: spread entries, one phase
    * over the edge store (dst vectors stored with each edge). */
  private[graft] def graphBeamServeDescent(spark: SparkSession, dir: String,
                                           storeDir: String, nBuckets: Int,
                                           nQueries: Int = 10, nEntries: Int = 8,
                                           beamWidth: Int = 8, steps: Int = 8,
                                           k: Int = 3): BeamDescent.Descent =
    BeamDescent.Descent(corpusOf(spark, dir), nQueries,
      BeamDescent.Spread(nEntries),
      Seq(BeamDescent.Phase(BeamDescent.Store(spark.read.parquet(storeDir),
        nBuckets), beamWidth, steps)),
      k)

  /** Oracle twin of [[graphBeamSearch]]: the fixed-depth loop unrolled
    * into chained CTEs v0..v`steps` (beam = windowed top-b of the
    * previous visited set, expansion = edge join + cosine, union +
    * DISTINCT dedupe). */
  def graphBeamSearchSql(deg: Int = 8, nQueries: Int = 10, nEntries: Int = 8,
                         beamWidth: Int = 8, steps: Int = 8,
                         k: Int = 3, bitsOpt: Option[Int] = None): String = {
    val stepCtes = (1 to steps).map { i =>
      s"""b$i AS MATERIALIZED (SELECT qid, node FROM (
            SELECT qid, node,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY score DESC, node) AS rn
            FROM v${i - 1}) WHERE rn <= $beamWidth),
          x$i AS MATERIALIZED (SELECT q.qid, g.dst AS node,
                         ${cosineSql("q_emb", "e.embedding")} AS score
                  FROM b$i b JOIN g ON g.src = b.node
                  JOIN q ON q.qid = b.qid
                  JOIN embeddings e ON e.vec_id = g.dst
                  WHERE g.dst <> b.qid
                    AND ${cosineSql("q_emb", "e.embedding")} IS NOT NULL),
          v$i AS MATERIALIZED (SELECT DISTINCT qid, node, score FROM (
                    SELECT * FROM v${i - 1}
                    UNION ALL SELECT * FROM x$i))"""
    }
    s"""WITH ${knnGraphCtesSql(deg, bitsOpt)},
        q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
              WHERE vec_id < $nQueries),
        ent AS (SELECT CAST($nQueries +
                  (i * ((SELECT count(*) FROM embeddings) - $nQueries))
                  // $nEntries AS BIGINT) AS entry
                FROM unnest(generate_series(0, ${nEntries - 1})) AS t(i)),
        v0 AS MATERIALIZED (SELECT q.qid, e.vec_id AS node,
                      ${cosineSql("q_emb", "e.embedding")} AS score
               FROM q CROSS JOIN ent JOIN embeddings e ON e.vec_id = ent.entry
               WHERE ent.entry <> q.qid
                 AND ${cosineSql("q_emb", "e.embedding")} IS NOT NULL),
        ${stepCtes.mkString(", ")}
        SELECT qid, rn, node, score FROM (
          SELECT qid, node, score,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, node) AS rn
          FROM v$steps) WHERE rn <= $k ORDER BY qid, rn"""
  }

  /** CLUSTER-BALANCED SAMPLING — the embedding-space sibling of
    * TextAnalytics.domainCap (anti-monoculture in CONTENT space rather
    * than metadata space, the cluster-then-prune posture of SemDeDup /
    * cluster-balanced data curation): coarse-quantize every document
    * embedding into `nCells` centroid cells with the same argmax
    * assignment the IVF index uses, then keep at most `cap` documents
    * per cell (first-arrival order — min vec_id — so the keep set is
    * deterministic and stable under reruns). Topic monocultures larger
    * than `cap` are cut to it; small topics pass through untouched.
    *
    * Scale shape: the codebook is the one legitimate collect (O(nCells
    * ·dim) model state, inlined as literals) so assignment is a narrow
    * codegen'd pass with NO shuffle of the corpus; the cap is a
    * row_number window on (cell) — Spark 4 plans a partial
    * WindowGroupLimit below the exchange, so each partition ships at
    * most cap rows per cell. Oracle: the IVF assignment CTE + the same
    * windowed cap. */
  def clusterCapSample(spark: SparkSession, dir: String, nCells: Int = 8,
                       cap: Int = 50): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val codebook = seedCodebook(emb, nCells)
    val assigned = emb.select(col("vec_id"),
      assignCell(col("embedding"), codebook).as("cell"))
    val w = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    assigned.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("cell"), col("rn"), col("vec_id"))
      .orderBy(col("cell"), col("rn"))
  }

  def clusterCapSampleSql(nCells: Int = 8, cap: Int = 50): String =
    s"""WITH cb AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                    FROM embeddings WHERE vec_id < $nCells),
        ca AS (SELECT e.vec_id, cent_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosineSql("e.embedding", "cent_emb")} DESC, cent_id DESC) AS crn
               FROM embeddings e CROSS JOIN cb),
        assigned AS (SELECT vec_id, cent_id AS cell FROM ca WHERE crn = 1),
        r AS (SELECT cell, vec_id,
                row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
              FROM assigned)
        SELECT cell, rn, vec_id FROM r WHERE rn <= $cap ORDER BY cell, rn"""

  /** Deterministic HNSW level assignment: level l with probability
    * 16^-l from the id's [[graft.functions.TextFunctions.fingerprint]]
    * (the paper's geometric draw `floor(-ln(U)·mL)` with the seeded RNG
    * replaced by a content hash — engine-independent, so the oracle
    * reproduces the exact layer membership). Levels are NESTED: a node
    * at level l is a member of every layer <= l, the standard HNSW
    * structure. */
  private[graft] def hnswLevelCol(id: Column, cap: Int = 2): Column = {
    val h = graft.functions.TextFunctions.fingerprint(id.cast("string"))
    (cap to 1 by -1).foldRight(lit(0): Column) { (l, rest) =>
      when(pmod(h, lit(1L << (4 * l))) === 0, lit(l)).otherwise(rest)
    }
  }

  private def hnswLevelSql: String = {
    val h = graft.functions.TextFunctions.fingerprintSql("CAST(vec_id AS VARCHAR)")
    s"""CASE WHEN ($h) % 256 = 0 THEN 2
             WHEN ($h) % 16 = 0 THEN 1 ELSE 0 END"""
  }

  /** Per-layer graph CTEs (suffix-parameterized [[knnGraphCtesSql]]
    * over a nodes CTE instead of the embeddings table): adaptive bits
    * sized to the LAYER's population, radius-1 probes, per-src
    * top-deg. */
  private def layerGraphCtesSql(sfx: String, nodesCte: String,
                                deg: Int,
                                bitsOpt: Option[Int] = None): String = {
    val (nbCte, nbFrom, bucketExpr, seriesHi) = bitsOpt match {
      case Some(b) => ("", "", signBucketSql("embedding", b), b.toString)
      case None => (s"nb$sfx AS (${adaptiveBitsSql(nodesCte)}),", s", nb$sfx",
        signBucketSqlAdaptive("embedding", 16, s"nb$sfx"), s"nb$sfx.bits")
    }
    s"""$nbCte
        c$sfx AS (SELECT vec_id, embedding,
                     $bucketExpr AS bucket
              FROM $nodesCte$nbFrom),
        p$sfx AS (SELECT vec_id AS src, embedding AS s_emb,
                     CASE WHEN i = 0 THEN bucket
                          ELSE xor(bucket, (1 << (i - 1))) END AS probe
              FROM c$sfx$nbFrom, unnest(generate_series(0, $seriesHi)) AS t(i)),
        cand$sfx AS (SELECT p$sfx.src, c$sfx.vec_id AS dst,
                        ${cosineSql("s_emb", s"c$sfx.embedding")} AS score
                 FROM p$sfx JOIN c$sfx
                 ON c$sfx.bucket = p$sfx.probe AND c$sfx.vec_id <> p$sfx.src),
        g$sfx AS (SELECT src, dst FROM (
                SELECT src, dst, score,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY score DESC, dst) AS rn
                FROM cand$sfx WHERE score IS NOT NULL) WHERE rn <= $deg)"""
  }

  /** HNSW SEARCH — the hierarchical form of [[graphBeamSearch]] and the
    * production shape of the graph family (Malkov & Yashunin 2016,
    * reduced to its deterministic, oracle-checkable core): nodes draw a
    * geometric level from their content hash ([[hnswLevelCol]]),
    * each layer holds a k-NN graph over the nodes at that level or
    * above (layer populations shrink 16× per level, so upper layers are
    * coarse long-range maps), and a query descends — entered at the
    * TOP layer's nodes, walked as a width-1 beam per upper layer
    * (greedy routing), then widened to a `beamWidth` beam on the base
    * layer for the final top-k. The visited set carries across layers
    * (levels are nested, so every visited node exists in every lower
    * layer) which keeps the whole search ONE monotone fixed-depth
    * iteration — the oracle unrolls all three phases into the same
    * chained CTEs as [[graphBeamSearchSql]], just switching the edge
    * CTE and the beam width per phase.
    *
    * vs multi-start beam: the hierarchy replaces the entry-spread
    * heuristic — routing starts from O(n/16^maxLevel) top nodes and
    * pays O(stepsUpper·deg) cosines per upper layer instead of scoring
    * nEntries spread entries, the structure that keeps entry quality
    * stable as the index grows a billion rows (RecallProbe reports the
    * fixture-scale comparison; on this near-isotropic word-salad corpus
    * basin-hopping matters more than routing, so multi-start holds its
    * own — on clustered production embeddings the hierarchy is the
    * standard for a reason). Per-query cost is O(levels·stepsUpper·deg
    * + steps·beamWidth·deg) cosines — constants of the search params,
    * decoupled from corpus size. */
  def hnswSearch(spark: SparkSession, dir: String, deg: Int = 8,
                 nQueries: Int = 10, stepsUpper: Int = 4,
                 beamWidth: Int = 8, steps: Int = 8,
                 k: Int = 3,
                 layerBits: Option[Int => Int] = None): DataFrame =
    BeamDescent.run(spark, hnswDescent(spark, dir, deg, nQueries, stepsUpper,
      beamWidth, steps, k, layerBits))

  /** [[hnswSearch]] as a descent: entered at the top populated layer's
    * nodes, one phase per layer over its in-plan k-NN graph (identical
    * [[knnGraphFrom]] builds, adaptive width per layer population).
    * `layerBits` pins per-layer widths (the streaming-store contract —
    * a stream cannot count its corpus up front). ONE aggregate yields
    * the layer populations: the top populated level and every adaptive
    * width come from it. */
  private[graft] def hnswDescent(spark: SparkSession, dir: String, deg: Int = 8,
                                 nQueries: Int = 10, stepsUpper: Int = 4,
                                 beamWidth: Int = 8, steps: Int = 8,
                                 k: Int = 3,
                                 layerBits: Option[Int => Int] = None): BeamDescent.Descent = {
    val corpus = corpusOf(spark, dir)
    val lvl = corpus.withColumn("lvl", hnswLevelCol(col("vec_id")))
      .localCheckpoint(true)
    val perLevel = lvl.groupBy(col("lvl")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxl = perLevel.keys.maxOption.getOrElse(0)
    def layer(l: Int): BeamDescent.Edges = {
      val nodes = lvl.filter(col("lvl") >= l).select(col("vec_id"), col("embedding"))
      val bits = layerBits.map(f => f(l)).getOrElse(
        adaptiveBits(perLevel.collect { case (m, c) if m >= l => c }.sum))
      BeamDescent.Graph(knnGraphFrom(nodes, deg, bits).select(col("src"), col("dst")))
    }
    hnswPhases(corpus, nQueries,
      lvl.filter(col("lvl") === maxl).select(col("vec_id"), col("embedding")),
      maxl, layer, stepsUpper, beamWidth, steps, k)
  }

  /** The HNSW descent shape shared by every hierarchy: width-1 routing
    * on each layer from `maxl` down to 1, then the `beamWidth` beam on
    * the base layer, entered at `entries` (vec_id, embedding). */
  private[graft] def hnswPhases(corpus: DataFrame, nQueries: Int,
                                entries: DataFrame, maxl: Int,
                                layer: Int => BeamDescent.Edges,
                                stepsUpper: Int, beamWidth: Int, steps: Int,
                                k: Int): BeamDescent.Descent =
    BeamDescent.Descent(corpus, nQueries, BeamDescent.Nodes(entries),
      (maxl to 1 by -1).map(l => BeamDescent.Phase(layer(l), 1, stepsUpper)) :+
        BeamDescent.Phase(layer(0), beamWidth, steps),
      k)

  /** The pruned hierarchy read: ONE layer, frontier-many buckets. Both
    * `lvl` and `gbucket` are partition columns, so the equality and the
    * isin prune directory listings before any bytes are read — a
    * superstep against a billion-edge hierarchy lists and scans
    * frontier-many buckets of one layer, never the store. Exposed for
    * the plan spec. */
  private[graft] def prunedHnswEdges(spark: SparkSession, storeDir: String,
                                     lvl: Int, buckets: Seq[Int]): DataFrame =
    spark.read.parquet(storeDir)
      .where(col("lvl") === lvl && col("gbucket").isin(buckets: _*))

  /** Build the FULL HNSW hierarchy once into a (lvl, gbucket)-
    * partitioned edge store: every layer's k-NN graph (the identical
    * [[knnGraphFrom]] builds [[hnswSearch]] runs in-query, adaptive
    * width per layer population), destination vectors attached at
    * build time, one clustered src-sorted file per (layer, bucket).
    * The per-layer count()s are paid HERE, once per index lifetime,
    * not per query. Returns (store dir, max populated level). */
  private[graft] def buildHnswStore(spark: SparkSession, dir: String,
                                    deg: Int, cap: Int = 2): (String, Int) = {
    val h = graft.StoreCatalog.getOrBuild(spark, "hnsw_hierarchy",
      Seq(s"$dir/embeddings.parquet"),
      Seq("deg" -> deg.toString,
        "buckets" -> GraphStoreBuckets.toString,
        "maxcap" -> cap.toString),
      Seq("edges")) { parts =>
      val emb = Tables.loadWide(spark, dir, "embeddings")
      val lvl = emb.select(col("vec_id"), col("embedding"),
        hnswLevelCol(col("vec_id"), cap).as("lvl")).localCheckpoint(true)
      val maxl = lvl.agg(max(col("lvl"))).collect()(0).getInt(0)
      val dstEmb = emb.select(col("vec_id").as("dst"),
        col("embedding").as("dst_emb"))
      val layers = (0 to maxl).map { l =>
        val nodes = lvl.filter(col("lvl") >= l)
          .select(col("vec_id"), col("embedding"))
        knnGraphFrom(nodes, deg, adaptiveBits(nodes.count()))
          .select(col("src"), col("dst"))
          .join(dstEmb, "dst")
          .select(col("src"), col("dst"), col("dst_emb"),
            lit(l).as("lvl"))
      }
      layers.reduce(_ unionByName _)
        .withColumn("gbucket",
          pmod(col("src"), lit(GraphStoreBuckets.toLong)).cast(IntegerType))
        .repartition(col("lvl"), col("gbucket")) // one file per partition
        .sortWithinPartitions(col("lvl"), col("gbucket"), col("src"))
        .write.mode("overwrite").partitionBy("lvl", "gbucket")
        .parquet(parts("edges"))
      // max populated level is store METADATA fixed at build — a serve
      // session reads it from the manifest, never recomputes it
      Map("maxl" -> maxl.toString)
    }
    (h.parts("edges"), h.meta("maxl").toInt)
  }

  /** HIERARCHY REWRITE: RAISE THE LEVEL CAP — the production control
    * SCALE_PROBE documents for the growing top layer (the descent's
    * entry read scans the whole top layer; at a pinned cap it is
    * corpus/16^cap and grows linearly with the corpus — raising the cap
    * re-caps it 16× per level). Run as a catalog operation like
    * [[rebucketGraphStore]]: the raised hierarchy builds under the NEW
    * `maxcap` config key with staging + atomic publish, and the rewrite
    * is METADATA-SHAPED for the existing layers — raising the cap can
    * only move nodes UP (levels are nested, membership of layer
    * l <= oldCap is `hash % 16^l == 0` under either cap), so layers
    * 0..oldMaxl are HARDLINKED file-for-file, and only the new top
    * layers' (16^cap-smaller) graphs are computed. At 100 TB the base
    * layer — virtually the whole store — is never rewritten or even
    * read. The old store serves until [[graft.StoreCatalog.drop]]
    * retires it. Serve continuity is spec-pinned: the raised store
    * serves BYTE-IDENTICAL walks at the old parameters (the lower
    * layers are the same inodes), and its new top layer equals a
    * direct build over the raised level's nodes. */
  def raiseHnswMaxLevel(spark: SparkSession, dir: String, deg: Int = 8,
                        fromCap: Int = 2, toCap: Int = 3): (String, Int) = {
    require(toCap > fromCap, s"toCap $toCap must exceed fromCap $fromCap")
    val (oldDir, oldMaxl) = buildHnswStore(spark, dir, deg, fromCap)
    val h = graft.StoreCatalog.getOrBuild(spark, "hnsw_hierarchy",
      Seq(s"$dir/embeddings.parquet"),
      Seq("deg" -> deg.toString,
        "buckets" -> GraphStoreBuckets.toString,
        "maxcap" -> toCap.toString),
      Seq("edges")) { parts =>
      graft.StoreCatalog.linkTree(java.nio.file.Paths.get(oldDir),
        java.nio.file.Paths.get(parts("edges")))
      val emb = Tables.loadWide(spark, dir, "embeddings")
      val lvl = emb.select(col("vec_id"), col("embedding"),
        hnswLevelCol(col("vec_id"), toCap).as("lvl")).localCheckpoint(true)
      val newMaxl = lvl.agg(max(col("lvl"))).collect()(0).getInt(0)
      val dstEmb = emb.select(col("vec_id").as("dst"),
        col("embedding").as("dst_emb"))
      ((oldMaxl + 1) to newMaxl).foreach { l =>
        val nodes = lvl.filter(col("lvl") >= l)
          .select(col("vec_id"), col("embedding"))
        knnGraphFrom(nodes, deg, adaptiveBits(nodes.count()))
          .select(col("src"), col("dst"))
          .join(dstEmb, "dst")
          .select(col("src"), col("dst"), col("dst_emb"), lit(l).as("lvl"))
          .withColumn("gbucket",
            pmod(col("src"), lit(GraphStoreBuckets.toLong)).cast(IntegerType))
          .repartition(col("gbucket"))
          .sortWithinPartitions(col("gbucket"), col("src"))
          .write.mode("append").partitionBy("lvl", "gbucket")
          .parquet(parts("edges"))
      }
      Map("maxl" -> newMaxl.toString)
    }
    (h.parts("edges"), h.meta("maxl").toInt)
  }

  /** [[hnswSearch]] served from the MATERIALIZED hierarchy — the
    * production ANN serve shape: the per-layer graphs are built ONCE
    * ([[buildHnswStore]]) into a store partitioned by (lvl, gbucket),
    * and the query descends with ZERO in-query graph builds or
    * per-layer counts. Each superstep's driver control state is the
    * frontier's bucket set (O(nQueries · beamWidth) ints — the
    * [[graphBeamSearchFromStore]] legitimacy class) pushed with the
    * phase's layer as a static partition filter. Entry set = the top
    * layer's nodes, recomputed from the level hash (a narrow scan of
    * the embeddings — [[hnswLevelCol]] is a pure function of the id,
    * so no stored state is needed); max level is store metadata fixed
    * at build. Results are byte-identical to [[hnswSearch]] at the
    * same parameters (same layer graphs, same walk, same cosines);
    * oracle: hnswSearchSql itself. */
  def hnswSearchFromStore(spark: SparkSession, dir: String, deg: Int = 8,
                          nQueries: Int = 10, stepsUpper: Int = 4,
                          beamWidth: Int = 8, steps: Int = 8,
                          k: Int = 3): DataFrame = {
    val (storeDir, maxl) = buildHnswStore(spark, dir, deg)
    hnswServeFromStore(spark, dir, storeDir, maxl, nQueries, stepsUpper,
      beamWidth, steps, k)
  }

  /** The descent off an EXPLICIT hierarchy store, entered at layer
    * `maxl`: entry set = the nodes of layer `maxl` (levels are nested,
    * so membership is one `hash % 16^maxl == 0` filter — at
    * maxl == the build cap this is exactly "level == maxl"). Serving a
    * RAISED hierarchy at a LOWER maxl reads only the lower layers —
    * which the rewrite hardlinked — so results are byte-identical to
    * the pre-raise store at those parameters: the serve-continuity
    * contract of [[raiseHnswMaxLevel]], pinned by its spec. */
  private[graft] def hnswServeFromStore(spark: SparkSession, dir: String,
                                        storeDir: String, maxl: Int,
                                        nQueries: Int = 10, stepsUpper: Int = 4,
                                        beamWidth: Int = 8, steps: Int = 8,
                                        k: Int = 3): DataFrame =
    BeamDescent.run(spark, hnswStoreDescent(spark, dir, storeDir, maxl,
      nQueries, stepsUpper, beamWidth, steps, k))

  /** [[hnswServeFromStore]] as a descent: each phase walks one `lvl` of
    * the hierarchy store (dst vectors stored with each edge). The store
    * is listed ONCE: read.parquet pays partition discovery at relation
    * build, so per-layer frames share it. */
  private[graft] def hnswStoreDescent(spark: SparkSession, dir: String,
                                      storeDir: String, maxl: Int,
                                      nQueries: Int = 10, stepsUpper: Int = 4,
                                      beamWidth: Int = 8, steps: Int = 8,
                                      k: Int = 3): BeamDescent.Descent = {
    val corpus = corpusOf(spark, dir)
    val store = spark.read.parquet(storeDir)
    hnswPhases(corpus, nQueries,
      corpus.filter(hnswLevelCol(col("vec_id"), maxl) === maxl), maxl,
      l => BeamDescent.Store(store.where(col("lvl") === l)),
      stepsUpper, beamWidth, steps, k)
  }

  /** Oracle twin of [[hnswSearch]]: level table + the three per-layer
    * graph builds + the phase-switched unrolled beam CTEs. NOTE the
    * oracle always emits BOTH upper-layer CTE groups; a layer that is
    * unpopulated (or above the engine's maxl) yields an empty graph, so
    * its steps are no-ops on both engines — matching the engine's
    * maxl-truncated phase list because v0 = the top POPULATED layer's
    * nodes on both sides. */
  def hnswSearchSql(deg: Int = 8, nQueries: Int = 10, stepsUpper: Int = 4,
                    beamWidth: Int = 8, steps: Int = 8,
                    k: Int = 3,
                    layerBits: Option[Int => Int] = None): String = {
    def stepCte(i: Int, gName: String, width: Int) =
      s"""b$i AS MATERIALIZED (SELECT qid, node FROM (
            SELECT qid, node,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY score DESC, node) AS rn
            FROM v${i - 1}) WHERE rn <= $width),
          x$i AS MATERIALIZED (SELECT q.qid, g.dst AS node,
                         ${cosineSql("q_emb", "e.embedding")} AS score
                  FROM b$i b JOIN $gName g ON g.src = b.node
                  JOIN q ON q.qid = b.qid
                  JOIN embeddings e ON e.vec_id = g.dst
                  WHERE g.dst <> b.qid
                    AND ${cosineSql("q_emb", "e.embedding")} IS NOT NULL),
          v$i AS MATERIALIZED (SELECT DISTINCT qid, node, score FROM (
                    SELECT * FROM v${i - 1}
                    UNION ALL SELECT * FROM x$i))"""
    val phaseSteps =
      Seq.fill(stepsUpper)(("g2", 1)) ++ Seq.fill(stepsUpper)(("g1", 1)) ++
        Seq.fill(steps)(("g", beamWidth))
    val stepCtes = phaseSteps.zipWithIndex.map { case ((gn, w), idx) =>
      stepCte(idx + 1, gn, w)
    }
    val nSteps = phaseSteps.length
    s"""WITH ${knnGraphCtesSql(deg, layerBits.map(f => f(0)))},
        hl AS MATERIALIZED (SELECT vec_id, embedding, $hnswLevelSql AS lvl
              FROM embeddings),
        n1 AS MATERIALIZED (SELECT vec_id, embedding FROM hl WHERE lvl >= 1),
        n2 AS MATERIALIZED (SELECT vec_id, embedding FROM hl WHERE lvl >= 2),
        ${layerGraphCtesSql("1", "n1", deg, layerBits.map(f => f(1)))},
        ${layerGraphCtesSql("2", "n2", deg, layerBits.map(f => f(2)))},
        q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
              WHERE vec_id < $nQueries),
        maxl AS (SELECT max(lvl) AS ml FROM hl),
        v0 AS MATERIALIZED (SELECT q.qid, hl.vec_id AS node,
                      ${cosineSql("q_emb", "hl.embedding")} AS score
               FROM q JOIN hl ON hl.vec_id <> q.qid CROSS JOIN maxl
               WHERE hl.lvl = maxl.ml
                 AND ${cosineSql("q_emb", "hl.embedding")} IS NOT NULL),
        ${stepCtes.mkString(", ")}
        SELECT qid, rn, node, score FROM (
          SELECT qid, node, score,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, node) AS rn
          FROM v$nSteps) WHERE rn <= $k ORDER BY qid, rn"""
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * DIVERSIFIED rerank — the retrieval-side dedup: from each query's
    * top-`poolSize` exact-cosine pool, greedily select `kSel` results
    * maximizing `0.5·rel(d) − 0.5·max_{s∈selected} sim(d, s)` (λ = 1/2;
    * both halvings are exact powers of two, so engine and oracle
    * doubles are bit-identical with zero fp slack). Pick 1 is pure
    * relevance (maxsim term empty = 0); every later pick pays for
    * redundancy against what's already selected — the op a RAG stack
    * runs between retrieval and the context window so near-duplicate
    * passages don't crowd out coverage.
    *
    * Shape: the pool build is [[topK]]'s broadcast-join + window
    * (poolSize per query), checkpointed once; each of the kSel−1
    * selection rounds is a qid-keyed anti-join + pairwise-cosine
    * aggregate over O(poolSize · selected) rows per query — never over
    * the corpus. At 100 TB the corpus appears ONLY in the pool build;
    * selection cost is O(nQueries · poolSize · kSel²) cosines,
    * independent of corpus size. Ties break on vec_id everywhere. */
  def mmrRerank(spark: SparkSession, dir: String, kSel: Int = 5,
                poolSize: Int = 20, nQueries: Int = 8,
                poolCap: Int = DriverCap.MmrDriverPoolCap): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val queries = broadcast(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb")))
    val wp = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("vec_id"))
    val pool = corpus.join(queries, col("vec_id") =!= col("qid"))
      .withColumn("rel", cosine(col("q_emb"), col("embedding")))
      .filter(col("rel").isNotNull) // NULL-score contract: see topK
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= poolSize)
      .select(col("qid"), col("vec_id"), col("embedding"), col("rel"))
    // r12: the greedy selection runs on the DRIVER over the collected
    // pool — bounded O(nQueries · poolSize) control state (the same
    // class as the walk-beam collects), NOT corpus-sized: the expensive
    // corpus-wide relevance scan above stays distributed, and only the
    // top-`poolSize` survivors per query cross to the driver. The old
    // in-plan loop paid ~2 Spark jobs per selection round (anti-join +
    // union + eager checkpoint); selection over ≤ poolSize candidates
    // per query is pure arithmetic. The pairwise score reproduces
    // graft.plans.CosineSimilarity's left-to-right double fold exactly
    // (same ops, same order — bit-identical, see CosineSimilarity's
    // semantics note), so the result is the oracle's bit-for-bit.
    // The pool is nQueries·poolSize rows by construction; a caller
    // raising nQueries past the cap falls back to the in-plan loop.
    val poolProbe = DriverCap.collect(pool, poolCap)
    if (poolProbe.isEmpty)
      return mmrRerankInPlan(pool.localCheckpoint(true), kSel)
    val poolRows = poolProbe.get
    def cosD(a: Seq[Float], b: Seq[Float]): Option[Double] = {
      if (a.length != b.length) return None
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val xi = a(i).toDouble; val yi = b(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      if (na == 0.0 || nb == 0.0) None
      else Some(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    case class P(vecId: Long, emb: Seq[Float], rel: Double)
    val byQ = poolRows.groupBy(_.getLong(0)).map { case (qid, rows) =>
      qid -> rows.map(r =>
        P(r.getLong(1), r.getSeq[Float](2), r.getDouble(3))).toSeq
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Option[Double])]
    for ((qid, cands) <- byQ) {
      val selected = scala.collection.mutable.ArrayBuffer.empty[P]
      for (k <- 1 to kSel) {
        // mmr = rel/2 - maxsim/2 (k = 1: no selected yet, mmr = rel/2);
        // argmax by (mmr DESC NULLS LAST, vec_id ASC) — the w1 window's
        // total order
        val scored = cands.filter(c => !selected.exists(_.vecId == c.vecId))
          .map { c =>
            val mmr: Option[Double] =
              if (selected.isEmpty) Some(c.rel * 0.5)
              else {
                val sims = selected.flatMap(s => cosD(c.emb, s.emb))
                if (sims.isEmpty) None
                else Some(c.rel * 0.5 - sims.max * 0.5)
              }
            (c, mmr)
          }
        val ordered = scored.sortBy { case (c, mmr) =>
          (mmr.isEmpty, mmr.map(-_).getOrElse(0.0), c.vecId)
        }
        ordered.headOption.foreach { case (c, mmr) =>
          selected += c
          out += ((qid, c.vecId, k, mmr)) // None -> NULL, as max(sim) would
        }
      }
    }
    import spark.implicits._
    out.toSeq.toDF("qid", "vec_id", "pos", "mmr")
      .orderBy(col("qid"), col("pos"))
  }

  /** The pre-r12 in-plan greedy selection — [[mmrRerank]]'s above-cap
    * fallback (one anti-join + pairwise-max aggregate + argmax window
    * per selection round over the checkpointed pool). Identical output:
    * same λ=1/2 arithmetic, same (mmr DESC NULLS LAST, vec_id) argmax
    * — pinned by R13WalkDriverSpec's over-cap equivalence test. */
  private[graft] def mmrRerankInPlan(pool: DataFrame, kSel: Int): DataFrame = {
    val w1 = Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("vec_id"))
    var selected = pool.withColumn("mmr", col("rel") * 0.5)
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("qid"), col("vec_id"), lit(1).as("pos"), col("mmr"))
    for (k <- 2 to kSel) {
      val selEmb = selected.select(col("qid").as("j_qid"), col("vec_id").as("j_vid"))
        .join(pool.select(col("qid").as("p_qid"), col("vec_id").as("p_vid"),
          col("embedding").as("s_emb")),
          col("j_qid") === col("p_qid") && col("j_vid") === col("p_vid"))
        .select(col("j_qid"), col("s_emb"))
      val cand = pool.join(
        selected.select(col("qid").as("x_qid"), col("vec_id").as("x_vid")),
        col("qid") === col("x_qid") && col("vec_id") === col("x_vid"),
        "left_anti")
      val next = cand.join(selEmb, col("qid") === col("j_qid"))
        .withColumn("sim", cosine(col("embedding"), col("s_emb")))
        .groupBy(col("qid"), col("vec_id"))
        .agg(max(col("sim")).as("maxsim"), first(col("rel")).as("rel"))
        .withColumn("mmr", col("rel") * 0.5 - col("maxsim") * 0.5)
        .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), lit(k).as("pos"), col("mmr"))
      selected = selected.union(next).localCheckpoint(true)
    }
    selected.orderBy(col("qid"), col("pos"))
  }

  /** Oracle twin of [[mmrRerank]]: the greedy selection UNROLLED into
    * kSel chained CTEs (no recursion needed — the loop bound is a
    * compile-time constant), each doing the identical anti-join +
    * max-pairwise-sim + (mmr DESC, vec_id) argmax. */
  def mmrRerankSql(kSel: Int = 5, poolSize: Int = 20, nQueries: Int = 8): String = {
    val base =
      s"""q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
               WHERE vec_id < $nQueries),
          pool AS MATERIALIZED (SELECT qid, vec_id, embedding, rel FROM (
                    SELECT qid, c.vec_id, c.embedding,
                           ${cosineSql("q_emb", "c.embedding")} AS rel,
                           row_number() OVER (PARTITION BY qid
                             ORDER BY ${cosineSql("q_emb", "c.embedding")} DESC,
                                      c.vec_id) AS prn
                    FROM q CROSS JOIN embeddings c WHERE c.vec_id <> qid
                      AND ${cosineSql("q_emb", "c.embedding")} IS NOT NULL)
                   WHERE prn <= $poolSize),
          s1 AS (SELECT qid, vec_id, 1 AS pos, mmr FROM (
                  SELECT qid, vec_id, rel * 0.5 AS mmr,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY rel * 0.5 DESC, vec_id) AS rn
                  FROM pool) WHERE rn = 1)"""
    val steps = (2 to kSel).map { k =>
      val prev = (1 until k).map(i => s"SELECT qid, vec_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""s$k AS (SELECT qid, vec_id, $k AS pos, mmr FROM (
            SELECT m.qid, m.vec_id, m.rel * 0.5 - m.maxsim * 0.5 AS mmr,
                   row_number() OVER (PARTITION BY m.qid
                     ORDER BY m.rel * 0.5 - m.maxsim * 0.5 DESC, m.vec_id) AS rn
            FROM (SELECT p.qid, p.vec_id, any_value(p.rel) AS rel,
                         max(${cosineSql("p.embedding", "ps.embedding")}) AS maxsim
                  FROM pool p
                  JOIN ($prev) s ON s.qid = p.qid
                  JOIN pool ps ON ps.qid = s.qid AND ps.vec_id = s.vec_id
                  WHERE NOT EXISTS (SELECT 1 FROM ($prev) x
                                    WHERE x.qid = p.qid AND x.vec_id = p.vec_id)
                  GROUP BY p.qid, p.vec_id) m) WHERE rn = 1)"""
    }
    val union = (1 to kSel).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""WITH $base, ${steps.mkString(", ")}
        SELECT qid, vec_id, pos, mmr FROM ($union) ORDER BY qid, pos"""
  }

  /** Oracle twin of [[graphGreedySearch]]: the same graph CTEs, the
    * best-move function precomputed per (query, node), and the walk as
    * a recursive CTE with the identical strict-improvement stop and
    * step cap. The oracle may afford the full O(nQueries·n) move table;
    * the engine's frontier walk computes moves only for VISITED nodes —
    * same deterministic move function, so identical paths. */
  def graphGreedySearchSql(deg: Int = 8, nQueries: Int = 10,
                           nEntries: Int = 8, maxSteps: Int = 16): String =
    s"""WITH RECURSIVE ${knnGraphCtesSql(deg)},
        q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
              WHERE vec_id < $nQueries),
        ent AS (SELECT CAST($nQueries +
                  (i * ((SELECT count(*) FROM embeddings) - $nQueries))
                  // $nEntries AS BIGINT) AS entry
                FROM unnest(generate_series(0, ${nEntries - 1})) AS t(i)),
        mv AS MATERIALIZED (SELECT qid, node, dst, score FROM (
                SELECT q.qid, g.src AS node, g.dst,
                       ${cosineSql("q_emb", "e.embedding")} AS score,
                       row_number() OVER (PARTITION BY q.qid, g.src
                         ORDER BY ${cosineSql("q_emb", "e.embedding")} DESC,
                                  g.dst) AS rn
                FROM q CROSS JOIN g JOIN embeddings e ON e.vec_id = g.dst
                WHERE g.dst <> q.qid
                  AND ${cosineSql("q_emb", "e.embedding")} IS NOT NULL)
               WHERE rn = 1),
        walk AS (
          SELECT q.qid, ent.entry, e.vec_id AS node,
                 ${cosineSql("q_emb", "e.embedding")} AS score, 0 AS step
          FROM q CROSS JOIN ent JOIN embeddings e ON e.vec_id = ent.entry
          WHERE ent.entry <> q.qid
            AND ${cosineSql("q_emb", "e.embedding")} IS NOT NULL
          UNION ALL
          SELECT w.qid, w.entry, m.dst AS node, m.score, w.step + 1
          FROM walk w JOIN mv m ON m.qid = w.qid AND m.node = w.node
          WHERE m.score > w.score AND w.step < $maxSteps),
        term AS (SELECT qid, entry, node, score, step FROM (
                  SELECT *, row_number() OVER (PARTITION BY qid, entry
                                               ORDER BY step DESC) AS rn
                  FROM walk) WHERE rn = 1)
        SELECT qid, node, score, step AS steps FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, node, step) AS rn
          FROM term) WHERE rn = 1 ORDER BY qid"""

  // ---------------------------------------------------------------------
  // Graph centrality over the k-NN graph (north star: centrality-ranked
  // data selection — PageRank over the semantic-neighbor graph surfaces
  // the documents most "central" to the corpus's content distribution,
  // the representativeness signal curation pipelines pair with the
  // quality/importance scores; the same iterate-by-join shape is how
  // Pregel-style rank runs on any shared-nothing engine)
  // ---------------------------------------------------------------------

  /** Fixed-point rank scale: ranks are BIGINTs in units of 1e-12 — every
    * damping multiply and out-degree split is integer arithmetic, so the
    * iteration replays bit-identically on any engine (the float form
    * diverges across summation orders; this one cannot). */
  private val PrScale = 1000000000000L
  private val PrTeleport = PrScale * 15 / 100

  /** The shared rank loop over a prepared edge set: `nodes` is (id, …),
    * `e` is (src, dst, outdeg) — BOTH already materialized by the
    * caller (the loop re-reads them every round). `init` is the round-0
    * rank and `restart` the per-round teleport term — both integer
    * columns built from `nodes`' columns only (uniform PrScale /
    * PrTeleport for PageRank, seed-gated for the personalized form). */
  private[graft] def pageRankLoop(nodes: DataFrame, e: DataFrame,
                                  init: Column, restart: Column,
                                  iters: Int, k: Int): DataFrame = {
    // r13 bounded driver rounds (the walk-family probe/fallback
    // pattern): ranks are integer fixed-point end to end, so the
    // driver replays the exact (pr*85) div (outdeg*100) truncations.
    // init/restart are COLUMNS over `nodes` — they evaluate inside the
    // probe's collect job, so the seed-gated personalized form needs no
    // driver re-derivation. Both inputs are already materialized by the
    // callers (pageRankPrep), so an above-cap probe wastes nothing.
    val spark = nodes.sparkSession
    val driverResult = DriverCap.collect(
      nodes.select(col("id"), init.cast(LongType), restart.cast(LongType)),
      DriverCap.NodeCap).flatMap { nRows =>
      DriverCap.collect(
        e.select(col("src"), col("dst"), col("outdeg")),
        DriverCap.EdgeCap).map { eRows =>
        WalkDriver.pageRankResultDF(spark,
          WalkDriver.pageRank(nRows, eRows, iters, k))
      }
    }
    driverResult.getOrElse(pageRankLoopDistributed(nodes, e, init, restart,
      iters, k))
  }

  /** The pre-r13 iterate-by-join rank loop — the above-cap fallback
    * and R13WalkDriverSpec's equivalence anchor. */
  private[graft] def pageRankLoopDistributed(nodes: DataFrame, e: DataFrame,
                                             init: Column, restart: Column,
                                             iters: Int, k: Int): DataFrame = {
    var r = nodes.select(col("id"), init.as("pr"))
    for (_ <- 1 to iters)
      r = pageRankStep(nodes, e, restart, r)
    rankTopK(r, k)
  }

  /** One synchronous rank round: damped contributions split by truncating
    * integer division, summed by dst (map-side combinable), teleport
    * re-added — the exact expression tree both the fixed-depth loop and
    * the convergence-driven loop iterate, so the two cannot drift. */
  private def pageRankStep(nodes: DataFrame, e: DataFrame,
                           restart: Column, r: DataFrame): DataFrame = {
    val inmass = e.join(r, e("src") === r("id"))
      .select(col("dst"), expr("(pr * 85) div (outdeg * 100)").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inmass"))
    nodes.join(inmass, nodes("id") === inmass("dst"), "left")
      .select(nodes("id"),
        (restart + coalesce(col("inmass"), lit(0L))).as("pr"))
  }

  private def rankTopK(r: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = r.orderBy(col("pr").desc, col("id")).limit(k)
    val w = Window.orderBy(col("pr").desc, col("id"))
    top.withColumn("rn", row_number().over(w).cast(IntegerType))
      .select(col("rn"), col("id"), col("pr"))
      .orderBy(col("rn"))
  }

  /** CONVERGENCE-DRIVEN rank — `iters` as a knob is a fixture constant;
    * production rank quality wants "run until the vector stops moving".
    * The stop test is the rank vector's L1 movement, EXACT on the
    * integer fixed-point representation: stop when sum(|pr - pr'|) <=
    * `tol` (tol = 0 demands the true integer fixed point — reachable,
    * since truncating damped iteration contracts differences by ~0.85 a
    * round, but only after ~log(scale)/log(1/0.85) ≈ 170 rounds at the
    * 1e-12 scale; production tolerances stop 4-6x earlier, which is why
    * the knob exists). Each round pays ONE driver-synchronized action —
    * the movement aggregate — which doubles as the materializer of that
    * round's lazily localCheckpoint'd rank frame, so lineage stays one
    * round deep no matter how many rounds run (a 50-round chain would
    * otherwise nest 100 joins into one Catalyst plan). Returns the
    * top-k plus the rounds run. */
  private[graft] def pageRankConverged(nodes: DataFrame, e: DataFrame,
                                       init: Column, restart: Column,
                                       maxIters: Int = 50,
                                       k: Int = 20,
                                       tol: Long = 0L): (DataFrame, Int) = {
    var r = nodes.select(col("id"), init.as("pr"))
      .localCheckpoint(eager = false)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val next = pageRankStep(nodes, e, restart, r)
        .localCheckpoint(eager = false)
      // the round's ONE action: exact L1 movement of the integer rank
      // vector (sums of longs — order-free, no fp drift)
      val delta = next
        .join(r.select(col("id").as("pid"), col("pr").as("ppr")),
          col("id") === col("pid"))
        .agg(sum(abs(col("pr") - col("ppr")))).head().getLong(0)
      rounds += 1
      converged = delta <= tol
      r = next
    }
    (rankTopK(r, k), rounds)
  }

  /** (nodes, edges-with-outdeg) prepared and MATERIALIZED from an edge
    * frame — shared by the batch build and the streamed-store serve. */
  private[graft] def pageRankPrep(emb: DataFrame,
                                  edges: DataFrame): (DataFrame, DataFrame) = {
    val od = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = edges.join(od, "src").localCheckpoint(true)
    val nodes = emb.select(col("vec_id").as("id")).localCheckpoint(true)
    (nodes, e)
  }

  /** Uniform-teleport rank over an arbitrary prepared edge frame — the
    * entry the streamed-store serve shares with the batch build. */
  private[graft] def pageRankFromEdges(emb: DataFrame, edges: DataFrame,
                                       iters: Int, k: Int): DataFrame = {
    val (nodes, e) = pageRankPrep(emb, edges)
    pageRankLoop(nodes, e, lit(PrScale), lit(PrTeleport), iters, k)
  }

  /** PAGERANK over the [[knnGraph]] (damping 0.85, `iters` synchronous
    * rounds from a uniform start, top-k by final rank). Contributions
    * split a node's damped rank evenly across its out-edges with
    * truncating integer division — mass lost to truncation (and to
    * dangling nodes, which the bucketed build can produce when a node's
    * probe ring is empty) is simply not redistributed, identically on
    * both engines.
    *
    * Scale shape: the graph builds ONCE (candidate-then-verify, one
    * bucket-keyed shuffle) and is materialized before the loop —
    * localCheckpoint here, a parquet checkpoint on a cluster — so each
    * of the `iters` rounds is exactly one hash join (edges × ranks on
    * src) plus one map-side-combinable sum by dst: 2 shuffles per round
    * over (src, dst, outdeg, rank) longs, never the embeddings. The
    * final top-k is TakeOrderedAndProject. Rank state is a DataFrame
    * keyed by node id end to end — nothing rank-shaped ever collects to
    * the driver. */
  def pageRank(spark: SparkSession, dir: String, deg: Int = 8,
               iters: Int = 4, k: Int = 20,
               bitsOpt: Option[Int] = None): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val bits = bitsOpt.getOrElse(adaptiveBits(emb.count()))
    pageRankFromEdges(emb,
      knnGraphFrom(emb, deg, bits).select(col("src"), col("dst")), iters, k)
  }

  /** PERSONALIZED PAGERANK: restart mass lands ONLY on a seed set (here
    * the label-`seedLabel` vectors — "rank the corpus by closeness to
    * this target domain", the graph-walk sibling of DSIR's importance
    * weights: DSIR scores documents by target-vs-corpus n-gram ratios,
    * PPR by random-walk proximity to target members in embedding space).
    * Seeds start with the full scale, non-seeds at zero, and each
    * round's restart term re-gates on seed membership — the standard
    * personalized teleport vector, in the same integer fixed-point. */
  def personalizedPageRank(spark: SparkSession, dir: String, deg: Int = 8,
                           iters: Int = 4, k: Int = 20,
                           seedLabel: Int = 3): DataFrame = {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val bits = adaptiveBits(emb.count())
    val edges = knnGraphFrom(emb, deg, bits).select(col("src"), col("dst"))
    val od = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = edges.join(od, "src").localCheckpoint(true)
    val nodes = emb.select(col("vec_id").as("id"), col("label"))
      .localCheckpoint(true)
    def gate(full: Long) =
      when(col("label") === seedLabel, lit(full)).otherwise(lit(0L))
    pageRankLoop(nodes, e, gate(PrScale), gate(PrTeleport), iters, k)
  }

  /** Oracle twin of [[pageRank]] / [[personalizedPageRank]]: the same
    * graph CTEs, the rank loop unrolled — one (join, sum, teleport
    * re-add) CTE per round — and the same truncating integer splits.
    * `seedLabelOpt` gates init and restart on seed membership (the
    * personalized form); `bitsOpt = Some(b)` pins the bucket width (the
    * streamed store's contract). */
  def pageRankSql(deg: Int = 8, iters: Int = 4, k: Int = 20,
                  bitsOpt: Option[Int] = None,
                  seedLabelOpt: Option[Int] = None): String = {
    def gated(full: Long): String = seedLabelOpt match {
      case Some(l) => s"CASE WHEN n.label = $l THEN $full ELSE 0 END"
      case None => full.toString
    }
    val rounds = (1 to iters).map { t =>
      s"""r$t AS (SELECT n.id,
              CAST(${gated(PrTeleport)} + coalesce(m.inmass, 0) AS BIGINT) AS pr
            FROM n LEFT JOIN (
              SELECT e.dst, sum((r.pr * 85) // (e.outdeg * 100)) AS inmass
              FROM e JOIN r${t - 1} r ON e.src = r.id
              GROUP BY e.dst) m ON n.id = m.dst)"""
    }.mkString(",\n        ")
    s"""WITH ${knnGraphCtesSql(deg, bitsOpt)},
        od AS (SELECT src, count(*) AS outdeg FROM g GROUP BY src),
        e AS (SELECT g.src, g.dst, od.outdeg FROM g JOIN od USING (src)),
        n AS (SELECT vec_id AS id, label FROM embeddings),
        r0 AS (SELECT id, CAST(${gated(PrScale)} AS BIGINT) AS pr FROM n),
        $rounds
        SELECT CAST(row_number() OVER (ORDER BY pr DESC, id) AS INT) AS rn,
               id, pr
        FROM r$iters ORDER BY pr DESC, id LIMIT $k"""
  }
}
