package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.mutable
import graft.functions.VectorFunctions.cosine

/** A MULTI-PHASE BEAM DESCENT, as data — the one walk behind every
  * graph-family top-k serve (flat beam search, HNSW, their store- and
  * stream-served twins). A descent is a corpus, the queries (its ids
  * below `nQueries`), an entry rule and phases of (edges, width, steps):
  * flat beam search is one phase; HNSW is width-1 routing over each
  * upper layer, then the base-layer beam.
  *
  * Semantics (both executors): visited starts as queries × entries
  * (node ≠ qid, non-null cosine); each superstep expands the per-query
  * top-`width` visited nodes by (score DESC, node ASC) over the phase's
  * edges (dst ≠ qid, non-null cosine); visited only grows, so extra
  * steps are no-ops and the oracle unrolls the same fixed depth. The
  * answer is the per-query top-k of everything visited, as
  * (qid, rn, node, score) ordered by (qid, rn).
  *
  * [[run]] takes the bounded driver walk when the corpus and the edges
  * fit the [[DriverCap]] caps and otherwise [[distributed]], the one
  * superstep loop. */
private[graft] object BeamDescent {

  /** Where a descent enters: `nEntries` ids spread evenly over the
    * non-query id range of the corpus count, or explicit entry nodes
    * (vec_id, embedding) — HNSW's top populated layer. */
  sealed trait Entry
  final case class Spread(nEntries: Int) extends Entry
  final case class Nodes(nodes: DataFrame) extends Entry

  /** A phase's edges. A [[Graph]] is an in-plan k-NN graph (src, dst).
    * A [[Store]] is a materialized layer (src, dst, gbucket, plus
    * dst_emb when the store carries vectors), read per superstep only
    * in the frontier's `nBuckets`-wide src buckets. [[NoEdges]] is an
    * unpopulated layer: its steps are no-ops. */
  sealed trait Edges
  final case class Graph(edges: DataFrame) extends Edges
  final case class Store(edges: DataFrame,
                         nBuckets: Int = Similarity.GraphStoreBuckets) extends Edges
  case object NoEdges extends Edges

  final case class Phase(edges: Edges, width: Int, steps: Int)

  /** `corpus` holds (vec_id, embedding). */
  final case class Descent(corpus: DataFrame, nQueries: Int, entry: Entry,
                           phases: Seq[Phase], k: Int)

  /** A descent's inputs on the driver: query vectors, entry ids, the
    * corpus map and one adjacency per phase. */
  final case class Collected(queries: Array[(Long, Array[Float])],
                             entries: Array[Long],
                             emb: mutable.LongMap[Array[Float]],
                             adjs: IndexedSeq[mutable.LongMap[Array[Long]]])

  /** The evenly spread entry ids, entry_i = nQueries + i·(n − nQueries)
    * div nEntries — integer arithmetic only, so the oracle reproduces
    * the exact id set. */
  def spreadIds(n: Long, nQueries: Int, nEntries: Int): Seq[Long] =
    (0 until nEntries).map(i => nQueries + i.toLong * (n - nQueries) / nEntries)

  /** The driver walk ([[WalkDriver.beamWalk]]) when [[collect]] fits
    * every cap, else [[distributed]]. */
  def run(spark: SparkSession, d: Descent,
          nodeCap: Int = DriverCap.NodeCap): DataFrame =
    collect(d, nodeCap).map { c =>
      WalkDriver.beamResultDF(spark, WalkDriver.beamWalk(c.queries, c.entries,
        c.emb, d.phases.zip(c.adjs).map(t => (t._2, t._1.width, t._1.steps)), d.k))
    }.getOrElse(distributed(spark, d))

  /** The driver preamble: the corpus under `nodeCap`, then the (src, dst)
    * pairs of EVERY phase in one bounded collect — the single edge
    * budget, their sum ≤ `edgeCap` — then explicit entry ids under
    * `nodeCap`. None as soon as any input is over its cap. Only the
    * pairs cross: destination vectors come from the collected corpus. */
  def collect(d: Descent, nodeCap: Int = DriverCap.NodeCap,
              edgeCap: Int = DriverCap.EdgeCap): Option[Collected] =
    WalkDriver.collectEmb(d.corpus.select(col("vec_id"), col("embedding")),
        nodeCap).flatMap { case (emb, n) =>
      val pairs = d.phases.zipWithIndex.flatMap { case (p, i) =>
        def tagged(e: DataFrame) = e.select(lit(i).as("phase"), col("src"), col("dst"))
        p.edges match {
          case Graph(g) => Some(tagged(g))
          case Store(s, _) => Some(tagged(s))
          case NoEdges => None
        }
      }
      val edgeRows = pairs.reduceOption(_ union _)
        .fold(Option(Array.empty[Row]))(DriverCap.collect(_, edgeCap))
      def entries: Option[Array[Long]] = d.entry match {
        case Spread(ne) => Some(WalkDriver.spreadEntries(n, d.nQueries, ne, emb))
        case Nodes(nodes) => DriverCap.collect(nodes.select(col("vec_id")),
          nodeCap).map(_.map(_.getLong(0)))
      }
      for (rows <- edgeRows; es <- entries) yield {
        val byPhase = rows.groupBy(_.getInt(0))
        Collected(WalkDriver.queriesOf(emb, d.nQueries), es, emb,
          d.phases.indices.map(i => WalkDriver.adjOf(byPhase.getOrElse(i, Array.empty))))
      }
    }

  private val beamOrder =
    Window.partitionBy(col("qid")).orderBy(col("score").desc, col("node"))

  /** Collect the superstep's beam ONCE — O(nQueries·width) (qid, node)
    * rows, the bounded driver-control-state class. This is the single
    * action a distributed superstep pays: it also materializes the
    * previous round's lazily checkpointed visited set, so the per-step
    * job count is one (not an eager beam checkpoint + a bucket-set
    * collect + an eager visited checkpoint), and a store's bucket set
    * is derived driver-side from the rows. */
  private def collectBeam(visited: DataFrame, width: Int): Array[(Long, Long)] =
    visited.withColumn("rn", row_number().over(beamOrder))
      .filter(col("rn") <= width).select(col("qid"), col("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** The one distributed superstep loop — the above-cap path at any
    * scale. Each superstep collects its beam ([[collectBeam]]) and feeds
    * it back as a broadcast LOCAL relation into the edge join: no job,
    * no shuffle, no re-run of the windowed beam. A [[Store]] phase reads
    * only the partitions of the beam's src buckets (the read lists the
    * store once, at relation build); a [[Graph]] phase joins its
    * destination vectors once and checkpoints. */
  def distributed(spark: SparkSession, d: Descent): DataFrame = {
    import spark.implicits._
    val corpus = d.corpus
    val queries = corpus.filter(col("vec_id") < d.nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      .localCheckpoint(true)
    val entries = (d.entry match {
      case Spread(ne) => corpus.filter(
        col("vec_id").isin(spreadIds(corpus.count(), d.nQueries, ne): _*))
      case Nodes(nodes) => nodes
    }).select(col("vec_id").as("node"), col("embedding").as("e_emb"))
    var visited = queries.join(broadcast(entries), col("node") =!= col("qid"))
      .select(col("qid"), col("node"),
        cosine(col("q_emb"), col("e_emb")).as("score"))
      .filter(col("score").isNotNull)
      .localCheckpoint(eager = false) // the first beam collect materializes it
    val dstEmb = corpus.select(col("vec_id").as("dst"), col("embedding").as("dst_emb"))
    // a store without vectors (the stream stores) reads them off ONE
    // corpus copy, taken only if such a store is walked
    lazy val storeDstEmb = dstEmb.localCheckpoint(true)
    def withDst(e: DataFrame, dsts: => DataFrame): DataFrame =
      if (e.columns.contains("dst_emb")) e.select(col("src"), col("dst"), col("dst_emb"))
      else e.select(col("src"), col("dst")).join(dsts, "dst")
    // each phase's superstep edge read, given the beam's nodes
    val reads: Seq[(Phase, Array[Long] => DataFrame)] = d.phases.flatMap { p =>
      p.edges match {
        case Graph(g) =>
          val moves = withDst(g, dstEmb).localCheckpoint(true)
          Some(p -> ((_: Array[Long]) => moves))
        case Store(s, nb) =>
          // node ids are non-negative, so % == pmod here
          Some(p -> ((nodes: Array[Long]) => withDst(s.where(col("gbucket")
            .isin(nodes.map(n => (n % nb).toInt).distinct.sorted: _*)), storeDstEmb)))
        case NoEdges => None
      }
    }
    for ((p, read) <- reads; _ <- 1 to p.steps) {
      val beam = collectBeam(visited, p.width)
      val expanded = broadcast(beam.toSeq.toDF("qid", "node"))
        .join(read(beam.map(_._2)), col("node") === col("src"))
        .filter(col("dst") =!= col("qid"))
        .join(queries, "qid")
        .select(col("qid"), col("dst").as("node"),
          cosine(col("q_emb"), col("dst_emb")).as("score"))
        .filter(col("score").isNotNull)
      // same (qid, node) always rescores to the identical double, so a
      // plain distinct dedupes revisits
      visited = visited.union(expanded).distinct()
        .localCheckpoint(eager = false) // the next collect materializes it
    }
    visited.withColumn("rn", row_number().over(beamOrder)).filter(col("rn") <= d.k)
      .select(col("qid"), col("rn"), col("node"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }
}
