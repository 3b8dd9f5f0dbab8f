package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** BOUNDED DRIVER EXECUTION of the graph-walk supersteps (r13).
  *
  * Why: the walk family's wall time is #supersteps × (driver action +
  * job-scheduling floor), not data — the r12 scaling block measured
  * 8/32-core ratios of 0.91–1.11 across all eight walk queries. The
  * per-superstep CONTROL state (beam, frontier, rank vector) was always
  * bounded and driver-resident; what stayed distributed was the graph
  * itself. When the graph ALSO fits a driver cap, the whole walk is
  * pure arithmetic over collected arrays and every superstep action
  * disappears.
  *
  * The inputs cross through [[DriverCap.collect]]: one job per input
  * ([[DriverCap.NodeCap]] for the embeddings map and HNSW's entry
  * nodes, [[DriverCap.EdgeCap]] for the edges of every phase of a
  * walk); if anything exceeds its cap the caller falls back to the
  * distributed superstep loop ([[BeamDescent.distributed]] for every
  * beam descent).
  *
  * Equivalence: scores reproduce [[graft.plans.CosineSimilarity]]'s
  * left-to-right double fold exactly (same ops, same order — IEEE
  * doubles are deterministic, so bit-identical); orderings reproduce
  * Spark SQL's double ordering (−0.0 == 0.0 via [[cmpDouble]]; cosine
  * never yields NaN). PageRank is integer fixed-point end to end —
  * the driver loop replays the exact `(pr*85) div (outdeg*100)`
  * truncations. Pinned by R13WalkDriverSpec (driver == distributed on
  * the fixture and on synthetic graphs) and by the unchanged oracle
  * rows.
  */
private[graft] object WalkDriver {

  /** Spark SQL's double total order restricted to non-NaN inputs
    * (SQLOrderingUtil.compareDoubles: −0.0 == 0.0). */
  @inline def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Bit-exact driver twin of [[graft.plans.CosineSimilarity]] (same
    * fold order). Returns NaN for SQL NULL — the expression itself can
    * never produce NaN (null on length mismatch or zero norm), so NaN
    * is a free sentinel. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    if (a.length != b.length) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (vec_id → embedding) for a (bigint, array<float>) frame under
    * `cap`, with the frame's row count. A row whose embedding is
    * SQL NULL is left out of the map: every walk reads vectors through
    * `emb.get`, so a missing id scores like the distributed loop's NULL
    * cosine (dropped). The count still includes it — the distributed
    * entry spread and adaptive bucket width are functions of
    * `emb.count()`. */
  def collectEmb(df: DataFrame,
                 cap: Int = DriverCap.NodeCap): Option[(mutable.LongMap[Array[Float]], Long)] =
    DriverCap.collect(df, cap).map { rows =>
      val m = new mutable.LongMap[Array[Float]](rows.length * 2)
      rows.foreach { r =>
        if (!r.isNullAt(1)) m.update(r.getLong(0), r.getSeq[Float](1).toArray)
      }
      (m, rows.length.toLong)
    }

  /** src → dst-array adjacency from collected (phase, src, dst) rows.
    * Expansion order is immaterial (the distributed loop unions +
    * distincts), so dsts keep collect order. */
  def adjOf(rows: Array[Row]): mutable.LongMap[Array[Long]] = {
    val buf = new mutable.LongMap[mutable.ArrayBuilder.ofLong]()
    rows.foreach { r =>
      buf.getOrElseUpdate(r.getLong(1), new mutable.ArrayBuilder.ofLong()) += r.getLong(2)
    }
    val m = new mutable.LongMap[Array[Long]](buf.size * 2)
    buf.foreach { case (k, b) => m.update(k, b.result()) }
    m
  }

  /** Driver twin of the walk entry points' query frame:
    * emb.filter(vec_id < nQueries) as (qid, q_emb), qid-sorted. */
  def queriesOf(emb: mutable.LongMap[Array[Float]],
                nQueries: Int): Array[(Long, Array[Float])] =
    emb.iterator.filter(_._1 < nQueries).toArray.sortBy(_._1)

  /** Driver twin of the evenly-spread entry set
    * ([[BeamDescent.spreadIds]]); the isin-filter semantics collapse
    * duplicates and drop ids absent from the corpus. */
  def spreadEntries(n: Long, nQueries: Int, nEntries: Int,
                    emb: mutable.LongMap[Array[Float]]): Array[Long] =
    BeamDescent.spreadIds(n, nQueries, nEntries).distinct.filter(emb.contains).toArray

  /** Per-query top-`n` visited nodes by (score DESC, node ASC) — the
    * beam window's total order. */
  private def topN(vm: mutable.LongMap[Double], n: Int): Array[Long] = {
    val arr = vm.toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[(Long, Double)] {
      def compare(x: (Long, Double), y: (Long, Double)): Int = {
        val c = cmpDouble(y._2, x._2)
        if (c != 0) c else java.lang.Long.compare(x._1, y._1)
      }
    })
    arr.iterator.take(n).map(_._1).toArray
  }

  /** The beam-search supersteps, driver-side: identical semantics to
    * the distributed loop (beam = per-qid top-`width` of visited,
    * expansion over the phase's edges with dst ≠ qid and non-null
    * score, visited grows by distinct (qid, node)). `phases` is
    * (adjacency, beam width, steps) per descent phase — one entry for
    * flat beam search, upper layers + base for HNSW. Returns the final
    * top-k rows (qid, rn, node, score) ordered (qid, rn). */
  def beamWalk(queries: Array[(Long, Array[Float])],
               entries: Array[Long],
               emb: mutable.LongMap[Array[Float]],
               phases: Seq[(mutable.LongMap[Array[Long]], Int, Int)],
               k: Int): Seq[(Long, Int, Long, Double)] = {
    val visited = queries.map { case (qid, _) =>
      qid -> new mutable.LongMap[Double]()
    }.toMap
    // v0: queries × entries, node ≠ qid, score non-null
    for ((qid, qemb) <- queries; e <- entries if e != qid) {
      emb.get(e).foreach { eemb =>
        val s = cosine(qemb, eemb)
        if (!s.isNaN) visited(qid).update(e, s)
      }
    }
    for ((adj, width, steps) <- phases; _ <- 1 to steps) {
      for ((qid, qemb) <- queries) {
        val vm = visited(qid)
        val beam = topN(vm, width) // fixed before this step's expansion
        for (node <- beam; dsts <- adj.get(node); dst <- dsts
             if dst != qid && !vm.contains(dst)) {
          // same (qid, node) always rescores identically — skipping
          // recompute is exactly the distributed union+distinct
          emb.get(dst).foreach { demb =>
            val s = cosine(qemb, demb)
            if (!s.isNaN) vm.update(dst, s)
          }
        }
      }
    }
    val out = mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    for ((qid, _) <- queries.sortBy(_._1)) {
      val vm = visited(qid)
      topN(vm, k).zipWithIndex.foreach { case (node, i) =>
        out += ((qid, i + 1, node, vm(node)))
      }
    }
    out.toSeq
  }

  def beamResultDF(spark: SparkSession,
                   rows: Seq[(Long, Int, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("qid", "rn", "node", "score")
  }

  /** The greedy-walk supersteps, driver-side: one walker per
    * (qid, entry) with the distributed loop's exact move rule — best
    * neighbor by (score DESC, dst ASC); move only on strict
    * improvement, else done. Returns per-qid winners
    * (qid, node, score, steps) by (score DESC, node ASC, steps ASC),
    * ordered by qid. */
  def greedyWalk(queries: Array[(Long, Array[Float])],
                 entries: Array[Long],
                 emb: mutable.LongMap[Array[Float]],
                 adj: mutable.LongMap[Array[Long]],
                 maxSteps: Int): Seq[(Long, Long, Double, Int)] = {
    final class W(var node: Long, var score: Double, var steps: Int,
                  var done: Boolean)
    val walkers = for {
      (qid, qemb) <- queries.toSeq
      e <- entries if e != qid
      eemb <- emb.get(e)
      s = cosine(qemb, eemb) if !s.isNaN
    } yield (qid, qemb, new W(e, s, 0, false))
    var step = 0
    var active = walkers.count(!_._3.done)
    while (step < maxSteps && active > 0) {
      for ((qid, qemb, w) <- walkers if !w.done) {
        var bestDst = 0L; var bestScore = 0.0; var found = false
        for (dsts <- adj.get(w.node); dst <- dsts if dst != qid;
             demb <- emb.get(dst)) {
          val ms = cosine(qemb, demb)
          if (!ms.isNaN) {
            val better = !found || {
              val c = cmpDouble(ms, bestScore)
              c > 0 || (c == 0 && dst < bestDst)
            }
            if (better) { bestDst = dst; bestScore = ms; found = true }
          }
        }
        if (found && cmpDouble(bestScore, w.score) > 0) {
          w.node = bestDst; w.score = bestScore; w.steps += 1
        } else w.done = true
      }
      step += 1
      active = walkers.count(!_._3.done)
    }
    walkers.groupBy(_._1).toSeq.sortBy(_._1).map { case (qid, ws) =>
      val best = ws.map(_._3).sortWith { (a, b) =>
        val c = cmpDouble(b.score, a.score)
        if (c != 0) c < 0
        else if (a.node != b.node) a.node < b.node
        else a.steps < b.steps
      }.head
      (qid, best.node, best.score, best.steps)
    }
  }

  def greedyResultDF(spark: SparkSession,
                     rows: Seq[(Long, Long, Double, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("qid", "node", "score", "steps")
  }

  /** The PageRank rounds, driver-side: the exact integer fixed-point
    * recurrence of pageRankStep — truncating long division, per-dst
    * sums, teleport re-add; only node-resident dsts accumulate. Inputs
    * are collected rows of (id, init, restart) and (src, dst, outdeg).
    * Returns top-k (rn, id, pr) by (pr DESC, id ASC). */
  def pageRank(nodes: Array[Row], edges: Array[Row], iters: Int,
               k: Int): Seq[(Int, Long, Long)] = {
    val ids = nodes.map(_.getLong(0))
    val restart = new mutable.LongMap[Long](nodes.length * 2)
    var pr = new mutable.LongMap[Long](nodes.length * 2)
    nodes.foreach { r =>
      pr.update(r.getLong(0), r.getLong(1))
      restart.update(r.getLong(0), r.getLong(2))
    }
    for (_ <- 1 to iters) {
      val inmass = new mutable.LongMap[Long](nodes.length * 2)
      edges.foreach { e =>
        val src = e.getLong(0); val dst = e.getLong(1); val od = e.getLong(2)
        pr.get(src).foreach { p =>
          inmass.update(dst, inmass.getOrElse(dst, 0L) + (p * 85) / (od * 100))
        }
      }
      val next = new mutable.LongMap[Long](nodes.length * 2)
      ids.foreach { id =>
        next.update(id, restart(id) + inmass.getOrElse(id, 0L))
      }
      pr = next
    }
    ids.map(id => (id, pr(id)))
      .sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2 else a._1 < b._1
      }
      .take(k).zipWithIndex
      .map { case ((id, p), i) => (i + 1, id, p) }.toSeq
  }

  def pageRankResultDF(spark: SparkSession,
                       rows: Seq[(Int, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("rn", "id", "pr")
  }
}
