package perfbench

import org.apache.spark.sql.Row

/** The outcome of checking one call's output. */
final case class Checked(problems: Seq[String], recall: Option[Double] = None) {
  def ok: Boolean = problems.isEmpty
}

/** Driver-side reference answers and output checks. */
object Checks {

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k ids of `q` over `corpus` by a similarity (higher =
    * closer), skipping `self`. Brute force, the reference answer. */
  def topK(q: Array[Float], self: Long, corpus: Array[(Long, Array[Float])],
      k: Int, sim: (Array[Float], Array[Float]) => Double): Set[Long] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), Double](_._1).reverse)
    corpus.foreach { case (id, v) =>
      if (id != self) {
        val s = sim(q, v)
        if (heap.size < k) heap.enqueue((s, id))
        else if (s > heap.head._1) { heap.dequeue(); heap.enqueue((s, id)) }
      }
    }
    heap.map(_._2).toSet
  }

  def l2Truth(ids: Seq[Long], corpus: Array[(Long, Array[Float])], k: Int): Map[Long, Set[Long]] = {
    val byId = corpus.toMap
    ids.map(i => i -> topK(byId(i), i, corpus, k, (a, b) => -l2(a, b))).toMap
  }

  def cosineTruth(queries: Seq[(Long, Array[Float])], corpus: Array[(Long, Array[Float])],
      k: Int): Map[Long, Set[Long]] =
    queries.map { case (i, v) => i -> topK(v, i, corpus, k, cosine) }.toMap

  /** A K-NN graph (rows of `id`, `neighbors`): every corpus id once;
    * each list non-empty, at most `k` distinct entries, no self-loop,
    * members of the corpus, similarity non-increasing; on the sampled
    * ids the stored similarity is 1/(1+L2) and recall against the
    * exact top-k is at least `minRecall`. */
  def graph(rows: Array[Row], corpus: Array[(Long, Array[Float])],
      truth: Map[Long, Set[Long]], k: Int, minRecall: Double): Checked = {
    val byId = corpus.toMap
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (problems.size < 5) problems += msg
    val ids = rows.map(_.getLong(0))
    if (ids.length != corpus.length || ids.toSet != byId.keySet)
      fail(s"graph has ${ids.length} rows (${ids.toSet.size} distinct) for ${corpus.length} points")
    var hits = 0
    rows.foreach { r =>
      val id = r.getLong(0)
      val ns = if (r.isNullAt(1)) Seq.empty[Row] else r.getSeq[Row](1)
      val nIds = ns.map(_.getLong(0))
      val sims = ns.map(_.getDouble(1))
      if (ns.isEmpty || ns.size > k) fail(s"id $id has ${ns.size} neighbors (k = $k)")
      if (nIds.contains(id)) fail(s"id $id lists itself")
      if (nIds.distinct.size != nIds.size) fail(s"id $id repeats a neighbor")
      if (!nIds.forall(byId.contains)) fail(s"id $id lists a non-member")
      if (sims.zip(sims.drop(1)).exists { case (a, b) => b > a })
        fail(s"id $id similarities not descending")
      truth.get(id).foreach { t =>
        hits += nIds.count(t)
        ns.foreach { n =>
          byId.get(n.getLong(0)).foreach { f =>
            val want = 1.0 / (1.0 + l2(byId(id), f))
            if (math.abs(n.getDouble(1) - want) > 1e-6 * math.max(1.0, want))
              fail(s"id $id -> ${n.getLong(0)} similarity ${n.getDouble(1)}, expected $want")
          }
        }
      }
    }
    withRecall(problems.toSeq, hits.toDouble / (truth.size * k), minRecall)
  }

  private def withRecall(problems: Seq[String], recall: Double, min: Double): Checked =
    Checked(if (recall >= min) problems else problems :+ s"recall $recall below $min", Some(recall))

  /** A serve batch (rows of `query_id`, `rank`, `nbr_id`, `score`):
    * every query gets exactly `k` distinct corpus members ranked 1..k
    * with non-increasing score; recall against the exact cosine top-k
    * is at least `minRecall`. */
  def serve(rows: Array[Row], queries: Seq[Long], corpusIds: Set[Long],
      truth: Map[Long, Set[Long]], k: Int, minRecall: Double): Checked = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (problems.size < 5) problems += msg
    val byQuery = rows.groupBy(_.getLong(0))
    if (byQuery.keySet != queries.toSet)
      fail(s"results for ${byQuery.size} queries, expected ${queries.size}")
    var hits = 0
    queries.foreach { q =>
      val rs = byQuery.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(1))
      val ids = rs.map(_.getLong(2))
      val scores = rs.map(_.getDouble(3))
      if (rs.length != k) fail(s"query $q got ${rs.length} results, expected $k")
      if (!rs.map(_.getInt(1)).sameElements(1 to rs.length)) fail(s"query $q ranks not 1..n")
      if (ids.distinct.length != ids.length) fail(s"query $q repeats a result")
      if (!ids.forall(corpusIds)) fail(s"query $q returned a non-member")
      if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a })
        fail(s"query $q scores not descending")
      hits += ids.count(truth(q))
    }
    withRecall(problems.toSeq, hits.toDouble / (queries.size * k), minRecall)
  }
}
