package perfbench

/** Plain-Scala models of what the two `index_churn` indexes must
  * answer, sharing no code with the engine. Their arithmetic follows
  * the scoring the engine documents, in the same IEEE expression
  * order, so answers compare exactly.
  */

/** BM25 over a live set of documents: the scoring of
  * `Postings.bm25TopK` and of its DuckDB oracle (`bm25OracleSql`),
  * computed from the raw texts. N and the mean document length are
  * taken over the live documents, df over the live documents holding
  * the term, and a document's score folds its present terms' weights
  * from 0.0 in query-term order.
  */
final class Bm25Model(texts: Map[Long, String]) {
  private val tfs: Map[Long, Map[String, Int]] =
    texts.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).groupBy(identity).map { case (w, ws) => w -> ws.length }
    }
  private val dls: Map[Long, Long] = tfs.map { case (id, tf) => id -> tf.values.sum.toLong }

  /** (doc_id, score) of the top `k` live documents matching at least
    * one term, by score descending then doc_id, optionally only those
    * after the cursor `(score, doc_id)`.
    */
  def topK(live: collection.Set[Long], terms: Seq[String], k: Int, after: Option[(Double, Long)]): Seq[(Long, Double)] = {
    val ids   = live.toSeq.filter(tfs.contains)
    val nDocs = ids.size.toLong
    val avgdl = ids.map(dls).sum.toDouble / nDocs.toDouble
    val qs    = terms.distinct
    val df    = qs.map(t => t -> ids.count(id => tfs(id).contains(t)).toLong).toMap
    val scored = ids.flatMap { id =>
      val tf      = tfs(id)
      val present = qs.filter(tf.contains)
      if (present.isEmpty) None
      else {
        val dl = dls(id).toDouble
        Some(id -> present.foldLeft(0.0) { (acc, t) =>
          val idf = ((nDocs - df(t)) + 0.5) / (df(t) + 0.5)
          val f   = tf(t).toDouble
          acc + idf * ((f * 2.2) / (f + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
        })
      }
    }
    val kept = after match {
      case Some((s, d)) => scored.filter { case (id, v) => v < s || (v == s && id > d) }
      case None         => scored
    }
    kept.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
  }
}

/** Single-probe IVF over a live set of vectors under a frozen centroid
  * model: `Knn.ivfTopK` with `probes = 1`. A vector's cell is the
  * centroid of highest cosine (ties to the lower centroid id); a query
  * ranks the live vectors of its own cell by cosine descending, then
  * id.
  */
final class IvfModel(vectors: Map[Long, Array[Float]], centroidIds: Seq[Long]) {
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i   = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private def norm(v: Array[Double]) = math.sqrt(dot(v, v))
  private val centroids = centroidIds.sorted.map { c =>
    val v = vectors(c).map(_.toDouble)
    (c, v, norm(v))
  }
  private def cell(v: Array[Double], n: Double): Long =
    centroids.map { case (c, cv, cn) => (dot(v, cv) / (n * cn), c) }
      .reduce((a, b) => if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)._2
  private val stored: Map[Long, (Array[Double], Double, Long)] = vectors.map { case (id, f) =>
    val v = f.map(_.toDouble)
    val n = norm(v)
    id -> ((v, n, cell(v, n)))
  }

  /** (cell, [(n_id, rank, cos)]) of one query vector. */
  def topK(live: collection.Set[Long], query: Array[Float], k: Int): (Long, Seq[(Long, Long, Double)]) = {
    val q  = query.map(_.toDouble)
    val qn = norm(q)
    val c  = cell(q, qn)
    val ranked = live.toSeq.flatMap(id => stored.get(id).filter(_._3 == c).map { case (v, n, _) => id -> dot(q, v) / (qn * n) })
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
    (c, ranked.zipWithIndex.map { case ((id, cos), i) => (id, i + 1L, cos) })
  }
}
