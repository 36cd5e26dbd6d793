package perfbench

/** Plain-Scala answers to the search probes, independent of Spark and
  * of the program: the documented semantics of each corpus route,
  * evaluated over the generated documents in memory.
  *
  *  - tokens are the text split on single spaces; analyzed tokens are
  *    lowercased, stripped of leading and trailing non-alphanumerics,
  *    and dropped when empty;
  *  - N is the number of documents, df a term's document frequency;
  *  - conjunctive routes score Σ tf · ⌊ln((N+1)/(df+1)) · 10⁶⌋ over
  *    documents holding every term;
  *  - BM25 routes (k1 = 6/5, b = 3/4) add, per matched term,
  *    (44 · idf · tf · avgdl) div (20 · avgdl · tf + 6 · avgdl + 18 · dl)
  *    with idf = ⌊ln((N+1)/(df+1)) · 10³⌋ and avgdl = Σdl div N;
  *  - ranked routes keep the top k by score, then doc id; phrase routes
  *    count the positions where the terms occur consecutively.
  *
  * Results are rendered like [[Workloads.canonical]]: columns in name
  * order, rows sorted.
  */
final class SearchReference(docs: Seq[(Long, Seq[String])]) {
  private def analyze(t: String): String = t.toLowerCase.replaceAll("^[^a-z0-9]+|[^a-z0-9]+$", "")
  private val raw = docs
  private val analyzed = docs.map { case (id, toks) => (id, toks.map(analyze).filter(_.nonEmpty)) }
  private val n = docs.size.toLong

  private def idf(corpus: Seq[(Long, Seq[String])], t: String, scale: Long): Long = {
    val df = corpus.count(_._2.contains(t))
    math.floor(StrictMath.log((n + 1).toDouble / (df + 1)) * scale).toLong
  }

  private def ranked(scores: Seq[(Long, Long)], k: Int): Seq[String] =
    scores.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
      .map { case ((id, s), i) => s"$id|${i + 1}|$s" } // doc_id, rank, score
      .sorted

  private def conjunctive(corpus: Seq[(Long, Seq[String])], terms: Seq[String], k: Int): Seq[String] = {
    val idfs = terms.map(t => t -> idf(corpus, t, 1000000L)).toMap
    val scores = corpus.collect {
      case (id, toks) if terms.forall(toks.contains) => id -> terms.map(t => toks.count(_ == t) * idfs(t)).sum
    }
    ranked(scores, k)
  }

  private def bm25(corpus: Seq[(Long, Seq[String])], terms: Seq[String], k: Int): Seq[String] = {
    val avgdl = corpus.map(_._2.size.toLong).sum / n
    val idfs = terms.map(t => t -> idf(corpus, t, 1000L)).toMap
    val scores = corpus.collect {
      case (id, toks) if terms.exists(toks.contains) =>
        val dl = toks.size.toLong
        id -> terms.map { t =>
          val tf = toks.count(_ == t).toLong
          if (tf == 0) 0L else (44 * idfs(t) * tf * avgdl) / (20 * avgdl * tf + 6 * avgdl + 18 * dl)
        }.sum
    }
    ranked(scores, k)
  }

  private def phrase(corpus: Seq[(Long, Seq[String])], terms: Seq[String]): Seq[String] =
    corpus.flatMap { case (id, toks) =>
      val hits = toks.indices.count(p => terms.indices.forall(i => p + i < toks.size && toks(p + i) == terms(i)))
      if (hits > 0) Some(s"$id|$hits") else None // doc_id, n_occurrences
    }.sorted

  def answer(p: Inputs.Probe, k: Int): Seq[String] = {
    lazy val a = p.terms.map(analyze).filter(_.nonEmpty).distinct
    p.route match {
      case "bm25" => bm25(raw, p.terms, k)
      case "abm25" => bm25(analyzed, a, k)
      case "conj" => conjunctive(raw, p.terms, k)
      case "aconj" => conjunctive(analyzed, a, k)
      case "phrase" => phrase(raw, p.terms)
      case "aphrase" => phrase(analyzed, p.terms.map(analyze))
    }
  }
}
