package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.FirstRun

/** Inverted-index build and keyword search over the corpus — the
  * retrieval side of a training-data pipeline (corpus exploration,
  * targeted decontamination probes, "which documents mention X"
  * audits; the reference serves these through its catalog's
  * text-search pass). Three operators:
  *
  *  - [[invertedPostings]]: the index build. One corpus pass explodes
  *    tokens, one partial-aggregated groupBy(token) computes document
  *    frequency, total term frequency, the first-K posting head and an
  *    order-insensitive 48-bit fingerprint of the FULL posting set.
  *    The full posting list is deliberately NOT emitted as a column:
  *    a stopword's postings are corpus-sized, and a per-token array
  *    materialization is exactly the row-explosion that dies at 100 TB.
  *    The head is a rank-limit window (WindowGroupLimit forwards K
  *    rows per token per partition), and the fingerprint is a plain
  *    distributive aggregate (bit_xor of per-posting md5-48) — both
  *    scale as aggregates, never as lists. Full-set equality between
  *    two index builds is checked by comparing (df, postings_fp),
  *    without shipping either side's postings.
  *
  *  - [[conjunctiveSearch]]: AND-of-terms search, coarse-then-exact.
  *    Scoring is the corpus convention: tf · smoothed-IDF micro
  *    (floor(ln((N+1)/(df+1))·1e6), [[CorpusStats]]'s exact form),
  *    summed over matched terms; AND semantics via count(distinct
  *    matched term) = |query|. df per term is the posting count of the
  *    term-pruned postings, and the query-term model is literal-sized,
  *    so its broadcast is bytes.
  *
  *  - [[phraseSearch]]: exact n-term phrase match as a rarest-first
  *    fold of (doc_id, start) equi-joins over the phrase terms' own
  *    positions — no per-document window, no self-join beyond the
  *    query's terms.
  *
  * Every route has ONE implementation, and both the token analyzer and
  * the index mode are parameters of it. The [[Analyzer]] is
  * [[Analyzer.Raw]] (the default — tokens as written) or
  * [[Analyzer.Folded]] (case and edge punctuation folded on both sides
  * — the mode a production search box serves); it owns the query-term
  * normalisation, the token column a route builds and prunes on, and
  * the names of the persisted relations it reads. The [[Source]] is
  * where the postings come from: the corpus read in place
  * ([[Corpus]]: coarse `contains` prunes, pushable to the scan), a
  * persisted index ([[Index]]: the one bucket-pruned scan, [[pruned]])
  * read live or as of a generation. So the term, BM25,
  * chunk, batch, phrase, proximity, slop, prefix, boolean and synonym
  * routes each score, gate and rank once, with the one idf model
  * ([[idfModel]]). Builds and maintenance take `analyzed = true` to
  * ALSO maintain the folded tier (a cold-start stream has no index yet
  * to read that choice from). [[bm25FromIndex]],
  * [[analyzedBm25FromIndex]], [[conjunctiveFromIndex]],
  * [[analyzedFromIndex]], [[phraseFromIndex]] and
  * [[analyzedPhraseFromIndex]] keep their published names — the
  * serving benchmark calls them — as one-line calls into the shared
  * routes over an [[Index]].
  */
object Search {
  import Fixtures._
  import Generations.{hasTombstones, liveRows, Horizon, Increment, Kind, Ledger, Relation, Stats}

  /** Posting-head length: bounds the emitted row regardless of df. */
  private val headK = 16

  /** Fixture query knobs (oracle-pinned). */
  private[graft] val fixtureAndTerms = Seq("dup", "spark")
  private[graft] val fixtureOrTerms = Seq("dup", "window")

  /** Min-should-match fixture: three terms, gate at 2 — chosen so the
    * result differs from BOTH the AND (all 3) and OR (any 1) gates.
    */
  private[ops] val fixtureMinTerms = Seq("dup", "spark", "window")
  private[ops] val fixtureMinMatch = 2

  /** Dictionary-route fixtures: prefix "s" matches 6 corpus tokens so
    * the maxExpand = 4 cap BINDS (the cap logic is gated, not idle);
    * "quey" is distance 1 from "query" and 2 from "key" (dist-primary
    * ordering gated); "scat" expands to scan (1) and sort (2).
    */
  private[ops] val fixturePrefix = "s"
  private[ops] val fixturePrefixExpand = 4
  private[ops] val fixtureAutoN = 10
  private[ops] val fixtureTypo = "quey"
  private[ops] val fixtureFuzzyTerm = "scat"
  private[ops] val fixtureFuzzyDist = 2
  private[ops] val fixtureFuzzyExpand = 8
  private[ops] val fixtureDymN = 5
  private[ops] val fixturePhrase = ("hash", "join")
  private val topK = 10

  /** The token ANALYZER a route serves under. [[Analyzer.Raw]]
    * matches whitespace tokens as written; [[Analyzer.Folded]] lowercases
    * and strips non-alphanumeric token edges on BOTH sides (corpus tokens
    * and query terms alike — the property that makes search correct: an
    * unanalyzed probe misses every case/punctuation variant of its term),
    * dropping tokens that fold to empty. Each member owns its query-term
    * normalisation, its token array and coarse prune, and the names of
    * the index relations, length column and dictionary it serves from;
    * the persisted folded tier mirrors the raw one under its own names
    * (same token-hash bucket layout, keyed by the FOLDED token's hash).
    */
  sealed abstract class Analyzer(
      private[ops] val postings: String,
      private[ops] val positions: String,
      private[ops] val dl: String,
      private[ops] val vocab: String
  ) {

    /** Driver-side query-term normalisation. */
    def term(t: String): String

    /** In-plan per-token normalisation — [[term]]'s executor twin. */
    private[ops] def token(c: Column): Column

    /** The document's token array. */
    private[ops] def tokens(textCol: String): Column

    /** Coarse pushable prune: a necessary condition for an exact token
      * match of the normalised term `t`.
      */
    private[ops] def contains(textCol: String, t: String): Column

    /** Coarse prune: a necessary condition for the normalised terms `ts`
      * to occur as consecutive tokens (a phrase).
      */
    private[ops] def adjacent(textCol: String, ts: Seq[String]): Column

    /** Case fold for a dictionary pattern (a glob, or a regex whose
      * escapes must survive).
      */
    private[ops] def pattern(p: String, regex: Boolean): String

    /** (N, total tokens) of a persisted index — BM25's model scalars. */
    private[ops] def scalars(s: SparkSession, dir: String): (Long, Long)

    /** Query terms as a route matches them: normalised, empties
      * dropped, repeats collapsed (a repeated term must neither
      * double-count nor make an all-terms gate unreachable).
      */
    private[ops] def terms(raw: Seq[String]): Seq[String] = raw.map(term).filter(_.nonEmpty).distinct
  }

  object Analyzer {
    case object Raw extends Analyzer("postings", "positions", "dl", "vocab") {
      def term(t: String): String = t
      private[ops] def token(c: Column): Column = c
      private[ops] def tokens(textCol: String): Column = split(col(textCol), " ")
      private[ops] def contains(textCol: String, t: String): Column = col(textCol).contains(t)
      // consecutive split(' ') tokens are joined by exactly one space
      private[ops] def adjacent(textCol: String, ts: Seq[String]): Column = col(textCol).contains(ts.mkString(" "))
      private[ops] def pattern(p: String, regex: Boolean): String = p
      private[ops] def scalars(s: SparkSession, dir: String): (Long, Long) = readMeta(s, dir)
    }

    case object Folded extends Analyzer("apostings", "apositions", "adl", "avocab") {

      /** The folded-total scalar relation (N is analyzer-independent
        * and lives in the main meta); raw-only indexes never pay for it.
        */
      private[ops] val meta = "ameta"
      def term(t: String): String = analyzeTerm(t)
      private[ops] def token(c: Column): Column = analyzeCol(c)
      private[ops] def tokens(textCol: String): Column = atoksCol(textCol)
      // an analyzed token's body appears contiguously in the lowered text
      private[ops] def contains(textCol: String, t: String): Column = lower(col(textCol)).contains(t)
      // between two consecutive folded tokens the lowered text holds only
      // their stripped edges, spaces and pure-punct tokens: a non-empty
      // run of non-alphanumerics
      private[ops] def adjacent(textCol: String, ts: Seq[String]): Column =
        lower(col(textCol)).rlike(ts.map(java.util.regex.Pattern.quote).mkString("[^a-z0-9]+"))
      private[ops] def pattern(p: String, regex: Boolean): String =
        if (regex) lowerRegexLiterals(p) else p.toLowerCase
      private[ops] def scalars(s: SparkSession, dir: String): (Long, Long) =
        (readMeta(s, dir)._1, readAmeta(s, dir))
    }

    /** The tiers a build or maintenance step writes: raw always, the
      * folded tier too when asked.
      */
    private[ops] def tiers(folded: Boolean): Seq[Analyzer] = if (folded) Seq(Raw, Folded) else Seq(Raw)
  }
  import Analyzer.{Folded, Raw}

  /** Where a route reads its postings from — the INDEX MODE, a
    * parameter of every route exactly like the [[Analyzer]]. A route's
    * scoring, gating and ranking are written once; a Source supplies
    * the four inputs routes read, each under the route's analyzer:
    *
    *  - term-pruned postings (token, doc_id, tf, <the analyzer's dl>);
    *  - term-pruned positions (token, doc_id, pos);
    *  - N, as the idf column it feeds, and (N, total tokens);
    *  - the (token, df) dictionary the expansion routes rank.
    *
    * Postings carry EVERY document holding a term, so df counted over
    * them is exact. Positions need only carry the documents holding ALL
    * the terms: their readers (phrase, proximity, ordered slop) match
    * every term and take no df.
    */
  sealed abstract class Source {
    private[ops] def session: SparkSession

    /** What error messages name. */
    private[ops] def what: String

    private[ops] def postings(terms: Seq[String], a: Analyzer): DataFrame

    /** What an expansion route scores: `terms` is a request-sized
      * (token, df) relation drawn from [[dictionary]], each token
      * containing the substring `cover`. Returns postings covering those
      * tokens (the inner join with the idf model drops any other token)
      * and the (token, df) rows their idf is computed from; None for an
      * empty expansion. An index collects the tokens for its static
      * bucket prune and recounts df over the pruned postings (its
      * dictionary trails tombstones until compaction); a corpus
      * dictionary's df is exact, so a corpus scores with it in-plan.
      */
    private[ops] def expanded(terms: DataFrame, a: Analyzer, cover: String): Option[(DataFrame, DataFrame)]

    /** Positions of `terms`; `phrase`, when given, is the in-order term
      * sequence the reader matches as consecutive tokens, which a corpus
      * also prunes by ([[Analyzer.adjacent]]).
      */
    private[ops] def positions(terms: Seq[String], a: Analyzer, phrase: Seq[String] = Nil): DataFrame

    /** `rows` (carrying a `df` column) with the smoothed idf at `scale`
      * added, N being the live document count (analyzer-independent).
      */
    private[ops] def idf(rows: DataFrame, scale: Long): DataFrame

    /** (N, total tokens under the analyzer) — BM25's model scalars. */
    private[ops] def scalars(a: Analyzer): (Long, Long)

    /** (token, df) rows covering every token that contains `within` —
      * the corpus prunes its pass with it, an index reads its vocab.
      */
    private[ops] def dictionary(a: Analyzer, within: String): DataFrame

    /** Per-token row counts of `rel`, one of this source's term-pruned
      * relations, when that probe is request-sized; empty when it would
      * cost another pass over the source (callers then keep their
      * query order).
      */
    private[ops] def tokenCounts(rel: DataFrame): Map[String, Long]
  }

  /** The corpus read in place: each read is one pass over `docs`; N is
    * countDistinct(id), the convention the index meta shares, joined
    * into the idf model in-plan rather than counted by a job of its own.
    * Postings of a few terms prune the pass with the OR of their coarse
    * contains predicates (pushable, and never the AND, which would drop
    * single-term documents and undercount df); a batch-sized term set
    * prunes by exact token membership instead, so the pass costs one
    * hash probe per token rather than one substring scan per term.
    * Positions prune with the AND (every reader needs all its terms)
    * and, for a phrase, the analyzer's adjacency condition. No count
    * probe: each would be a further pass.
    */
  final case class Corpus(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text") extends Source {
    private[ops] def session: SparkSession = docs.sparkSession
    private[ops] def what: String = "the corpus"
    private def containing(subs: Seq[String], a: Analyzer, all: Boolean = false): DataFrame =
      if (subs.size > Corpus.maxContains) docs
      else {
        val has = subs.map(a.contains(textCol, _))
        docs.filter(if (all) has.reduce(_ && _) else has.reduce(_ || _))
      }
    private[ops] def postings(terms: Seq[String], a: Analyzer): DataFrame =
      postingsWithDl(containing(terms, a), idCol, textCol, a).filter(col("token").isin(terms: _*))
    private[ops] def expanded(terms: DataFrame, a: Analyzer, cover: String): Option[(DataFrame, DataFrame)] =
      Some((postingsWithDl(containing(Seq(cover), a), idCol, textCol, a), terms))
    private[ops] def positions(terms: Seq[String], a: Analyzer, phrase: Seq[String] = Nil): DataFrame = {
      val all = containing(terms, a, all = true)
      val candidates = if (phrase.isEmpty) all else all.filter(a.adjacent(textCol, phrase))
      positionalPostings(candidates, idCol, textCol, a).filter(col("token").isin(terms: _*))
    }
    private[ops] def idf(rows: DataFrame, scale: Long): DataFrame =
      rows
        .crossJoin(broadcast(docs.agg(countDistinct(col(idCol)).cast("long").as("__n"))))
        .withColumn(idfName(scale), idfCol(col("__n") + 1, scale))
        .drop("__n")
    private[ops] def scalars(a: Analyzer): (Long, Long) = {
      val r = docs.agg(countDistinct(col(idCol)).cast("long"), tokenTotal(textCol, a)).head()
      (r.getLong(0), r.getLong(1))
    }
    // over the same pass `expanded` scores, so the plan shares its scan
    private[ops] def dictionary(a: Analyzer, within: String): DataFrame =
      dfRows(postingsWithDl(containing(Seq(within), a), idCol, textCol, a))
    private[ops] def tokenCounts(rel: DataFrame): Map[String, Long] = Map.empty
  }

  object Corpus {

    /** The most contains predicates a corpus prune ORs together. */
    private val maxContains = 16
  }

  /** A persisted index at `dir`: the terms' bucket dirs through
    * [[pruned]], the meta scalars, the vocab (the live dictionary in
    * both cases — it only SELECTS terms; df for scoring always comes
    * from the pruned postings).
    *
    * With `asOf = Some(gen)` it is read by TIME TRAVEL: the index
    * exactly as it served after generation `gen` — later batches' rows
    * invisible, later tombstones unapplied (an upsert's OLD version
    * serves again), N and total tokens reconstructed from the increment
    * ledger ([[metaAsOf]]). Valid back to the last compaction (a purge
    * physically drops history, Lucene's retention contract);
    * generations up to the first upsert reconstruct exactly, and across
    * an upsert window the ledger N carries the documented Lucene
    * overcount until compaction.
    */
  final case class Index(s: SparkSession, dir: String, asOf: Option[Long] = None) extends Source {
    private[ops] def session: SparkSession = s
    private[ops] def what: String = s"index at $dir"
    private[ops] def postings(terms: Seq[String], a: Analyzer): DataFrame = postingsScan(s, dir, terms, a, asOf)
    private[ops] def expanded(terms: DataFrame, a: Analyzer, cover: String): Option[(DataFrame, DataFrame)] = {
      val ts = terms.select("token").collect().map(_.getString(0)).toSeq
      if (ts.isEmpty) None
      else {
        val p = postings(ts, a)
        Some((p, dfRows(p)))
      }
    }
    private[ops] def positions(terms: Seq[String], a: Analyzer, phrase: Seq[String] = Nil): DataFrame =
      positionsScan(s, dir, terms, a, asOf)
    private def nDocs: Long = asOf.fold(readMeta(s, dir))(metaAsOf(s, dir, _))._1
    private[ops] def idf(rows: DataFrame, scale: Long): DataFrame = withIdf(rows, nDocs, scale)
    private[ops] def scalars(a: Analyzer): (Long, Long) = asOf match {
      case None => a.scalars(s, dir)
      case Some(gen) =>
        require(a == Raw, "time-travel reads serve the raw tier only")
        metaAsOf(s, dir, gen)
    }
    private[ops] def dictionary(a: Analyzer, within: String): DataFrame = vocabRows(s, dir, a)
    private[ops] def tokenCounts(rel: DataFrame): Map[String, Long] =
      rel
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
  }

  /** Kept to two engine-portable operations so the DuckDB oracle runs
    * the same chain.
    */
  private def analyzeCol(c: Column): Column =
    regexp_replace(lower(c), "^[^a-z0-9]+|[^a-z0-9]+$", "")

  /** Driver-side twin of [[analyzeCol]] for query terms. */
  private[ops] def analyzeTerm(t: String): String =
    t.toLowerCase.replaceAll("^[^a-z0-9]+|[^a-z0-9]+$", "")

  /** The analyzer as a SQL snippet usable inside array lambdas —
    * byte-identical semantics to [[analyzeCol]] (regexp_replace in
    * Spark SQL is global, matching the Column form).
    */
  private def analyzeSql(inner: String): String =
    s"regexp_replace(lower($inner), '^[^a-z0-9]+|[^a-z0-9]+$$', '')"

  /** The document's ANALYZED token array: every whitespace token
    * through the analyzer, pure-punct (empty) results dropped.
    */
  private def atoksCol(textCol: String): Column =
    expr(s"filter(transform(split($textCol, ' '), t -> ${analyzeSql("t")}), t -> t != '')")

  /** (token, doc_id, tf) postings over the analyzer's token stream. */
  private def postings(docs: DataFrame, idCol: String, textCol: String, a: Analyzer = Raw): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"), explode(a.tokens(textCol)).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** [[postings]] with the document's token length DENORMALIZED onto
    * every row (under the analyzer's length column) — the
    * PERSISTED-index variant of the relation. BM25's length normalizer
    * then rides the posting row itself, so an index-served BM25 probe
    * touches ONLY its terms' bucket dirs: joining a separate doc-keyed
    * doclen relation would re-read a corpus-cardinality table per probe
    * (~10¹⁰ rows at 100 TB) for a candidate-sized dl lookup. Cost at
    * build time: one extra BIGINT column on rows the build materializes
    * anyway (dl is constant per doc, so adding it to the grouping key
    * changes no group).
    */
  private def postingsWithDl(docs: DataFrame, idCol: String, textCol: String, a: Analyzer = Raw): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"), a.tokens(textCol).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as(a.dl),
        explode(col("toks")).as("token")
      )
      .groupBy(col("token"), col("doc_id"), col(a.dl))
      .agg(count(lit(1)).as("tf"))
      .select(col("token"), col("doc_id"), col("tf"), col(a.dl))

  /** (token, doc_id, pos) POSITIONAL postings — the phrase-serving
    * relation. Corpus-token-sized by construction (a positional index
    * IS the corpus re-encoded as rows), but bucketed exactly like
    * [[postings]], so a phrase probe still reads only its terms'
    * bucket dirs — the row count is the corpus's, the probe I/O is
    * the query's. Under [[Analyzer.Folded]] pos indexes the FILTERED
    * token sequence (pure-punct tokens dropped before numbering), so
    * adjacency means "adjacent after analysis" — `"big, hash"` and
    * `"big hash"` both yield consecutive positions.
    */
  private def positionalPostings(docs: DataFrame, idCol: String, textCol: String, a: Analyzer = Raw): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        posexplode(a.tokens(textCol)).as(Seq("pos", "token"))
      )
      .select(col("token"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Summed token count of a document relation under the analyzer (0
    * on an empty relation).
    */
  private def tokenTotal(textCol: String, a: Analyzer): Column =
    coalesce(sum(size(a.tokens(textCol)).cast("long")), lit(0L)).cast("long")

  /** (doc_id, dl) document token lengths — recorded at build time so
    * an index probe never needs the corpus.
    */
  private def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl")
    )

  /** Smoothed idf, floor(ln((N+1)/(df+1))·scale) over a `df` column —
    * the one float op every scorer shares (scale 10⁶ for the tf·idf
    * routes, 10³ for BM25).
    */
  private def idfCol(nDocsPlus1: Column, scale: Long): Column =
    floor(log(nDocsPlus1.cast("double") / (col("df") + 1)) * scale).cast("bigint")

  private def idfName(scale: Long): String = if (scale == 1000L) "idf_milli" else "idf_micro"

  /** `rows` (carrying a `df` column) with the idf at `scale` over a
    * known N added.
    */
  private def withIdf(rows: DataFrame, nDocs: Long, scale: Long): DataFrame =
    rows.withColumn(idfName(scale), idfCol(lit(nDocs + 1), scale))

  /** (token, df) over term-pruned posting rows: df per token is the
    * rows' count (postings are one row per (token, doc), every document
    * holding the term included).
    */
  private def dfRows(p: DataFrame): DataFrame =
    p.groupBy(col("token")).agg(count(lit(1)).cast("long").as("df"))

  /** (token, idf) model over term-pruned posting rows with a known N —
    * the model every route broadcasts.
    */
  private def idfModel(p: DataFrame, nDocs: Long, scale: Long): DataFrame =
    withIdf(dfRows(p), nDocs, scale).select(col("token"), col(idfName(scale)))

  /** [[idfModel]] over (token, df) rows with N from the source. */
  private def idfModel(src: Source, dfs: DataFrame, scale: Long): DataFrame =
    src.idf(dfs, scale).select(col("token"), col(idfName(scale)))

  /** Shared top-k tail: orderBy+limit plans as TakeOrderedAndProject
    * (per-partition heaps, no full sort); the rank column is stamped
    * on the ≤ k survivors only.
    */
  private def rankTop(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .orderBy(col(scoreCol).desc, col("doc_id").asc)
      .limit(k)
      .withColumn(
        "rank",
        row_number()
          .over(Window.orderBy(col(scoreCol).desc, col("doc_id").asc))
          .cast("bigint")
      )
      .select(col("rank"), col("doc_id"), col(scoreCol))
  }

  /** The batched routes' top-k tail: a rank-limit window per query
    * (WindowGroupLimit forwards k rows per query per partition — never
    * a global sort).
    */
  private def rankTopPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn(
        "rank",
        row_number()
          .over(
            Window
              .partitionBy(col("query_id"))
              .orderBy(col(scoreCol).desc, col("doc_id").asc)
          )
          .cast("bigint")
      )
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col(scoreCol))
  }

  def invertedPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = postings(docs, idCol, textCol)
    val stats = p
      .groupBy(col("token"))
      .agg(
        count(lit(1)).cast("long").as("df"),
        sum(col("tf")).cast("long").as("tf_total"),
        // order-insensitive content hash of the full posting set: each
        // (token, doc) posting contributes its md5-48; xor aggregates
        // distributively (no per-token list, no ordering sensitivity).
        // Safe because postings are distinct — no even-multiplicity
        // cancellation can fake an equality.
        expr(
          "bit_xor(CAST(conv(substring(md5(cast(concat(token, ':', CAST(doc_id AS STRING)) as binary)), 1, 12), 16, 10) AS BIGINT))"
        ).as("postings_fp")
      )
    val heads = p
      .withColumn("rn", row_number().over(Window.partitionBy(col("token")).orderBy(col("doc_id"))))
      .filter(col("rn") <= headK)
      .groupBy(col("token"))
      .agg(
        expr("array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
          .as("postings_head")
      )
    stats.join(heads, "token")
  }

  val searchPostings: Q = (s, d) =>
    invertedPostings(documents(s, d), "doc_id", "text").orderBy("token")

  def conjunctiveSearch(src: Source, terms: Seq[String], k: Int, a: Analyzer = Raw): DataFrame =
    termSearch(src, terms, k, requireAll = true, a = a)

  /** OR-of-terms search: same scoring, AND-gate relaxed to ≥ 1 matched
    * term. A doc matching more terms accumulates more score — the
    * standard disjunctive ranking.
    */
  def disjunctiveSearch(src: Source, terms: Seq[String], k: Int, a: Analyzer = Raw): DataFrame =
    termSearch(src, terms, k, requireAll = false, a = a)

  /** The term route: df per term from the source's term-pruned
    * postings (posting count = document frequency), micro-idf model
    * broadcast, matched-count gate, optional must-not anti-join, top-k.
    */
  private def termSearch(
      src: Source,
      rawTerms: Seq[String],
      k: Int,
      requireAll: Boolean,
      minMatched: Int = 1,
      exclude: Option[DataFrame] = None,
      a: Analyzer = Raw
  ): DataFrame = {
    val terms = a.terms(rawTerms)
    require(terms.nonEmpty, "term search needs at least one non-empty term")
    require(
      minMatched >= 1 && minMatched <= terms.size,
      s"minMatched must be in [1, ${terms.size}], got $minMatched"
    )
    val p = src.postings(terms, a)
    scoreTerms(
      src,
      p,
      dfRows(p),
      if (requireAll) col("n_matched") === terms.size.toLong else col("n_matched") >= minMatched.toLong,
      exclude,
      k
    )
  }

  /** The term route's scoring tail: postings `p` joined to the
    * micro-idf model over the (token, df) rows `dfs`, gated, top-k.
    */
  private def scoreTerms(
      src: Source,
      p: DataFrame,
      dfs: DataFrame,
      gate: Column,
      exclude: Option[DataFrame],
      k: Int
  ): DataFrame = {
    val scored = p
      .join(broadcast(idfModel(src, dfs, 1000000L)), "token")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_matched"),
        sum(col("tf") * col("idf_micro")).cast("long").as("score_micro")
      )
      .filter(gate)
    // must-not exclusion BEFORE the page is cut, so rank k+1 can
    // enter the page. NO broadcast hint: the exclusion set is
    // must-not-df-sized — a stopword-ish NOT term is corpus-scale at
    // 100 TB — so the join strategy is AQE's call, not a pinned hint
    val gated = exclude.fold(scored)(e => scored.join(e, Seq("doc_id"), "left_anti"))
    rankTop(gated, "score_micro", k)
  }

  /** MIN-SHOULD-MATCH search (the `minimum_should_match` knob every
    * production engine exposes between AND and OR): a document
    * qualifies iff it matches at least `minMatched` of the query's
    * terms; scoring is the standard disjunctive accumulation over the
    * terms it does match. minMatched = 1 IS [[disjunctiveSearch]] and
    * minMatched = |terms| IS [[conjunctiveSearch]] (n_matched is
    * bounded by |terms|, so >= collapses to =) — the spec pins both
    * ends.
    */
  def minShouldMatchSearch(
      src: Source,
      terms: Seq[String],
      minMatched: Int,
      k: Int,
      a: Analyzer = Raw
  ): DataFrame = termSearch(src, terms, k, requireAll = false, minMatched, a = a)

  val searchConjunctive: Q = (s, d) =>
    conjunctiveSearch(Corpus(documents(s, d)), fixtureAndTerms, topK).orderBy("rank")

  val searchDisjunctive: Q = (s, d) =>
    disjunctiveSearch(Corpus(documents(s, d)), fixtureOrTerms, topK).orderBy("rank")

  val searchMinMatch: Q = (s, d) =>
    minShouldMatchSearch(Corpus(documents(s, d)), fixtureMinTerms, fixtureMinMatch, topK).orderBy("rank")

  /** BM25 ranking (the standard retrieval scoring function), made
    * integer-EXACT by fixing k1 = 6/5 and b = 3/4 as rationals: the
    * per-term saturation
    *   tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    * reduces to 44·tf·avgdl / (20·avgdl·tf + 6·avgdl + 18·dl), so a
    * term's contribution is ONE BIGINT division:
    *   score_milli += (44·idf_milli·tf·avgdl) div
    *                  (20·avgdl·tf + 6·avgdl + 18·dl)
    * with idf in MILLI units (the only float op, the corpus
    * convention's floor(ln((N+1)/(df+1))·10³)). Overflow headroom:
    * the numerator needs idf_milli·tf·avgdl ≤ 2·10¹⁷ — at N = 10⁹
    * docs (idf ≤ 21 nats → 2.1·10⁴ milli), tf ≤ 10⁴ and avgdl ≤ 10⁶
    * that is 2.1·10¹⁴, three orders inside the bound.
    *
    * Semantics are disjunctive (the BM25 norm): any term admits a
    * candidate, matched terms accumulate. dl is the candidate's token
    * count under the analyzer; avgdl and N are the source's scalars
    * (one aggregate over a corpus, two meta scalars on an index). Same
    * term-pruned postings, broadcast term model and
    * TakeOrderedAndProject top-k as [[disjunctiveSearch]]; the index
    * serving ranked retrieval lands on the corpus pass's exact rows
    * (search_bm25_index shares search_bm25's oracle).
    */
  def bm25Search(src: Source, terms: Seq[String], k: Int, a: Analyzer = Raw): DataFrame =
    rankTop(bm25Scored(src, terms, a), "score_milli", k)

  /** The per-term BM25 contribution over (tf, dl-column) rows joined to
    * an idf_milli model — one BIGINT division.
    */
  private def bm25Contrib(avgdl: Long, dl: String): Column =
    expr(s"(44 * idf_milli * tf * $avgdl) div (20 * $avgdl * tf + 6 * $avgdl + 18 * $dl)")

  /** (N, avgdl) of the source under the analyzer. An empty or
    * all-empty-text source has no meaningful BM25 model: N = 0 divides
    * by zero computing avgdl, and avgdl = 0 zeroes the contrib
    * denominator for dl = 0 docs — fail loudly instead.
    */
  private def bm25Norms(src: Source, a: Analyzer): (Long, Long) = {
    val (nDocs, totalToks) = src.scalars(a)
    require(nDocs > 0, s"bm25 search: ${src.what} is empty (n_docs = 0)")
    val avgdl = totalToks / nDocs
    require(avgdl > 0, s"bm25 search: ${src.what} has avgdl = 0 (all-empty documents)")
    (nDocs, avgdl)
  }

  /** The scored-candidate relation under [[bm25Search]] — factored out
    * so keyset pagination ([[bm25PageAfter]]) can cursor-filter BEFORE
    * the top-k, and chunk-level retrieval can pool scores per parent
    * document before its own rank. dl rides each posting row (the
    * index denormalizes it at build, [[postingsWithDl]]), so an index
    * probe's total I/O is its terms' bucket dirs plus the meta scalars.
    */
  private def bm25Scored(src: Source, rawTerms: Seq[String], a: Analyzer = Raw): DataFrame = {
    val terms = a.terms(rawTerms)
    require(terms.nonEmpty, "bm25 search needs at least one non-empty term")
    val (nDocs, avgdl) = bm25Norms(src, a)
    val p = src.postings(terms, a).select(col("token"), col("doc_id"), col("tf"), col(a.dl))
    p.join(broadcast(idfModel(p, nDocs, 1000L)), "token")
      .withColumn("contrib", bm25Contrib(avgdl, a.dl))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_matched"),
        sum(col("contrib")).cast("long").as("score_milli")
      )
  }

  val searchBm25: Q = (s, d) =>
    bm25Search(Corpus(documents(s, d)), fixtureOrTerms, topK).orderBy("rank")

  // ---- Chunk-level retrieval (the RAG shape) --------------------------

  /** Composite chunk-id convention shared by the chunk routes and
    * their oracle: cid = doc_id · base + chunk_no. A fixture-scale
    * convention (docs stay far under base/chunkSize tokens); a
    * production id would be a struct key — the retrieval algebra is
    * identical.
    */
  private[ops] val chunkIdBase = 1000L

  /** The composite cid column WITH the aliasing guard: a document with
    * ≥ base chunks (≥ 16k tokens at the fixture chunk size) would
    * silently alias into the NEXT doc_id's id space — max-pooling
    * chunks across different documents with no error, and the oracle
    * (sharing the convention) could not catch it. Fail loudly per row
    * instead (codegen'd CASE + raise_error, zero cost on the good
    * path).
    */
  private def chunkCidCol: org.apache.spark.sql.Column =
    expr(
      s"IF(chunk_no >= $chunkIdBase, " +
        s"raise_error(concat('chunk_no ', chunk_no, ' >= chunkIdBase $chunkIdBase for doc ', " +
        "doc_id, ' — composite cid would alias into the next doc id; use a larger base or a struct key')), " +
        s"doc_id * $chunkIdBase + chunk_no)"
    )

  /** The deterministic chunk relation: fixed `chunkSize`-token
    * windows, one row per (doc, window), text re-joined so every
    * downstream route sees ordinary (id, text) rows.
    */
  private[ops] def chunkRelation(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int
  ): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    docs
      .select(col(idCol).cast("long").as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(
        col("doc_id"),
        col("toks"),
        explode(sequence(lit(0L), ((size(col("toks")) - 1) / chunkSize).cast("long"))).as("chunk_no")
      )
      .select(
        col("doc_id"),
        col("chunk_no"),
        expr(s"array_join(slice(toks, cast(chunk_no * $chunkSize + 1 as int), $chunkSize), ' ')")
          .as("ctext")
      )
  }

  /** The (cid, ctext) chunk relation exactly as the index machinery
    * sees it — the seam streaming chunk-index maintenance (the RAG
    * ingestion shape) and the demo builders share: composite chunk ids
    * are ordinary ids to every index route, and the projection is
    * stateless (explode over a sequence), so it rides a streaming
    * micro-batch unchanged.
    */
  def chunkedDocs(docs: DataFrame, idCol: String, textCol: String, chunkSize: Int): DataFrame =
    chunkRelation(docs, idCol, textCol, chunkSize).select(chunkCidCol.as("cid"), col("ctext"))

  /** CHUNK-LEVEL BM25 with DOC-LEVEL MAX-POOLING — the RAG retrieval
    * shape (long documents are indexed as fixed windows; a document
    * ranks by its BEST passage-chunk, so one on-topic window beats a
    * long document's diluted average — the reason RAG pipelines chunk
    * at all): the source holds CHUNKS (a corpus of [[chunkedDocs]], or
    * an index built over them — composite chunk ids are ordinary ids
    * to every index route), BM25 runs over them (N/avgdl/df/dl are all
    * chunk-level — the model's collection IS the chunks), each doc
    * keeps its best chunk (score desc, chunk_no asc), the page ranks
    * docs. Output carries the winning chunk_no — the pointer a RAG
    * pipeline feeds the reader.
    */
  def chunkBm25TopK(src: Source, terms: Seq[String], k: Int): DataFrame =
    chunkPool(bm25Scored(src, terms), k)

  /** CHUNK-PAGE rendering — the RAG reader feed that closes the loop
    * [[chunkBm25TopK]] opens: the winning (doc_id, chunk_no)
    * pointers of the chunk-BM25 page rendered as ACTUAL chunk text
    * from the doc store. The page is request-sized (collected
    * driver-side, the deduped-page pattern every rendering route
    * uses); the store read is pruned to the page's dbucket dirs
    * (PartitionFilters) AND doc ids; the chunk re-slices by the
    * [[chunkRelation]] convention (token window [chunk_no·size,
    * +size)), so the rendered text is byte-identical to what the
    * index scored. Output: (rank, doc_id, chunk_no, score_milli,
    * chunk_text).
    */
  def chunkPageFromIndex(
      s: SparkSession,
      chunkIndexDir: String,
      storeDir: String,
      terms: Seq[String],
      chunkSize: Int,
      k: Int
  ): DataFrame = {
    import s.implicits._
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    val page = chunkBm25TopK(Index(s, chunkIndexDir), terms, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    if (page.isEmpty) {
      return Seq
        .empty[(Long, Long, Long, Long, String)]
        .toDF("rank", "doc_id", "chunk_no", "score_milli", "chunk_text")
    }
    val ids = page.map(_._2).distinct.toSeq
    val dbuckets = ids.map(docBucket).distinct
    val ranked = page.toSeq.toDF("rank", "doc_id", "chunk_no", "score_milli")
    val toks = docStoreLive(s, storeDir)
      .filter(col("dbucket").isin(dbuckets: _*) && col("doc_id").isin(ids: _*))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    broadcast(ranked)
      .join(toks, "doc_id")
      .select(
        col("rank"),
        col("doc_id"),
        col("chunk_no"),
        col("score_milli"),
        expr(
          s"array_join(slice(toks, cast(chunk_no * $chunkSize + 1 as int), $chunkSize), ' ')"
        ).as("chunk_text")
      )
  }

  /** Per-document max-pool + page rank shared by the chunk routes:
    * best chunk per doc (score desc, chunk_no asc), docs ranked
    * (score desc, doc_id asc), rank stamped on the ≤ k survivors.
    */
  private def chunkPool(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .select(
        (col("doc_id") / chunkIdBase).cast("long").as("ddoc"),
        (col("doc_id") % chunkIdBase).cast("long").as("chunk_no"),
        col("score_milli")
      )
      .groupBy(col("ddoc"))
      .agg(max(struct(col("score_milli"), (-col("chunk_no")).as("nc"))).as("b"))
      .select(
        col("ddoc").as("doc_id"),
        (-col("b.nc")).cast("long").as("chunk_no"),
        col("b.score_milli").cast("long").as("score_milli")
      )
      .orderBy(col("score_milli").desc, col("doc_id").asc)
      .limit(k)
      .withColumn(
        "rank",
        row_number()
          .over(Window.orderBy(col("score_milli").desc, col("doc_id").asc))
          .cast("bigint")
      )
      .select(col("rank"), col("doc_id"), col("chunk_no"), col("score_milli"))
  }

  // ---- Persisted index + pruned probe (the serving shape) ------------

  /** Token-hash bucket count for the persisted index layout. */
  private[ops] val indexBuckets = 64L

  /** token → bucket, driver-side: 48-bit md5 prefix mod buckets —
    * byte-identical to the executor-side [[tokenBucketCol]], so probe
    * pruning can compute its partition list without touching Spark.
    */
  private[ops] def tokenBucket(token: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(token.getBytes("UTF-8"))
    val hex = md.take(6).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % indexBuckets
  }

  private def tokenBucketCol: org.apache.spark.sql.Column =
    expr(s"CAST(conv(substring(md5(cast(token as binary)), 1, 12), 16, 10) AS BIGINT) % $indexBuckets")

  /** Schema of a persisted postings relation — the analyzer's length
    * column denormalized per row (BM25's normalizer).
    */
  private def postingsSchema(a: Analyzer) = new org.apache.spark.sql.types.StructType()
    .add("token", "string")
    .add("doc_id", "long")
    .add("tf", "long")
    .add(a.dl, "long")
    .add("tbucket", "long")

  private val positionsSchema = new org.apache.spark.sql.types.StructType()
    .add("token", "string")
    .add("doc_id", "long")
    .add("pos", "long")
    .add("tbucket", "long")

  /** The bucket-pruned read every index probe starts from: the terms'
    * token-hash buckets, computed driver-side (no Spark pass), become a
    * static PartitionFilter (spec-pinned) next to the token predicate,
    * and dead rows drop through [[liveRows]] (as of a generation for a
    * time-travel read) directly over the scan. A probe for Q terms
    * reads at most Q bucket dirs, never the index.
    */
  private def pruned(
      s: SparkSession,
      dir: String,
      rel: DataFrame,
      terms: Seq[String],
      asOf: Option[Long] = None
  ): DataFrame = {
    val scan = rel.filter(
      col("tbucket").isin(terms.map(tokenBucket).distinct: _*) && col("token").isin(terms: _*)
    )
    liveRows(s, dir, scan, asOf = asOf)
  }

  /** [[pruned]] over the analyzer's persisted postings. */
  private def postingsScan(
      s: SparkSession,
      dir: String,
      terms: Seq[String],
      a: Analyzer = Raw,
      asOf: Option[Long] = None
  ): DataFrame =
    pruned(s, dir, s.read.schema(postingsSchema(a)).parquet(s"$dir/${a.postings}"), terms, asOf)

  /** [[pruned]] over the analyzer's persisted positions, as (token,
    * doc_id, pos).
    */
  private def positionsScan(
      s: SparkSession,
      dir: String,
      terms: Seq[String],
      a: Analyzer = Raw,
      asOf: Option[Long] = None
  ): DataFrame =
    pruned(s, dir, s.read.schema(positionsSchema).parquet(s"$dir/${a.positions}"), terms, asOf)
      .select(col("token"), col("doc_id"), col("pos"))

  /** On-disk format version, stamped into `dir/meta`. Version 2 is the
    * dl-denormalized layout (postings rows carry the doc length);
    * version 1 (no marker) predates it — reading a v1 index with the
    * v2 `postingsSchema` would yield null dl and silently NULL every
    * BM25 contribution (sum skips nulls), so [[readMeta]] fails loudly
    * on any index without the marker instead of mis-scoring.
    */
  private val indexFormatVersion = 2L

  // meta/ameta/ledger scalars move through graft.core.ScalarParquet —
  // driver-side parquet-mr I/O, zero Spark jobs — because they sit in
  // the per-micro-batch hot loop and in every probe's prologue; files,
  // names and schemas are unchanged (Spark still reads them fine).
  private val metaSchema =
    "message meta { optional int64 n_docs; optional int64 total_toks; optional int64 format_version; }"

  private def writeMeta(s: SparkSession, dir: String, m: (Long, Long)): Unit =
    graft.core.ScalarParquet.overwriteDir(
      s.sessionState.newHadoopConf(),
      fsFor(s, dir),
      new org.apache.hadoop.fs.Path(s"$dir/meta"),
      metaSchema,
      Seq(Seq(m._1, m._2, indexFormatVersion))
    )

  private def readMeta(s: SparkSession, dir: String): (Long, Long) = {
    var row: Option[(Long, Long, Long)] = None
    var sawVersion = false
    graft.core.ScalarParquet.foreachRow(
      s.sessionState.newHadoopConf(),
      fsFor(s, dir),
      new org.apache.hadoop.fs.Path(s"$dir/meta")
    ) { g =>
      // per-ROW schema check: a sticky flag would (a) blame an empty
      // relation on a missing version marker and (b) call
      // getFieldRepetitionCount on a file whose schema lacks the field
      // (InvalidRecordException) in a mixed-schema meta dir
      val hasVersion =
        (0 until g.getType.getFieldCount).exists(i => g.getType.getFieldName(i) == "format_version")
      sawVersion = sawVersion || hasVersion
      val v = if (hasVersion && g.getFieldRepetitionCount("format_version") > 0)
        g.getLong("format_version", 0)
      else 0L
      row = Some((g.getLong("n_docs", 0), g.getLong("total_toks", 0), v))
    }
    val r = row.getOrElse(
      throw new IllegalStateException(s"search index at $dir: empty meta relation")
    )
    require(
      sawVersion,
      s"search index at $dir has no format_version marker (pre-dl layout): its postings " +
        "lack the denormalized dl column and BM25 would silently mis-score — rebuild the index"
    )
    require(
      r._3 >= indexFormatVersion,
      s"search index at $dir has format_version ${r._3} < $indexFormatVersion — rebuild the index"
    )
    (r._1, r._2)
  }

  /** The FOLDED-total meta scalar (sum of folded doc lengths) — folded
    * BM25's avgdl numerator; N comes from the main meta (the doc count
    * is analyzer-independent).
    */
  private def writeAmeta(s: SparkSession, dir: String, totalAtoks: Long): Unit =
    graft.core.ScalarParquet.overwriteDir(
      s.sessionState.newHadoopConf(),
      fsFor(s, dir),
      new org.apache.hadoop.fs.Path(s"$dir/${Folded.meta}"),
      s"message ${Folded.meta} { optional int64 total_atoks; }",
      Seq(Seq(totalAtoks))
    )

  private def readAmeta(s: SparkSession, dir: String): Long = {
    var v = Option.empty[Long]
    graft.core.ScalarParquet.foreachRow(
      s.sessionState.newHadoopConf(),
      fsFor(s, dir),
      new org.apache.hadoop.fs.Path(s"$dir/${Folded.meta}")
    )(g => v = Some(g.getLong("total_atoks", 0)))
    v.getOrElse(throw new IllegalStateException(s"search index at $dir: empty ${Folded.meta} relation"))
  }

  /** True iff the index at `dir` carries the folded tier. */
  private def hasFoldedTier(s: SparkSession, dir: String): Boolean =
    fsFor(s, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/${Folded.postings}"))

  /** The folded meta scalar (0 on an index without the folded tier). */
  private def foldedTotalOrZero(s: SparkSession, dir: String): Long =
    if (fsFor(s, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/${Folded.meta}"))) readAmeta(s, dir)
    else 0L

  /** total_atoks recomputed from the folded postings themselves: the
    * folded length is constant per doc, so the distinct (doc_id, dl)
    * pairs sum to the folded total (docs whose every token folded to
    * empty appear nowhere and contribute zero) — the compaction-repair
    * / idempotent stream form, a pure function of the on-disk rows.
    */
  private def foldedTotalFromPostings(s: SparkSession, dir: String): Long =
    s.read
      .schema(postingsSchema(Folded))
      .parquet(s"$dir/${Folded.postings}")
      .select(col("doc_id"), col(Folded.dl))
      .distinct()
      .agg(coalesce(sum(col(Folded.dl)), lit(0L)).cast("long"))
      .head()
      .getLong(0)

  /** Persist the inverted index partitioned by token-hash bucket:
    * `dir/postings/tbucket=N/` holds every (token, doc_id, tf) whose
    * token hashes to N, and `dir/positions/tbucket=N/` the positional
    * twin (token, doc_id, pos) — both co-located to one file per
    * bucket before the partitioned write (the small-files guard every
    * index write here uses). `dir/doclen` records each document's
    * token length (BM25's normalizer) and `dir/meta` the two corpus
    * scalars (N, total tokens) the scorers need. Postings rows carry
    * the doc's dl DENORMALIZED ([[postingsWithDl]]), so even the
    * length-normalized scorer reads nothing doc-keyed: a probe for Q
    * query terms reads AT MOST |Q| bucket dirs plus two meta scalars
    * — per-probe I/O is occupied-bucket-sized, never index-sized.
    * `dir/doclen` stays as the meta-repair source and the doc-keyed
    * relation other consumers (compaction's recount) read. Production
    * search is ALWAYS analyzed, so with `analyzed` the index also
    * carries the folded tier: the same bucket layout keyed by the
    * FOLDED token's hash (query terms fold driver-side to the same
    * key), the folded doc length denormalized per row for folded BM25.
    * Each tier's term dictionary is derived from its just-written
    * postings — the relation the prefix/fuzzy/autocomplete queries
    * consult. The build is [[Generations.build]] of [[postingsIndex]]:
    * built rows carry generation −1.
    */
  def saveSearchIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      analyzed: Boolean = false
  ): Unit =
    Generations.build(postingsIndex(docs.sparkSession, dir, analyzed, idCol, textCol), docs, dir)

  /** [[conjunctiveSearch]] over an [[Index]] — a published name the
    * serving benchmark calls.
    */
  def conjunctiveFromIndex(s: SparkSession, indexDir: String, terms: Seq[String], k: Int, a: Analyzer = Raw): DataFrame =
    conjunctiveSearch(Index(s, indexDir), terms, k, a)

  /** The serving benchmark's folded term route, kept under its
    * published name: the term route over an [[Index]] with
    * [[Analyzer.Folded]].
    */
  def analyzedFromIndex(
      s: SparkSession,
      indexDir: String,
      rawTerms: Seq[String],
      k: Int,
      requireAll: Boolean
  ): DataFrame = termSearch(Index(s, indexDir), rawTerms, k, requireAll, a = Folded)

  /** The parsed form of a query string — the clause algebra the
    * serving routes already implement, reunited under one front door.
    */
  private[ops] case class ParsedQuery(
      must: Seq[(String, Long)],
      should: Seq[(String, Long)],
      mustNot: Seq[String],
      phrases: Seq[Seq[String]],
      fieldTerms: Seq[(String, String, Long)] = Nil, // (field, term, boost)
      fuzzy: Seq[(String, Int, Long)] = Nil, // (term, maxDist, boost)
      wildcards: Seq[(String, Long)] = Nil, // (pattern, boost)
      ranges: Seq[(Long, Long)] = Nil // len:[lo TO hi] gates
  )

  private val rangeClauseRe = """^len:\[(\d+)\s+TO\s+(\d+)\]$""".r
  private val someRangeRe = """^([A-Za-z_]\w*):\[.*$""".r
  private val fieldClauseRe = """^([A-Za-z_]\w*):(.+)$""".r
  private val fuzzyClauseRe = """^(.+?)~(\d*)$""".r

  /** Mini QUERY-STRING parser (the Lucene QueryParser subset
    * production front-ends actually send):
    *
    *   term           optional (should) clause
    *   term^N         integer boost on the clause
    *   +term          must clause (gates AND scores)
    *   -term          must-not clause (gates only, never scores)
    *   "a b"          exact-phrase clause (gates only — adjacency)
    *   field:term^N   field-scoped clause (scores with in-field idf)
    *   term~N         fuzzy clause (N ∈ {1,2}; bare `~` means 2 — Lucene's default)
    *   wi*d?rd^N      wildcard clause (`*` any run, `?` one char)
    *   len:[a TO b]   doc-length range clause (gates only)
    *
    * `+`/`-` prefixes apply to PLAIN terms only (the subset boundary is
    * loud, not silent); must-not phrases, boosted ranges and nested
    * syntax are rejected the way Lucene's parser rejects what it can't
    * represent. Pure driver-side tokenization — the parse is
    * request-sized by definition; all execution semantics live in
    * [[searchQueryString]].
    */
  private[ops] def parseQueryString(q: String): ParsedQuery = {
    // the clause regex would silently read an UNTERMINATED phrase
    // ('"hash join') as bare terms — reject like Lucene's QueryParser
    require(
      q.count(_ == '"') % 2 == 0,
      s"unterminated phrase clause (unbalanced quote) in query: $q"
    )
    // bracketed ranges carry spaces, so their alternative must come
    // before the generic non-space run
    val clause = """[+-]?"[^"]*"|[A-Za-z_]\w*:\[[^\]]*\]|[^\s"]+""".r
    var must = Vector.empty[(String, Long)]
    var should = Vector.empty[(String, Long)]
    var mustNot = Vector.empty[String]
    var phrases = Vector.empty[Seq[String]]
    var fieldTerms = Vector.empty[(String, String, Long)]
    var fuzzy = Vector.empty[(String, Int, Long)]
    var wildcards = Vector.empty[(String, Long)]
    var ranges = Vector.empty[(Long, Long)]
    clause.findAllIn(q).foreach { raw =>
      val (op, body) =
        if (raw.startsWith("+")) ('+', raw.drop(1))
        else if (raw.startsWith("-")) ('-', raw.drop(1))
        else (' ', raw)
      if (body.startsWith("\"")) {
        require(op != '-', s"must-not phrases are not supported: $raw")
        val inner = body.stripPrefix("\"").stripSuffix("\"").trim
        val terms = inner.split("\\s+").filter(_.nonEmpty).toSeq
        require(terms.size >= 2, s"phrase clause needs at least two terms: $raw")
        phrases :+= terms
      } else
        body match {
          case rangeClauseRe(lo, hi) =>
            require(op == ' ', s"range clauses gate only; +/- prefixes are not supported: $raw")
            val (l, h) = (lo.toLong, hi.toLong)
            require(l <= h, s"empty range (lo > hi): $raw")
            ranges :+= (l -> h)
          case someRangeRe(f) =>
            throw new IllegalArgumentException(
              if (f == "len") s"malformed range clause (expected len:[lo TO hi]): $raw"
              else s"only len: range clauses are supported, got '$f:': $raw"
            )
          case _ =>
            val (core, boost) = body.split("\\^") match {
              case Array(t)    => (t, 1L)
              case Array(t, b) => (t, b.toLong)
              case _           => throw new IllegalArgumentException(s"malformed clause: $raw")
            }
            require(core.nonEmpty, s"empty term in clause: $raw")
            require(boost > 0, s"boost must be positive in clause: $raw")
            core match {
              case fieldClauseRe(f, t) =>
                require(op == ' ', s"+/- prefixes on field clauses are not supported: $raw")
                require(
                  !t.exists(c => c == '*' || c == '?' || c == '~' || c == ':' || c == '['),
                  s"field clause terms must be plain (no wildcards/fuzzy/nesting): $raw"
                )
                fieldTerms :+= ((f, t, boost))
              case fuzzyClauseRe(t, d) =>
                require(op == ' ', s"+/- prefixes on fuzzy clauses are not supported: $raw")
                require(
                  !t.exists(c => c == '*' || c == '?' || c == '~'),
                  s"fuzzy clause terms must be plain: $raw"
                )
                val dist = if (d.isEmpty) 2 else d.toInt
                require(dist >= 1 && dist <= 2, s"fuzzy distance must be 1 or 2: $raw")
                fuzzy :+= ((t, dist, boost))
              case t if t.exists(c => c == '*' || c == '?') =>
                require(op == ' ', s"+/- prefixes on wildcard clauses are not supported: $raw")
                wildcards :+= (t -> boost)
              case t =>
                op match {
                  case '+' => must :+= (t -> boost)
                  case '-' =>
                    require(boost == 1L, s"must-not clauses cannot carry boosts: $raw")
                    mustNot :+= t
                  case _ => should :+= (t -> boost)
                }
            }
        }
    }
    ParsedQuery(must, should, mustNot, phrases, fieldTerms, fuzzy, wildcards, ranges)
  }

  /** The FIELDED scoring leg of the query-string front door: one
    * pruned fpostings read across ALL the query's (field, term) pairs,
    * in-field df and the per-field N from fmeta (the
    * [[fieldedTermSearch]] model, batched), each pair's contribution
    * multiplied by its clause boost, summed doc-keyed.
    */
  private def fieldedLegScores(
      s: SparkSession,
      fdir: String,
      fieldTerms: Seq[(String, String, Long)]
  ): DataFrame = {
    require(
      fieldTerms.map(ft => (ft._1, ft._2)).distinct.size == fieldTerms.size,
      s"duplicate field:term clause: ${fieldTerms.map(ft => s"${ft._1}:${ft._2}").mkString(", ")}"
    )
    val fmeta = readFmeta(s, fdir)
    fieldTerms.foreach { case (f, _, _) =>
      require(
        fmeta.contains(f),
        s"field '$f' not in the fielded index at $fdir (fields: ${fmeta.keys.toSeq.sorted.mkString(", ")})"
      )
    }
    import s.implicits._
    val pairs = fieldTerms.toDF("field", "token", "boost")
    val terms = fieldTerms.map(_._2).distinct
    val pairCond =
      fieldTerms.map { case (f, t, _) => col("field") === f && col("token") === t }.reduce(_ || _)
    val fp = pruned(s, fdir, s.read.parquet(s"$fdir/fpostings"), terms)
      .filter(pairCond)
      .select(col("field"), col("token"), col("doc_id"), col("tf"))
    // per-field N riding a CASE chain — the request's fields only
    val nCol = fieldTerms.map(_._1).distinct.foldLeft(lit(null).cast("long")) { (acc, f) =>
      when(col("field") === f, lit(fmeta(f)._1)).otherwise(acc)
    }
    val model = fp
      .groupBy(col("field"), col("token"))
      .agg(count(lit(1)).cast("long").as("df"))
      .withColumn("idf_micro", idfCol(nCol + 1, 1000000L))
      .join(pairs, Seq("field", "token"))
      .select(col("field"), col("token"), col("idf_micro"), col("boost"))
    fp.join(broadcast(model), Seq("field", "token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("boost") * col("tf") * col("idf_micro")).cast("long").as("score_micro"))
  }

  /** QUERY-STRING search from the persisted index — the front door
    * that reunites the serving algebra: must/should terms score as
    * boost·tf·idf (the [[boostedSearchFromIndex]] chain; must terms
    * additionally GATE — all present), fuzzy and wildcard clauses
    * rewrite to their capped dictionary expansions (Lucene's
    * MultiTermQuery rewrite; an expanded term carries its clause's
    * boost, and a token reached twice — two expansions, or expansion ∩
    * explicit — merges by SUMMING boosts, exactly the score two
    * same-token clauses contribute since boost·tf·idf is linear in the
    * boost), `field:term` clauses score with in-field idf from the
    * FIELDED index ([[fieldedTermSearch]]'s model — requires
    * `fieldedDir`), `len:[a TO b]` clauses gate on the index's own
    * doclen relation, must-not terms anti-join (the boolean-NOT
    * posture: deliberately unhinted, the excluded set can be
    * corpus-scale), phrase clauses gate through the positional index
    * ([[phraseFromIndex]]'s rarest-first fold). Every leg reads only
    * its clauses' pruned bucket dirs; the legs meet doc-keyed at
    * match-set size.
    */
  def searchQueryString(
      s: SparkSession,
      indexDir: String,
      q: String,
      k: Int,
      fieldedDir: Option[String] = None,
      maxExpand: Int = 8,
      a: Analyzer = Raw
  ): DataFrame =
    rankTop(queryStringGated(s, indexDir, q, fieldedDir, maxExpand, a), "score_micro", k)

  /** KEYSET pagination for the query-string front door — page 2+ of
    * the one entry point real applications call: the same gated scored
    * relation, cursor-filtered on the (score_micro, doc_id) keyset
    * BEFORE the top-k (the [[bm25PageAfter]] convention: page-local
    * ranks, a top-k plan on every page, no offset scan).
    */
  def searchQueryStringPageAfter(
      s: SparkSession,
      indexDir: String,
      q: String,
      k: Int,
      afterScoreMicro: Long,
      afterDocId: Long,
      fieldedDir: Option[String] = None,
      maxExpand: Int = 8,
      a: Analyzer = Raw
  ): DataFrame =
    rankTop(
      afterCursor(
        queryStringGated(s, indexDir, q, fieldedDir, maxExpand, a),
        "score_micro",
        afterScoreMicro,
        afterDocId
      ),
      "score_micro",
      k
    )

  /** The front door's gated scored relation (doc_id, score_micro) —
    * every clause compiled and applied, no rank/limit yet; shared by
    * the first page and keyset pagination. Under [[Analyzer.Folded]]
    * every clause's terms fold driver-side (a clause whose term folds
    * to empty — pure punctuation — is ill-formed, not silently
    * dropped), the scoring/gating legs serve from the folded relations
    * and fuzzy/wildcard rewrites consult the folded dictionary; field
    * and len clauses reject loudly there — the fielded index and the
    * doclen relation are raw artifacts with no folded tier to serve
    * them.
    */
  private def queryStringGated(
      s: SparkSession,
      indexDir: String,
      q: String,
      fieldedDir: Option[String],
      maxExpand: Int,
      a: Analyzer
  ): DataFrame = {
    val pq = parseQueryString(q)
    if (a == Folded) {
      require(pq.fieldTerms.isEmpty, s"the analyzed front door has no fielded artifacts to serve field clauses: $q")
      require(pq.ranges.isEmpty, s"the analyzed front door has no analyzed doclen relation for len clauses: $q")
    }
    def fold(t: String, what: String): String = {
      val f = a.term(t)
      require(f.nonEmpty, s"$what clause '$t' analyzed to empty (pure punctuation) in: $q")
      f
    }
    val must = pq.must.map { case (t, b) => fold(t, "must") -> b }
    val explicitTerms = must ++ pq.should.map { case (t, b) => fold(t, "should") -> b }
    require(
      explicitTerms.map(_._1).distinct.size == explicitTerms.size,
      s"duplicate term across clauses in '$q'"
    )
    require(
      explicitTerms.nonEmpty || pq.fieldTerms.nonEmpty || pq.fuzzy.nonEmpty ||
        pq.wildcards.nonEmpty,
      s"query '$q' has no scoring clause (only must-not/phrase/range clauses)"
    )
    require(
      pq.fieldTerms.isEmpty || fieldedDir.nonEmpty,
      s"query '$q' has field clauses but no fielded index dir was provided"
    )
    require(maxExpand >= 1, s"maxExpand must be >= 1, got $maxExpand")
    val mustNot = pq.mustNot.map(fold(_, "must-not")).distinct
    val expanded: Seq[(String, Long)] =
      pq.fuzzy.flatMap { case (t, dist, b) =>
        fuzzyExpansion(s, indexDir, t, dist, maxExpand, a)
          .select("token")
          .collect()
          .map(_.getString(0) -> b)
          .toSeq
      } ++
        pq.wildcards.flatMap { case (p, b) =>
          wildcardExpansion(s, indexDir, p, maxExpand, a).map(_ -> b)
        }
    val scoreTerms: Seq[(String, Long)] =
      (explicitTerms ++ expanded)
        .groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(_._2).sum }
        .toSeq
        .sortBy(_._1)
    val mustTerms = must.map(_._1)
    import s.implicits._
    val unfieldedLeg: Option[DataFrame] =
      if (scoreTerms.isEmpty) None
      else
        Some {
          val p = postingsScan(s, indexDir, scoreTerms.map(_._1), a)
          val model = idfModel(p, readMeta(s, indexDir)._1, 1000000L)
            .join(scoreTerms.toDF("token", "boost"), "token")
          p.join(broadcast(model), "token")
            .groupBy(col("doc_id"))
            .agg(
              sum(col("boost") * col("tf") * col("idf_micro")).cast("long").as("score_micro"),
              count(when(col("token").isin(mustTerms: _*), lit(1))).cast("long").as("n_must")
            )
        }
    val fieldedLeg: Option[DataFrame] =
      if (pq.fieldTerms.isEmpty) None
      else Some(fieldedLegScores(s, fieldedDir.get, pq.fieldTerms).withColumn("n_must", lit(0L)))
    val legs = unfieldedLeg.toSeq ++ fieldedLeg.toSeq
    // a fuzzy/wildcard-only query whose expansions found no dictionary
    // term rewrites to nothing — Lucene's empty rewrite matches nothing
    if (legs.isEmpty) return Seq.empty[(Long, Long)].toDF("doc_id", "score_micro")
    // single-leg queries keep the one-aggregate plan; two legs meet in
    // a second doc-keyed aggregate over hit-set-sized inputs
    val combined =
      (if (legs.size == 1) legs.head
       else
         legs
           .reduce(_ unionByName _)
           .groupBy(col("doc_id"))
           .agg(
             sum(col("score_micro")).cast("long").as("score_micro"),
             sum(col("n_must")).cast("long").as("n_must")
           ))
        .filter(col("n_must") === mustTerms.size.toLong)
        .select(col("doc_id"), col("score_micro"))
    val rangeGated = pq.ranges.foldLeft(combined) { case (acc, (lo, hi)) =>
      val dl = liveRows(s, indexDir, s.read.parquet(s"$indexDir/doclen"), keyCol = "doc_id")
        .filter(col("dl") >= lo && col("dl") <= hi)
        .select(col("doc_id"))
      acc.join(dl, Seq("doc_id"), "left_semi")
    }
    // phrases gate through the analyzer's positional fold (raw terms
    // in — the phrase route folds and validates per term)
    val phraseGated = pq.phrases.foldLeft(rangeGated) { (acc, ph) =>
      acc.join(
        phraseFromIndex(s, indexDir, ph, a).select(col("doc_id")),
        Seq("doc_id"),
        "left_semi"
      )
    }
    if (mustNot.isEmpty) phraseGated
    else
      phraseGated.join(
        postingsScan(s, indexDir, mustNot, a).select(col("doc_id")).distinct(),
        Seq("doc_id"),
        "left_anti"
      )
  }

  /** HIT-COUNT header ("about 1,234 results"): the AND and OR match-set
    * cardinalities for a term set, from ONE pruned postings read — the
    * count every SERP renders before its first page. Exact counts (the
    * match set is enumerated, not sketched): at 100 TB the enumeration
    * is the same hit-set-sized pass the facet sidebar already pays,
    * and an approximate variant would ride the existing HLL sketches.
    */
  def hitCounts(s: SparkSession, indexDir: String, rawTerms: Seq[String]): DataFrame = {
    // the shared term rule dedupes: a duplicated term would make n_and
    // structurally 0 (the per-doc matched-row count can never reach a
    // duplicated size — postings are one row per (token, doc))
    val terms = Raw.terms(rawTerms)
    require(terms.nonEmpty, "hit counts need at least one term")
    postingsScan(s, indexDir, terms)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
      .agg(
        count(when(col("n_matched") === terms.size.toLong, lit(1))).cast("long").as("n_and"),
        count(lit(1)).cast("long").as("n_or")
      )
  }

  /** AUTO-CORRECTED search (the suggest-and-retry flow production
    * ships: zero hits → run the top did-you-mean correction instead,
    * with the term actually used riding every row): the exact probe is
    * request-sized (its terms' pruned buckets), the zero-hit test is a
    * LIMIT-1 probe, and the correction reuses the vocab's
    * dist-then-df ranking — no new machinery, just the decision seam.
    */
  def searchWithAutoCorrect(
      s: SparkSession,
      indexDir: String,
      term: String,
      maxDist: Int,
      k: Int
  ): DataFrame = {
    val exact = conjunctiveSearch(Index(s, indexDir), Seq(term), k)
    if (!exact.limit(1).isEmpty) exact.withColumn("term_used", lit(term))
    else {
      didYouMean(s, indexDir, term, maxDist, n = 1).collect().headOption match {
        case Some(r) =>
          val corrected = r.getString(1)
          conjunctiveSearch(Index(s, indexDir), Seq(corrected), k)
            .withColumn("term_used", lit(corrected))
        case None => emptyHits(s).withColumn("term_used", lit(term))
      }
    }
  }

  /** MULTI-TERM auto-correct — the generalization of
    * [[searchWithAutoCorrect]] a real search box needs (one typo'd
    * term must not kill the whole query): per-term aliveness against
    * the DICTIONARY (one vocab read pruned to the query's terms — a
    * term is dead iff it has no dictionary entry, which is exactly the
    * single-term route's zero-hit condition), only the DEAD terms
    * retry through did-you-mean's top-1 correction; a dead term with
    * no correction within maxDist stays as-is and contributes nothing
    * (the spell-checker posture — never silently drop a clause). The
    * final disjunctive page rides `terms_used` (the corrected query,
    * space-joined, input order) on every row. Cost: the aliveness
    * probe is request-sized, corrections run per dead term only, the
    * page is the standard pruned-bucket OR chain.
    */
  def searchWithAutoCorrectMulti(
      s: SparkSession,
      indexDir: String,
      terms: Seq[String],
      maxDist: Int,
      k: Int
  ): DataFrame = {
    require(terms.nonEmpty, "auto-correct needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate terms: ${terms.mkString(", ")}")
    val alive = vocabRows(s, indexDir, Raw)
      .filter(col("token").isin(terms: _*))
      .select("token")
      .collect()
      .map(_.getString(0))
      .toSet
    val corrected = terms.map { t =>
      if (alive(t)) t
      else
        didYouMean(s, indexDir, t, maxDist, n = 1)
          .collect()
          .headOption
          .map(_.getString(1))
          .getOrElse(t)
    }
    // two typos may correct onto the same token — the OR page scores
    // the distinct set; terms_used keeps the per-clause story
    disjunctiveSearch(Index(s, indexDir), corrected.distinct, k)
      .withColumn("terms_used", lit(corrected.mkString(" ")))
  }

  /** PER-TERM QUERY BOOSTS from the persisted index (`dup^1 window^3`
    * — Lucene's term boost, the knob every query DSL exposes): the
    * disjunctive tf·idf chain with each term's contribution multiplied
    * by its integer boost BEFORE the per-document sum, so boosts
    * reorder the page without touching the corpus model (df/idf stay
    * boost-free — a boost weights the query side, never the
    * statistics, matching every production engine). Plan shape is
    * [[disjunctiveSearch]]'s over an [[Index]]: terms' bucket dirs pruned
    * statically, df from the pruned rows, the boost map riding the
    * k-row broadcast model relation.
    */
  def boostedSearchFromIndex(
      s: SparkSession,
      indexDir: String,
      boosts: Seq[(String, Long)],
      k: Int
  ): DataFrame = {
    require(boosts.nonEmpty, "boosted search needs at least one term")
    require(
      boosts.map(_._1).distinct.size == boosts.size,
      s"duplicate boost terms: ${boosts.map(_._1).mkString(", ")}"
    )
    boosts.foreach { case (t, w) => require(w > 0, s"boost for '$t' must be positive, got $w") }
    import s.implicits._
    val p = postingsScan(s, indexDir, boosts.map(_._1))
    val dfModel =
      idfModel(p, readMeta(s, indexDir)._1, 1000000L).join(boosts.toDF("token", "boost"), "token")
    val scored = p
      .join(broadcast(dfModel), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("boost") * col("tf") * col("idf_micro")).cast("long").as("score_micro"))
    rankTop(scored, "score_micro", k)
  }

  /** [[bm25Search]] over an [[Index]] — a published name the serving
    * benchmark calls.
    */
  def bm25FromIndex(s: SparkSession, indexDir: String, terms: Seq[String], k: Int, a: Analyzer = Raw): DataFrame =
    bm25Search(Index(s, indexDir), terms, k, a)

  /** The serving benchmark's folded BM25 route, kept under its
    * published name: [[bm25Search]] over an [[Index]] with
    * [[Analyzer.Folded]].
    */
  def analyzedBm25FromIndex(s: SparkSession, indexDir: String, rawTerms: Seq[String], k: Int): DataFrame =
    bm25Search(Index(s, indexDir), rawTerms, k, Folded)

  /** KEYSET pagination — page N+1 without page N's work repeated as a
    * deepening top-(N+1)·k sort: the cursor is the LAST row the client
    * saw ((score_milli, doc_id) — the ranking's total order), the
    * candidate relation filters to strictly-after rows BEFORE the
    * top-k, and the page plans exactly like page one
    * (TakeOrderedAndProject over the pruned buckets — never a global
    * sort, never an OFFSET that forces materializing every earlier
    * page). Page-local ranks 1..k; the caller owns absolute numbering
    * (it knows how many pages it has walked). Over an as-of [[Index]]
    * this is POINT-IN-TIME pagination — the search_after + PIT pairing
    * every deep-pagination API ships (a cursor is only stable against a
    * FROZEN index; paging a live index skips or repeats rows as
    * maintenance lands between pages): page 2 of generation G is
    * exactly what page 2 was WHEN the index stood at G.
    */
  def bm25PageAfter(
      src: Source,
      terms: Seq[String],
      k: Int,
      afterScoreMilli: Long,
      afterDocId: Long,
      a: Analyzer = Raw
  ): DataFrame =
    rankTop(afterCursor(bm25Scored(src, terms, a), "score_milli", afterScoreMilli, afterDocId), "score_milli", k)

  /** Strictly-after rows of a (score, doc_id) keyset cursor. */
  private def afterCursor(scored: DataFrame, scoreCol: String, afterScore: Long, afterDocId: Long): DataFrame =
    scored.filter(
      col(scoreCol) < afterScore || (col(scoreCol) === afterScore && col("doc_id") > afterDocId)
    )

  /** ATTRIBUTE-FILTERED ranked search from persisted artifacts — the
    * SERP filter click ("only lang=de results"): BM25 scores come from
    * the postings index exactly as [[bm25Search]] (same model — N,
    * avgdl, df are corpus-level; a filter narrows the RESULT SET, not
    * the scoring model, matching every production engine's
    * filter-vs-query distinction), the filter resolves against the doc
    * store's META column (parquet column-pruned: only (doc_id,
    * facetCol, dbucket) leave the footer — the text column never
    * reads), and the page is cut AFTER the semi-join so rank k+1
    * enters when a filtered-out doc leaves. The join is deliberately
    * UNhinted: a selective facet (one source) is a broadcast-sized
    * build side, but a broad facet (lang=en) is corpus-scale at
    * 100 TB — AQE picks per run, the boolean-NOT posture. Gate:
    * search_facet_filtered shares a WHERE-restricted form of
    * search_bm25's oracle.
    */
  def bm25FromIndexFiltered(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      terms: Seq[String],
      facetCol: String,
      facetValue: String,
      k: Int
  ): DataFrame = {
    val allowed = docStoreLive(s, storeDir)
      .filter(col(facetCol) === facetValue)
      .select(col("doc_id"))
    rankTop(
      bm25Scored(Index(s, indexDir), terms).join(allowed, Seq("doc_id"), "left_semi"),
      "score_milli",
      k
    )
  }

  // ---- Fielded index + BM25F (title-vs-body boosts) --------------------

  /** Save a FIELDED search index — the layout under [[bm25fFromIndex]]:
    * postings carry a FIELD tag so title-vs-body boosts become
    * expressible (plain postings collapse the document to one bag of
    * words, making fielded scoring impossible — the round-14 gap).
    *
    *   - `fpostings/tbucket=N`: (token, doc_id, field, tf,
    *     dl_<field1>, dl_<field2>, …) — one row per (token, doc,
    *     field), with EVERY field's token length denormalized onto
    *     every row: BM25F's per-field normalizers need all lengths
    *     even for fields where the term is absent, and carrying them
    *     on the posting row keeps the probe zero-doc-keyed (the same
    *     denormalization argument as [[postingsWithDl]], × fields).
    *   - `fdoclen`: (doc_id, dl_<field>…) — the doc-keyed registry
    *     compaction re-derives fmeta from (and the exact-decrement
    *     source for deletes); never read by a probe.
    *   - `fmeta`: (field, n_docs, total_toks) — per-field scalars.
    *
    * Token-hash bucketing is identical to the unfielded index, so
    * probes prune to their terms' bucket dirs the same way. FULL
    * LIFECYCLE like the unfielded tiers: [[appendToFieldedSearchIndex]],
    * [[deleteFromFieldedIndex]] (tombstones), the streaming
    * [[applyFieldedIndexBatch]] (exactly-once, fmeta_inc ledger) and
    * [[compactFieldedIndex]] (purge + stats heal). The build is
    * [[Generations.build]] of [[fieldedIndex]].
    */
  def saveFieldedSearchIndex(
      docs: DataFrame,
      idCol: String,
      fieldCols: Seq[String],
      dir: String
  ): Unit = {
    require(fieldCols.nonEmpty, "fielded index needs at least one field")
    require(fieldCols.distinct.size == fieldCols.size, s"duplicate fields: $fieldCols")
    Generations.build(fieldedIndex(docs.sparkSession, dir, fieldCols, idCol), docs, dir)
  }

  /** (doc_id, __toks_<f>…, dl_<f>…) — the shared projection under the
    * fielded build, append and batch apply.
    */
  private def fieldedBase(docs: DataFrame, idCol: String, fieldCols: Seq[String]): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id") +:
          fieldCols.map(f => split(col(f), " ").as(s"__toks_$f")): _*
      )
      .select(
        col("doc_id") +:
          fieldCols.flatMap(f =>
            Seq(col(s"__toks_$f"), size(col(s"__toks_$f")).cast("long").as(s"dl_$f"))
          ): _*
      )

  /** One row per (token, doc, field) with EVERY field's length
    * denormalized on (see [[saveFieldedSearchIndex]]'s layout doc).
    */
  private def fieldedPostingRows(docs: DataFrame, idCol: String, fieldCols: Seq[String]): DataFrame = {
    val base = fieldedBase(docs, idCol, fieldCols)
    val dlCols = fieldCols.map(f => col(s"dl_$f"))
    fieldCols
      .map { f =>
        base
          .select(
            col("doc_id") +: explode(col(s"__toks_$f")).as("token") +: lit(f).as("field") +: dlCols: _*
          )
          .groupBy(Seq(col("token"), col("doc_id"), col("field")) ++ dlCols: _*)
          .agg(count(lit(1)).cast("long").as("tf"))
      }
      .reduce(_ unionByName _)
  }

  /** (doc_id, dl_<f>…) — the fielded doc-keyed registry rows. */
  private def fieldedDocLengths(docs: DataFrame, idCol: String, fieldCols: Seq[String]): DataFrame =
    fieldedBase(docs, idCol, fieldCols).select(col("doc_id") +: fieldCols.map(f => col(s"dl_$f")): _*)

  /** Per-field (n_docs, total_toks) over doc-keyed rows carrying the
    * dl_<f> columns, `n` counting the docs — ONE fused aggregate.
    */
  private def fieldScalars(rows: DataFrame, fieldCols: Seq[String], n: Column): Generations.Scalars = {
    val r = rows.agg(n, fieldCols.map(f => coalesce(sum(col(s"dl_$f")), lit(0L)).cast("long")): _*).head()
    fieldCols.zipWithIndex.map { case (f, i) => f -> Seq(r.getLong(0), r.getLong(i + 1)) }
  }

  private def docCount: Column = countDistinct(col("doc_id")).cast("long")

  private val fmetaSchema =
    "message fmeta { optional binary field (UTF8); optional int64 n_docs; optional int64 total_toks; }"

  private def writeFmeta(s: SparkSession, dir: String, rows: Generations.Scalars): Unit =
    graft.core.ScalarParquet.overwriteDir(
      s.sessionState.newHadoopConf(),
      fsFor(s, dir),
      new org.apache.hadoop.fs.Path(s"$dir/fmeta"),
      fmetaSchema,
      rows.map { case (f, v) => f +: v }
    )

  private def readFmeta(s: SparkSession, dir: String): Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
    graft.core.ScalarParquet.foreachRow(
      s.sessionState.newHadoopConf(),
      fsFor(s, dir),
      new org.apache.hadoop.fs.Path(s"$dir/fmeta")
    )(g => m(g.getString("field", 0)) = (g.getLong("n_docs", 0), g.getLong("total_toks", 0)))
    m.toMap
  }

  /** The field set already indexed at `dir`, or a loud error when the
    * maintainer's fields don't match — updating fpostings with a
    * DIFFERENT field set would silently corrupt every per-field
    * normalizer (missing dl_<f> columns, half-counted scalars).
    */
  private def requireFieldsMatch(
      s: SparkSession,
      dir: String,
      fieldCols: Seq[String],
      op: String
  ): Unit = {
    val have = readFmeta(s, dir).keySet
    require(
      have == fieldCols.toSet,
      s"$op onto $dir: field set ${fieldCols.sorted.mkString(",")} does not match the " +
        s"index's ${have.toSeq.sorted.mkString(",")} — rebuild or use the index's fields"
    )
  }

  /** The fielded twin of `meta_inc`: one (field, n_docs, total_toks)
    * row set per applied increment; fmeta is the per-field sum.
    */
  private val fieldedLedger = Ledger("fmeta_inc", fmetaSchema, key = Some("field"))

  /** The fielded index as a [[Generations]] kind: the postings index's
    * protocol over fpostings/fdoclen with the per-field stats. Every
    * batch is persisted — both relation writes and the scalar
    * aggregate read it.
    */
  private def fieldedIndex(s: SparkSession, dir: String, fieldCols: Seq[String], idCol: String = "doc_id"): Kind =
    Kind(
      keyCol = "doc_id",
      relations = Seq(
        Relation(
          "fpostings",
          Some("tbucket"),
          b => fieldedPostingRows(b, idCol, fieldCols).withColumn("tbucket", tokenBucketCol)
        ),
        Relation("fdoclen", None, b => fieldedDocLengths(b, idCol, fieldCols))
      ),
      stats = Some(
        Stats(
          fieldedLedger,
          meta = "fmeta",
          read = () => readFmeta(s, dir).toSeq.sorted.map { case (f, (n, t)) => f -> Seq(n, t) },
          write = writeFmeta(s, dir, _),
          batch = b => fieldScalars(fieldedBase(b, idCol, fieldCols), fieldCols, docCount),
          deleted = ids =>
            fieldScalars(
              liveRows(s, dir, s.read.parquet(s"$dir/fdoclen")).join(broadcast(ids), "doc_id"),
              fieldCols,
              count(lit(1)).cast("long")
            ),
          rederive = () => fieldScalars(s.read.parquet(s"$dir/fdoclen"), fieldCols, docCount)
        )
      ),
      persist = _ => true
    )

  /** [[fieldedIndex]] over the fields the index at `dir` was built with. */
  private def fieldedIndexAt(s: SparkSession, dir: String): Kind =
    fieldedIndex(s, dir, readFmeta(s, dir).keys.toSeq.sorted)

  /** APPEND new documents to a fielded index through
    * [[Generations.append]] — fpostings/fdoclen grow by the increment,
    * fmeta's per-field scalars add the increment's exactly (same
    * read-then-overwrite contract as the unfielded
    * [[appendToSearchIndex]]), and onto live tombstones it refuses.
    */
  def appendToFieldedSearchIndex(
      newDocs: DataFrame,
      idCol: String,
      fieldCols: Seq[String],
      dir: String
  ): Unit = {
    val s = newDocs.sparkSession
    requireFieldsMatch(s, dir, fieldCols, "appendToFieldedSearchIndex")
    Generations.append(fieldedIndex(s, dir, fieldCols, idCol), newDocs, dir, "appendToFieldedSearchIndex")
  }

  /** DELETE documents from the fielded index — the
    * [[Generations.delete]] tombstones, per-field fmeta decremented
    * EXACTLY from the ids' currently-live fdoclen rows (double-deletes
    * move nothing), mirroring [[deleteFromSearchIndex]]. Purge at
    * [[compactFieldedIndex]].
    */
  def deleteFromFieldedIndex(s: SparkSession, dir: String, ids: DataFrame): Unit =
    Generations.delete(fieldedIndexAt(s, dir), s, dir, ids)

  /** Apply ONE micro-batch of fielded documents idempotently — the
    * unit [[graft.streaming.StreamingIngest.fieldedIndexStream]] runs
    * inside foreachBatch, through [[Generations.apply]] (the fmeta_inc
    * ledger in place of meta_inc). Upsert batches tombstone their own
    * ids at the batch's generation; the old versions' fmeta
    * contributions stay counted until compaction (the documented
    * Lucene stale-stats window — dead rows never score).
    */
  private[graft] def applyFieldedIndexBatch(
      batch: DataFrame,
      idCol: String,
      fieldCols: Seq[String],
      dir: String,
      batchId: Long,
      upsert: Boolean = false
  ): Unit = {
    val s = batch.sparkSession
    if (fsFor(s, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/fmeta")))
      requireFieldsMatch(s, dir, fieldCols, "applyFieldedIndexBatch")
    Generations.apply(fieldedIndex(s, dir, fieldCols, idCol), batch, idCol, dir, batchId, upsert)
  }

  /** Compact the fielded index: fpostings/fdoclen rewritten to one
    * file per dir (tombstones present → the rewrite IS the physical
    * purge), tombstones consumed, fmeta re-derived EXACTLY from the
    * purged fdoclen (healing the upsert stale-stats window), and the
    * fielded ledger folded back to one seed row set.
    */
  def compactFieldedIndex(spark: SparkSession, dir: String): Unit =
    Generations.compact(fieldedIndexAt(spark, dir), spark, dir)

  /** BM25F — fielded ranked retrieval with per-field boosts and
    * per-field length normalization (Zaragoza et al.'s field-weighted
    * BM25, the tf-LEVEL combination — not a per-field score sum):
    *
    *   tf̃(t,d) = Σ_f w_f · tf_{t,f} / B_f,   B_f = (1−b) + b·dl_f/avgdl_f
    *   score(d) = Σ_t idf(t) · (k1+1) · tf̃ / (k1 + tf̃)
    *
    * with the repo's BM25 constants (k1 = 6/5, b = 3/4) and ONE
    * integer rational form: with a_f = avgdl_f, B_f = (a_f + 3·dl_f)
    * / (4·a_f), so tf̃ = X/D where
    *
    *   D = Π_f (a_f + 3·dl_f)
    *   X = 4 · Σ_f w_f · tf_{t,f} · a_f · Π_{g≠f}(a_g + 3·dl_g)
    *
    * and score_t = (11 · idf_milli · X) div (5·X + 6·D) — exact BIGINT
    * arithmetic end to end (DuckDB replays it), and for ONE field with
    * w = 1 it reduces ALGEBRAICALLY to [[bm25FromIndex]]'s formula
    * (44·idf·tf·a div (20·a·tf + 6·a + 18·dl)) — spec-pinned. idf is
    * document-level (df = docs where the term occurs in ANY indexed
    * field), the BM25F convention. The probe prunes to its terms'
    * bucket dirs and reads nothing doc-keyed (all field lengths ride
    * the posting rows); candidates collapse to one row per (token,
    * doc) with the per-field tfs pivoted by conditional aggregation.
    * Products stay far inside BIGINT for realistic field counts
    * (2–3 fields × 10⁴-token docs ≈ 10¹⁶ < 2⁶³).
    */
  def bm25fFromIndex(
      s: SparkSession,
      dir: String,
      terms: Seq[String],
      boosts: Seq[(String, Long)],
      k: Int
  ): DataFrame = {
    require(terms.nonEmpty, "bm25f needs at least one term")
    require(boosts.nonEmpty, "bm25f needs at least one boosted field")
    require(boosts.map(_._1).distinct.size == boosts.size, s"duplicate boost fields: $boosts")
    val meta = readFmeta(s, dir)
    boosts.foreach { case (f, w) =>
      require(
        meta.contains(f),
        s"bm25f: field '$f' not in the index at $dir (fields: ${meta.keys.toSeq.sorted.mkString(", ")})"
      )
      require(w > 0, s"bm25f: boost for field '$f' must be positive, got $w")
    }
    val n = meta.values.head._1
    require(n > 0, s"bm25f: index at $dir is empty (n_docs = 0)")
    val fields = boosts.map(_._1)
    val w = boosts.toMap
    val avg: Map[String, Long] = fields.map(f => f -> meta(f)._2 / n).toMap
    avg.foreach { case (f, a) =>
      require(a > 0, s"bm25f: field '$f' has avgdl = 0 (all-empty field)")
    }
    // tombstone gating directly over the pruned scan (liveRows'
    // input_file_name contract) — a deleted doc's rows never score
    val scan = pruned(s, dir, s.read.parquet(s"$dir/fpostings"), terms)
    val aggCols =
      fields.map(f =>
        coalesce(sum(when(col("field") === f, col("tf"))), lit(0L)).cast("long").as(s"tf_$f")
      ) ++ fields.map(f => max(col(s"dl_$f")).cast("long").as(s"len_$f"))
    val pivoted = scan.groupBy(col("token"), col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val dfModel = pivoted
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"))
      .withColumn("idf_milli", idfCol(lit(n + 1), 1000L))
      .select(col("token"), col("idf_milli"))
    val dExpr = fields.map(f => s"(${avg(f)} + 3 * len_$f)").mkString(" * ")
    val xSum = fields
      .map { f =>
        val others = fields.filterNot(_ == f).map(g => s"(${avg(g)} + 3 * len_$g)")
        (s"${w(f)} * tf_$f * ${avg(f)}" +: others).mkString(" * ")
      }
      .mkString(" + ")
    val scored = pivoted
      .join(broadcast(dfModel), "token")
      .withColumn(
        "contrib",
        expr(s"(11 * idf_milli * 4 * ($xSum)) div (5 * 4 * ($xSum) + 6 * ($dExpr))")
      )
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).cast("long").as("score_milli"))
    rankTop(scored, "score_milli", k)
  }

  /** FIELD-SCOPED term search (`title:hash` — the query-DSL field
    * restriction): terms must occur in the NAMED field, scored with
    * the in-field tf·idf (df = docs where the term occurs in THAT
    * field, N = the fielded index's doc count) — a body-only mention
    * neither matches nor scores, which is the whole point of the
    * scope. Served from the fielded index's fpostings with the same
    * bucket pruning as every probe; OR gate across terms.
    */
  def fieldedTermSearch(
      s: SparkSession,
      dir: String,
      field: String,
      terms: Seq[String],
      k: Int
  ): DataFrame = {
    require(terms.nonEmpty, "field-scoped search needs at least one term")
    val meta = readFmeta(s, dir)
    require(
      meta.contains(field),
      s"field '$field' not in the index at $dir (fields: ${meta.keys.toSeq.sorted.mkString(", ")})"
    )
    val p = pruned(s, dir, s.read.parquet(s"$dir/fpostings").filter(col("field") === field), terms)
      .select(col("token"), col("doc_id"), col("tf"))
    val scored = p
      .join(broadcast(idfModel(p, meta(field)._1, 1000000L)), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("idf_micro")).cast("long").as("score_micro"))
    rankTop(scored, "score_micro", k)
  }

  /** N-TERM phrase search — real phrase queries are 3–5 tokens, not
    * 2. The phrase's (distinct) terms prune the source's positions (an
    * index reads their bucket dirs statically); a match at (doc, start)
    * means term i sits at start + i for every offset, so each term's
    * position relation maps to candidate starts (pos − i) and the fold
    * is k−1 doc-keyed (doc_id, start) EQUI-joins — no per-document
    * window, and never a positions self-join beyond the query's own
    * terms. The fold is anchored at the RAREST term (a k-row aggregate
    * over the pruned relation picks the order), so every intermediate
    * is bounded by the rarest term's occurrence count — the classic
    * smallest-posting-first phrase plan. A repeated term ("buffalo
    * buffalo") joins its own relation once per offset: multiset
    * semantics. Under [[Analyzer.Folded]] positions number the
    * FILTERED folded stream, so adjacency means "adjacent after
    * punctuation-token drop".
    */
  def phraseSearch(src: Source, rawTerms: Seq[String], a: Analyzer = Raw): DataFrame = {
    val terms = phraseTerms(rawTerms, a)
    val pos = src.positions(terms.distinct, a, phrase = terms)
    phraseFoldOverPositions(pos, terms, src.tokenCounts(pos))
  }

  /** [[phraseSearch]] over an [[Index]] — a published name the serving
    * benchmark calls.
    */
  def phraseFromIndex(s: SparkSession, indexDir: String, rawTerms: Seq[String], a: Analyzer = Raw): DataFrame =
    phraseSearch(Index(s, indexDir), rawTerms, a)

  /** The serving benchmark's folded phrase route, kept under its
    * published name: [[phraseSearch]] over an [[Index]] with
    * [[Analyzer.Folded]].
    */
  def analyzedPhraseFromIndex(s: SparkSession, indexDir: String, rawTerms: Seq[String]): DataFrame =
    phraseSearch(Index(s, indexDir), rawTerms, Folded)

  /** A phrase's terms under the analyzer, IN ORDER with repeats kept —
    * every term must survive the analyzer (a pure-punct phrase term
    * has no position in the filtered stream, so the phrase is
    * ill-formed rather than silently shorter).
    */
  private def phraseTerms(rawTerms: Seq[String], a: Analyzer): Seq[String] = {
    val terms = rawTerms.map(a.term)
    require(terms.size >= 2, "phrase search needs at least two terms")
    require(terms.forall(_.nonEmpty), "every phrase term must survive the analyzer")
    terms
  }

  /** PROXIMITY search (the unordered sloppy pair — "hash NEAR/3
    * join"): documents where the two terms occur within `slop` token
    * positions of each other, n_pairs counting the qualifying
    * position pairs (the multiset convention the phrase routes use).
    */
  def proximitySearch(src: Source, first: String, second: String, slop: Int, a: Analyzer = Raw): DataFrame =
    positionPairs(src, "proximity", first, second, slop, a)(abs(col("p1") - col("p2")) <= slop.toLong)

  /** ORDERED sloppy phrase (Lucene's sloppy PhraseQuery restricted to
    * in-order matches — `"hash join"~3` where "hash" must PRECEDE
    * "join"): qualifying pairs have 1 ≤ pos(second) − pos(first) ≤
    * slop, so slop = 1 is exact adjacency and the result sits strictly
    * between the exact phrase (⊆) and the unordered proximity (⊇) —
    * three gates on one fixture pair pin the lattice. Under
    * [[Analyzer.Folded]] the slop distance counts folded tokens
    * (`"Hash Join"~3` matches `HASH ... JOIN.`).
    */
  def orderedSlopSearch(src: Source, first: String, second: String, slop: Int, a: Analyzer = Raw): DataFrame =
    positionPairs(src, "ordered slop", first, second, slop, a)(
      col("p2") - col("p1") >= 1L && col("p2") - col("p1") <= slop.toLong
    )

  /** The position-pair join under the proximity and ordered-slop
    * routes: per document, every (p1, p2) position pair of the two
    * terms that passes `within`, counted. The join is bounded by the
    * terms' occurrence counts, never a corpus self-join; position
    * DIFFERENCES are offset-convention-free, so the 0-based routes and
    * the 1-based oracle agree by construction. Both terms must survive
    * the analyzer.
    */
  private def positionPairs(
      src: Source,
      route: String,
      rawFirst: String,
      rawSecond: String,
      slop: Int,
      a: Analyzer
  )(within: Column): DataFrame = {
    val Seq(first, second) = phraseTerms(Seq(rawFirst, rawSecond), a)
    require(first != second, s"$route needs two distinct terms")
    require(slop >= 1, s"$route needs slop >= 1")
    val pos = src.positions(Seq(first, second), a)
    val p1 = pos.filter(col("token") === first).select(col("doc_id"), col("pos").as("p1"))
    val p2 = pos.filter(col("token") === second).select(col("doc_id"), col("pos").as("p2"))
    p1.join(p2, "doc_id")
      .filter(within)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
  }

  /** The rarest-first equi-join fold under [[phraseSearch]]: `pos` is
    * the source's QUERY-PRUNED positional relation, `counts` its
    * per-term occurrence counts (k rows, probe-sized) — they order the
    * fold so every intermediate is bounded by the rarest term's
    * occurrence count. A corpus has no cheap probe; its positions are
    * pruned to the documents holding every term, which already bounds
    * the fold, so it keeps the phrase order. Each fold arm re-reads the
    * PRUNED relation (bucket-sized I/O on an index, and keeping the
    * scans in the plan keeps the PartitionFilters prune verifiable).
    */
  private def phraseFoldOverPositions(pos: DataFrame, terms: Seq[String], counts: Map[String, Long]): DataFrame = {
    val ordered = terms.zipWithIndex.sortBy { case (t, _) => counts.getOrElse(t, 0L) }
    val (t0, i0) = ordered.head
    val anchor = pos
      .filter(col("token") === t0)
      .select(col("doc_id"), (col("pos") - i0).as("start"))
    ordered.tail
      .foldLeft(anchor) { case (acc, (t, i)) =>
        val arm = pos
          .filter(col("token") === t)
          .select(col("doc_id").as("__d"), (col("pos") - i).as("__s"))
        acc
          .join(arm, col("doc_id") === col("__d") && col("start") === col("__s"))
          .select(col("doc_id"), col("start"))
      }
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
  }

  /** Index MAINTENANCE twin of Dedup.appendToMinhashIndex: append an
    * increment's postings, positions and doc lengths so later probes
    * see it as part of the corpus. New docs only add rows (their ids
    * are new, so no posting collides); the scorer's N and total-token
    * scalars in `dir/meta` grow by the increment's.
    *
    * Single-writer contract: the meta update is a read-then-overwrite
    * decoupled from the relation appends — the index dir assumes ONE
    * maintainer at a time (the same contract as every persisted index
    * here; a stream's foreachBatch satisfies it by construction). A
    * crash between the appends and the meta write leaves meta behind
    * the relations; [[compactSearchIndex]] REPAIRS it by recomputing
    * both scalars from the doclen relation, so the maintenance cadence
    * that bounds file counts also heals the one non-atomic window.
    * Appends accrete one file per batch per bucket dir — bound that
    * with [[compactSearchIndex]]. Each tier with a vocab gets the new
    * docs' term stats as one types-of-the-increment-scale file that
    * readers fold base ⊕ increments (new doc ids only, so the group-sum
    * is exact); a pre-vocab index skips it and compaction backfills.
    * The append is [[Generations.append]] of [[postingsIndex]], which
    * refuses onto live tombstones and folds a stream's ledger.
    */
  def appendToSearchIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      analyzed: Boolean = false
  ): Unit = {
    val s = newDocs.sparkSession
    requireFoldedTierMaintained(s, dir, analyzed, "appendToSearchIndex")
    require(
      !analyzed || hasFoldedTier(s, dir),
      s"appendToSearchIndex(analyzed = true) onto the raw index at $dir would give " +
        s"${Folded.postings} the appended documents only — rebuild it with analyzed = true"
    )
    Generations.append(postingsIndex(s, dir, analyzed, idCol, textCol), newDocs, dir, "appendToSearchIndex")
  }

  // ---- exactly-once batch apply (the streaming maintainer's path) ----

  private def fsFor(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(s.sessionState.newHadoopConf())

  /** Maintaining an index that carries the folded tier with
    * analyzed = false would update the raw relations and meta but
    * silently leave the folded tier STALE — folded probes would then
    * serve old results with no error. Every maintenance entry point
    * fails loudly instead: if the folded tier exists on disk, the
    * maintainer must say analyzed = true.
    */
  private def requireFoldedTierMaintained(
      s: SparkSession,
      dir: String,
      analyzed: Boolean,
      op: String
  ): Unit =
    require(
      analyzed || !hasFoldedTier(s, dir),
      s"$op(analyzed = false) onto the ANALYZED index at $dir would leave " +
        s"${Folded.postings}/${Folded.positions}/${Folded.meta} stale (analyzed probes would " +
        "silently serve old results) — pass analyzed = true"
    )

  /** The postings index's (n_docs, total_toks, total_atoks) ledger
    * ([[Generations.Ledger]]); meta and ameta are its sums.
    */
  private val searchLedger = Ledger(
    "meta_inc",
    "message ledger { optional int64 n_docs; optional int64 total_toks; optional int64 total_atoks; }"
  )

  // ---- term dictionary (the vocab relation) ---------------------------
  //
  // `dir/vocab` is the TYPES-scale term dictionary: one row per
  // distinct raw token with its document frequency and total term
  // frequency, range-partitioned and SORTED by token so a prefix probe
  // prunes to the matching token range via parquet min/max stats (the
  // StringStartsWith filter pushes to the scan — spec-pinned). It
  // exists because every dictionary-shaped serving feature
  // (autocomplete, prefix and fuzzy matching, did-you-mean) needs "all
  // terms matching a predicate": asking the postings relation would
  // scan corpus-token-scale rows across all bucket dirs, while the
  // vocab is orders smaller (Heaps' law) and range-pruned.
  //
  // Lifecycle and staleness contract (Lucene's): save and compaction
  // (re)derive the vocab EXACTLY from the live postings on disk;
  // appends and streaming batch applies land types-of-the-increment-
  // scale files under `dir/vocab_inc` (deterministic gbatch-<gen>
  // names on the streaming path, so a replayed batch overwrites its
  // own increment), and readers fold base ⊕ increments with a
  // group-sum — the prefix filter pushes through the fold to both
  // scans because token is the grouping key. Tombstoned deletes do
  // NOT decrement the vocab: dead docs keep counting until the next
  // compaction (exactly Lucene's deleted-docs-in-term-stats window),
  // so under live tombstones the vocab is an UPPER BOUND and serving
  // routes treat it as CANDIDATE GENERATION only — scoring df always
  // recomputes from live postings, and a fully-deleted term yields no
  // live postings and drops out downstream. Compaction also BACKFILLS
  // the vocab onto indexes persisted before this relation existed.

  private val vocabSchema = new org.apache.spark.sql.types.StructType()
    .add("token", "string")
    .add("df", "long")
    .add("tf_total", "long")

  private def vocabDir(dir: String, a: Analyzer = Raw) = s"$dir/${a.vocab}"
  private def vocabIncDir(dir: String, a: Analyzer = Raw) = s"$dir/${a.vocab}_inc"

  /** Range partitions of the base vocab. Sized for the fixture here;
    * at 100 TB this scales with type count (still a metadata-relative
    * write: the vocab rewrite rides a build/compaction that already
    * rewrote corpus-token-scale relations).
    */
  private val vocabParts = 8

  /** (token, df, tf_total) over a postings-shaped relation — df is the
    * per-token posting count (postings are distinct per (token, doc)),
    * tf_total the summed term frequency.
    */
  private def vocabFromPostingRows(p: DataFrame): DataFrame =
    p.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"), sum(col("tf")).cast("long").as("tf_total"))

  /** (Re)derive `dir/vocab` from the LIVE postings on disk — the save/
    * compaction form (exact), staged behind the crash-safe marker-
    * commit swap; increments are consumed (the base now counts them).
    */
  private def writeVocabFromPostings(s: SparkSession, dir: String, a: Analyzer = Raw): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsFor(s, dir)
    // repair first: a prior crash between the swap and the delete
    // below left increments the then-new base already counted —
    // excluded by name since, physically dropped now
    deleteConsumedIncrements(s, dir, a)
    val incNames =
      Option(fs.globStatus(new Path(s"${vocabIncDir(dir, a)}/*.parquet")))
        .getOrElse(Array.empty)
        .map(_.getPath.getName)
        .sorted
    graft.core.Compaction.replaceWith(s, vocabDir(dir, a)) { staged =>
      vocabFromPostingRows(
        liveRows(s, dir, s.read.schema(postingsSchema(a)).parquet(s"$dir/${a.postings}"))
          .select(col("token"), col("doc_id"), col("tf"))
      )
        .repartitionByRange(vocabParts, col("token"))
        .sortWithinPartitions("token")
        .write
        .mode("overwrite")
        .parquet(staged)
      // increment consumption rides the SAME marker-committed swap:
      // the new base counts every increment on disk (it derives from
      // the live postings those increments shadow), so their NAMES
      // land inside the staged generation — a crash between the swap
      // and the physical delete leaves them excluded by name
      // ([[vocabRows]]), never double-counted, and the next entry here
      // (or [[deleteConsumedIncrements]]) finishes the delete
      if (incNames.nonEmpty)
        graft.core.Compaction.writeTextFile(
          s,
          s"$staged/$consumedIncMarker",
          incNames.mkString("\n") + "\n"
        )
    }
    deleteConsumedIncrements(s, dir, a)
    // only unconsumed (post-swap) increments may remain; drop the dir
    // when none did so the no-increment fast path stays a dir probe (a
    // plain append's commit marker does not count)
    if (Option(fs.globStatus(new Path(s"${vocabIncDir(dir, a)}/*.parquet"))).forall(_.isEmpty))
      fs.delete(new Path(vocabIncDir(dir, a)), true)
  }

  private val consumedIncMarker = "_consumed_inc"

  /** Increment file names the CURRENT base vocab already counts — the
    * list its committed swap carried ([[writeVocabFromPostings]]).
    * Empty when no marker (no crash window pending).
    */
  private def consumedIncNames(s: SparkSession, dir: String, a: Analyzer): Set[String] =
    graft.core.Compaction
      .readTextFile(s, s"${vocabDir(dir, a)}/$consumedIncMarker")
      .map(_.split("\n").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Physically drop consumed increments (crash repair; a replayed
    * batch may legitimately have re-written one — its counts are in
    * the base via the relation files the replay also rewrote, so the
    * drop stays correct).
    */
  private def deleteConsumedIncrements(s: SparkSession, dir: String, a: Analyzer): Unit = {
    val fs = fsFor(s, dir)
    consumedIncNames(s, dir, a).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(vocabIncDir(dir, a), n), false)
    }
  }

  /** The folded vocab relation: base ⊕ increments group-summed (token
    * is the grouping key, so callers' token predicates push through to
    * both scans). Fails loudly on an index persisted before the vocab
    * existed — compaction backfills it.
    */
  private def vocabRows(s: SparkSession, dir: String, a: Analyzer = Raw): DataFrame = {
    val fs = fsFor(s, dir)
    require(
      fs.exists(new org.apache.hadoop.fs.Path(vocabDir(dir, a))),
      s"search index at $dir has no ${a.vocab} relation " +
        "(pre-vocab layout) — run compactSearchIndex to backfill it"
    )
    val base = s.read.schema(vocabSchema).parquet(vocabDir(dir, a))
    if (!fs.exists(new org.apache.hadoop.fs.Path(vocabIncDir(dir, a)))) base
    else {
      // skip increments the base's committed swap already consumed —
      // present on disk only inside the crash window between that swap
      // and their physical delete (or re-written by a batch replay);
      // reading them would double-count df/tf_total
      val consumed = consumedIncNames(s, dir, a)
      val incFiles =
        Option(
          fs.globStatus(new org.apache.hadoop.fs.Path(s"${vocabIncDir(dir, a)}/*.parquet"))
        )
          .getOrElse(Array.empty)
          .map(_.getPath)
          .filter(p => !consumed.contains(p.getName))
      if (incFiles.isEmpty) base
      else
        base
          .unionAll(s.read.schema(vocabSchema).parquet(incFiles.map(_.toString).sorted: _*))
          .groupBy(col("token"))
          .agg(sum(col("df")).cast("long").as("df"), sum(col("tf_total")).cast("long").as("tf_total"))
    }
  }

  // ---- dictionary-served routes: autocomplete, prefix, fuzzy ----------

  /** Empty hit page with the term-search result schema — what an
    * expansion that matched no dictionary term serves.
    */
  private def emptyHits(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Long)].toDF("rank", "doc_id", "score_micro")
  }

  /** Per-term dictionary stats (the termsEnum introspection a
    * relevance engineer reads before tuning a query): (token, df,
    * tf_total) for the probe terms from the folded vocab — absent
    * terms yield no row; the isin predicate pushes to the range-
    * sorted scan.
    */
  def termStats(
      s: SparkSession,
      indexDir: String,
      terms: Seq[String],
      a: Analyzer = Raw
  ): DataFrame = {
    require(terms.nonEmpty, "termStats needs at least one term")
    vocabRows(s, indexDir, a)
      .filter(col("token").isin(a.terms(terms): _*))
      .select(col("token"), col("df"), col("tf_total"))
  }

  /** AUTOCOMPLETE: the top-n completions of a prefix ranked by
    * document frequency (df desc, token asc — a total order), served
    * entirely from the vocab relation: the startsWith filter pushes to
    * the range-sorted parquet scan (spec-pinned), so the probe reads
    * the prefix's token range and never touches the postings. Under
    * live tombstones df is as-of-the-last-compaction (the documented
    * Lucene window).
    */
  def autocomplete(
      s: SparkSession,
      indexDir: String,
      rawPrefix: String,
      n: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    // the user's raw prefix folds through the same analyzer the
    // dictionary was built with (case/punct-insensitive completion on
    // the folded tier — what a search box actually does)
    val prefix = a.term(rawPrefix)
    require(prefix.nonEmpty, "autocomplete needs a non-empty prefix")
    import org.apache.spark.sql.expressions.Window
    vocabRows(s, indexDir, a)
      .filter(col("token").startsWith(prefix))
      .orderBy(col("df").desc, col("token").asc)
      .limit(n)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("df").desc, col("token").asc)).cast("bigint")
      )
      .select(col("rank"), col("token"), col("df"))
  }

  /** PREFIX search: the source's dictionary expands the prefix to its
    * top-maxExpand terms (df desc, token asc — the capped expansion
    * every production engine applies to multi-term rewrites), then the
    * standard disjunctive scoring runs over those terms' postings
    * ([[Source.expanded]]). A document holding a token with this
    * prefix necessarily contains the prefix as a SUBSTRING, so a corpus
    * reads one contains(prefix)-pruned pass for both the dictionary and
    * the scoring, and scores with the dictionary's exact df in-plan. An
    * index reads its types-scale vocab, collects the request-sized
    * expansion for its bucket prune and recounts df from the postings —
    * its vocab only SELECTS terms, so a tombstone window can reorder a
    * stale expansion but never mis-score a term.
    */
  def prefixSearch(src: Source, rawPrefix: String, maxExpand: Int, k: Int, a: Analyzer = Raw): DataFrame = {
    val prefix = a.term(rawPrefix)
    require(prefix.nonEmpty, "prefix search needs a non-empty prefix")
    val expansion = src
      .dictionary(a, prefix)
      .filter(col("token").startsWith(prefix))
      .orderBy(col("df").desc, col("token").asc)
      .limit(maxExpand)
    src
      .expanded(expansion, a, prefix)
      .fold(emptyHits(src.session)) { case (p, dfs) => scoreTerms(src, p, dfs, col("n_matched") >= 1L, None, k) }
  }

  /** The disjunctive serve over a dictionary expansion (empty
    * expansion → empty page). Dictionary tokens are analyzer
    * FIXPOINTS, so the route's term normalisation is the identity on
    * them — one scoring path per analyzer.
    */
  private def expandedSearch(src: Source, terms: Seq[String], k: Int, a: Analyzer): DataFrame =
    if (terms.isEmpty) emptyHits(src.session)
    else disjunctiveSearch(src, terms, k, a)

  /** WILDCARD search (Lucene's WildcardQuery under the capped
    * rewrite): the pattern uses `*` (any run) and `?` (one char),
    * translated to a SQL LIKE over the types-scale vocab — a leading
    * wildcard is merely a full dictionary pass here, not the
    * index-killer it is for a term-ordered trie. Expansion ranked
    * (df desc, token asc) and capped, then the standard pruned-bucket
    * disjunctive scoring; literal `%`/`_` in the pattern are escaped
    * so they match themselves.
    */
  def wildcardSearchFromIndex(
      s: SparkSession,
      indexDir: String,
      pattern: String,
      maxExpand: Int,
      k: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    require(pattern.nonEmpty, "wildcard search needs a non-empty pattern")
    expandedSearch(Index(s, indexDir), wildcardExpansion(s, indexDir, pattern, maxExpand, a), k, a)
  }

  /** REGEX term search (Lucene's RegexpQuery under the same capped
    * rewrite as the wildcard): the pattern matches against the
    * types-scale vocab (one dictionary pass — a regex has no prefix to
    * seek, the linear-scan baseline every engine falls back to),
    * expansion ranked (df desc, token asc) and capped, then the
    * standard pruned-bucket disjunctive scoring. WHOLE-TERM match,
    * RegexpQuery's implicit anchoring: the pattern is wrapped as
    * `^(?:p)$` so `s.a` matches three-char tokens only, never any
    * token containing that shape. The fixture pattern sticks to the
    * regex subset both engines implement identically (anchors, `.`,
    * classes, `*`) — an oracle-shared gate can't use engine-specific
    * syntax.
    */
  def regexSearchFromIndex(
      s: SparkSession,
      indexDir: String,
      pattern: String,
      maxExpand: Int,
      k: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    require(pattern.nonEmpty, "regex search needs a non-empty pattern")
    val terms = vocabRows(s, indexDir, a)
      .filter(col("token").rlike("^(?:" + a.pattern(pattern, regex = true) + ")$"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(maxExpand)
      .select("token")
      .collect()
      .map(_.getString(0))
      .toSeq
    expandedSearch(Index(s, indexDir), terms, k, a)
  }

  /** Analyzer case fold for a REGEX pattern: lowercase LITERAL
    * characters only, leaving anything a backslash escapes untouched —
    * naive toLowerCase corrupts escape classes (\W → \w, \S → \s,
    * \D → \d), silently INVERTING their meaning.
    */
  private[ops] def lowerRegexLiterals(p: String): String = {
    val out = new StringBuilder(p.length)
    var i = 0
    while (i < p.length) {
      if (p.charAt(i) == '\\' && i + 1 < p.length) {
        out.append('\\').append(p.charAt(i + 1)); i += 2
      } else { out.append(p.charAt(i).toLower); i += 1 }
    }
    out.toString
  }

  /** The capped wildcard expansion over the types-scale vocab (the
    * rewrite [[wildcardSearchFromIndex]] and the query-string front
    * door share): dictionary terms LIKE-matching the glob, ranked
    * (df desc, token asc), top maxExpand. Analyzed mode applies the
    * analyzer's CASE fold to the pattern (edge-punct stripping is
    * meaningless across wildcard metachars — an analyzed dictionary
    * has no edge punctuation to match anyway).
    */
  private def wildcardExpansion(
      s: SparkSession,
      indexDir: String,
      pattern: String,
      maxExpand: Int,
      a: Analyzer
  ): Seq[String] =
    vocabRows(s, indexDir, a)
      .filter(col("token").like(likePattern(a.pattern(pattern, regex = false))))
      .orderBy(col("df").desc, col("token").asc)
      .limit(maxExpand)
      .select("token")
      .collect()
      .map(_.getString(0))
      .toSeq

  /** Glob-style pattern → LIKE pattern: literal %/_/\ escaped (both
    * engines read backslash as the escape here), * → %, ? → _.
    */
  private[ops] def likePattern(p: String): String =
    p.flatMap {
      case '\\' => "\\\\"
      case '%'  => "\\%"
      case '_'  => "\\_"
      case '*'  => "%"
      case '?'  => "_"
      case c    => c.toString
    }

  /** Dictionary terms within edit distance maxDist of `term`, ranked
    * (dist asc, df desc, token asc), top maxExpand. The length band
    * |len(token) − len(term)| ≤ maxDist is a NECESSARY condition for
    * the distance bound, so it prunes most of the dictionary before
    * the DP runs; the scan is one pass over the types-scale vocab
    * (the linear-scan baseline — a deletion-neighborhood index is the
    * known refinement if the dictionary outgrows it).
    */
  private def fuzzyExpansion(
      s: SparkSession,
      dir: String,
      rawTerm: String,
      maxDist: Int,
      maxExpand: Int,
      a: Analyzer
  ): DataFrame = {
    val term = a.term(rawTerm)
    require(term.nonEmpty, "fuzzy matching needs a non-empty term")
    require(maxDist >= 1, "fuzzy matching needs maxDist >= 1")
    vocabRows(s, dir, a)
      .filter(abs(length(col("token")) - lit(term.length)) <= maxDist)
      .withColumn("dist", levenshtein(col("token"), lit(term)).cast("bigint"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("dist").asc, col("df").desc, col("token").asc)
      .limit(maxExpand)
  }

  /** DID-YOU-MEAN: the top-n dictionary terms nearest the (possibly
    * misspelled) input — distance first, then document frequency (the
    * standard spell-correction ranking: prefer the closest, break ties
    * toward the commoner word). Served from the vocab alone.
    */
  def didYouMean(
      s: SparkSession,
      indexDir: String,
      term: String,
      maxDist: Int,
      n: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    fuzzyExpansion(s, indexDir, term, maxDist, n, a)
      .withColumn(
        "rank",
        row_number()
          .over(Window.orderBy(col("dist").asc, col("df").desc, col("token").asc))
          .cast("bigint")
      )
      .select(col("rank"), col("token"), col("dist"), col("df"))
  }

  /** FUZZY search served from the persisted index: the vocab expands
    * the term to its nearest dictionary terms (dist asc, df desc —
    * capped, Lucene's fuzzy rewrite), then the standard disjunctive
    * scoring runs over those terms' pruned bucket dirs with live df.
    */
  def fuzzySearchFromIndex(
      s: SparkSession,
      indexDir: String,
      term: String,
      maxDist: Int,
      maxExpand: Int,
      k: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    val terms = fuzzyExpansion(s, indexDir, term, maxDist, maxExpand, a)
      .select("token")
      .collect()
      .map(_.getString(0))
      .toSeq
    expandedSearch(Index(s, indexDir), terms, k, a)
  }

  /** BOOLEAN must/must-not search (the NOT clause that completes the
    * AND/OR/≥m family): a doc qualifies iff it matches EVERY must term
    * and NO must-not term — exact-token exclusion, so "windowpane"
    * never wrongly excludes a NOT-"window" query (a NOT-contains prune
    * would). Scoring is the conjunctive accumulation over the must
    * terms only; the exclusion is one left-anti join against the
    * must-not terms' exact-token doc set, read through the same
    * term-pruned postings as the scoring (an index's must-not bucket
    * dirs), so the anti-join's build side is excluded-docs-sized.
    */
  def booleanSearch(src: Source, must: Seq[String], mustNot: Seq[String], k: Int): DataFrame = {
    require(must.nonEmpty, "boolean search needs at least one must term")
    require(mustNot.nonEmpty, "boolean search with no must-not terms IS conjunctiveSearch")
    require(must.intersect(mustNot).isEmpty, s"terms in both must and mustNot: $must vs $mustNot")
    val excluded = src.postings(mustNot, Raw).select(col("doc_id")).distinct()
    termSearch(src, must, k, requireAll = true, exclude = Some(excluded))
  }

  /** SYNONYM-GROUP search (Lucene's query-time SynonymGraphFilter
    * semantics): the query is a sequence of GROUPS of interchangeable
    * terms, and each group scores as ONE logical term — per doc the
    * group tf is the SUM over member tokens, the group df counts docs
    * containing ANY member, idf comes from the group df, and the
    * AND/OR gate counts GROUPS matched, not tokens. The synonym table
    * is config-scale (query-layer data); the source reads the postings
    * of the UNION of every group's members once, tokens map to their
    * group in-plan, and group df = distinct docs over those rows.
    */
  def synonymSearch(src: Source, groups: Seq[Seq[String]], k: Int, requireAll: Boolean): DataFrame = {
    val (gmap, all) = synonymGroupMap(src.session, groups)
    val p = src.postings(all, Raw).join(broadcast(gmap), "token")
    val cp = p
      .groupBy(col("gid"), col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("tf"))
    val dfModel = src
      .idf(p.groupBy(col("gid")).agg(countDistinct(col("doc_id")).cast("long").as("df")), 1000000L)
      .select(col("gid"), col("idf_micro"))
    scoreSynonymGroups(cp, dfModel, groups.size, k, requireAll)
  }

  /** (token → gid) mapping relation + flat member list; fails loudly
    * on a term in two groups (the mapping would be ambiguous).
    */
  private def synonymGroupMap(
      s: SparkSession,
      groups: Seq[Seq[String]]
  ): (DataFrame, Seq[String]) = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "synonym search needs non-empty groups")
    val all = groups.flatten
    require(all.distinct.size == all.size, s"a term appears in two synonym groups: $groups")
    import s.implicits._
    val gmap = groups.zipWithIndex
      .flatMap { case (g, gid) => g.map(t => (t, gid.toLong)) }
      .toDF("token", "gid")
    (gmap, all)
  }

  private def scoreSynonymGroups(
      cp: DataFrame,
      dfModel: DataFrame,
      nGroups: Int,
      k: Int,
      requireAll: Boolean
  ): DataFrame = {
    val scored = cp
      .join(broadcast(dfModel), "gid")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_matched"),
        sum(col("tf") * col("idf_micro")).cast("long").as("score_micro")
      )
      .filter(
        if (requireAll) col("n_matched") === nGroups.toLong else col("n_matched") >= 1L
      )
    rankTop(scored, "score_micro", k)
  }

  /** MORE-LIKE-THIS, served end-to-end from persisted artifacts
    * (Lucene's MLT shape): the source document's text comes from the
    * doc store PRUNED to its one bucket dir; its terms rank by
    * tf · micro-idf (idf from the vocab — the term-selection pass
    * never touches postings) and the top maxQueryTerms become a BM25
    * query against the index with the source excluded AFTER scoring
    * (the df model keeps counting it, as the corpus does). Per-request
    * I/O: one store bucket + one types-scale vocab pass +
    * ≤ maxQueryTerms posting buckets — never the corpus.
    */
  def moreLikeThisFromIndex(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      docId: Long,
      maxQueryTerms: Int,
      k: Int
  ): DataFrame = {
    require(maxQueryTerms >= 1, "moreLikeThis needs maxQueryTerms >= 1")
    val srcBucket = docBucket(docId)
    val dt = docStoreLive(s, storeDir)
      .filter(col("dbucket") === lit(srcBucket) && col("doc_id") === lit(docId))
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val nDocs = readMeta(s, indexDir)._1
    val sel = vocabRows(s, indexDir)
      .join(broadcast(dt), "token")
      .withColumn("sc", idfCol(lit(nDocs + 1), 1000000L) * col("tf"))
      .orderBy(col("sc").desc, col("token").asc)
      .limit(maxQueryTerms)
      .select("token")
      .collect()
      .map(_.getString(0))
      .toSeq
    require(sel.nonEmpty, s"moreLikeThis: document $docId not found in the store at $storeDir")
    rankTop(
      bm25Scored(Index(s, indexDir), sel).filter(col("doc_id") =!= lit(docId)),
      "score_milli",
      k
    )
  }

  /** RETRIEVAL EVALUATION (the trec_eval core): per-query recall@k,
    * precision@k, MRR@k and nDCG@k of a run against graded relevance
    * judgments. `runs` carries (query_id, doc_id, rank) — any route
    * here produces it — and `qrels` (query_id, doc_id, rel) with
    * rel ≥ 1 relevant and rel = 0 judged-irrelevant (counts toward
    * nothing, exactly trec_eval's convention). Queries with no
    * relevant judgment are dropped (recall undefined — trec_eval's
    * rule); judged queries with zero hits report zeros.
    *
    * Integer-exact in micro units: each DCG term floors
    * (2^rel − 1) · 10⁶ / log2(rank + 1) before the integer sum, and
    * nDCG = DCG_micro · 10⁶ div IDCG_micro — one BIGINT division, so
    * the gate hash-compares engines digit for digit. Joins are
    * eval-set-scale (runs are pages, qrels are judgments), never
    * corpus-scale; the per-query window partitions by query_id.
    */
  def retrievalEval(runs: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "retrievalEval needs k >= 1")
    import org.apache.spark.sql.expressions.Window
    val rel = qrels.select(
      col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      col("rel").cast("long").as("rel")
    )
    val relevant = rel.filter(col("rel") >= 1L)
    val basis = relevant.groupBy("query_id").agg(count(lit(1)).cast("long").as("n_rel"))
    def dcgTerm(relCol: org.apache.spark.sql.Column, posCol: org.apache.spark.sql.Column) =
      floor((pow(lit(2.0), relCol) - 1.0) * 1000000.0 / log2(posCol + 1.0)).cast("bigint")
    val hitAgg = runs
      .select(
        col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("rank")
      )
      .filter(col("rank") <= k.toLong)
      .join(relevant, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(
        count(lit(1)).cast("long").as("n_rel_at_k"),
        min(col("rank")).cast("long").as("first_rel_rank"),
        sum(dcgTerm(col("rel"), col("rank"))).cast("long").as("dcg_micro")
      )
    val ideal = relevant
      .withColumn(
        "i",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("doc_id").asc))
      )
      .filter(col("i") <= k)
      .groupBy("query_id")
      .agg(sum(dcgTerm(col("rel"), col("i"))).cast("long").as("idcg_micro"))
    basis
      .join(hitAgg, Seq("query_id"), "left")
      .join(ideal, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("n_rel"),
        coalesce(col("n_rel_at_k"), lit(0L)).as("n_rel_at_k"),
        expr(s"coalesce(n_rel_at_k, 0) * 1000000 div n_rel").as("recall_micro"),
        expr(s"coalesce(n_rel_at_k, 0) * 1000000 div $k").as("precision_micro"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("mrr_micro"),
        expr("coalesce(dcg_micro, 0) * 1000000 div idcg_micro").as("ndcg_micro")
      )
  }

  // ---- time-travel (as-of-generation) reads ---------------------------
  //
  // The generation machinery already versions every row (file-name
  // gen) and every delete (tombstone asof) — TIME TRAVEL falls out:
  // the index as of generation G is the rows with gen ≤ G, minus the
  // tombstones with asof ≤ G ([[liveRows]] with `asOf`), scored
  // against the ledger sums up to G. This is the retrieval-provenance
  // primitive a training pipeline needs ("re-run the exact retrieval
  // that built last week's dataset"), valid back to the LAST
  // COMPACTION — a purge physically drops history, exactly Lucene's
  // retention contract. Per-probe cost is the live probe's plus one
  // tombstone-fold filter.

  /** The (N, total_toks) scalars at generation G — the ledger rows up
    * to G (the seed row, gen −1, predates every batch and always
    * counts). Requires the increment ledger, i.e. a batch-apply/
    * stream-maintained index: a plain built/appended index has no
    * per-generation history to reconstruct — fail loudly.
    */
  private def metaAsOf(s: SparkSession, dir: String, asOfGen: Long): (Long, Long) = {
    val fs = fsFor(s, dir)
    Generations.requireAsOfInsideHorizon(s, dir, asOfGen)
    require(
      searchLedger.files(s, dir).nonEmpty,
      s"as-of read at $dir: no increment ledger — only batch-apply/stream-maintained " +
        "indexes carry per-generation meta history"
    )
    // driver-side ledger scan (zero Spark jobs): the file NAME carries
    // the generation (gbatch-<G>-*), seed rows count as gen −1
    val genRe = "gbatch-(\\d+)-".r
    var (n, t) = (0L, 0L)
    val conf = s.sessionState.newHadoopConf()
    searchLedger.files(s, dir).map(_.getPath).sortBy(_.toString).foreach { p =>
      val gen = genRe.findFirstMatchIn(p.getName).map(_.group(1).toLong).getOrElse(-1L)
      if (gen <= asOfGen)
        graft.core.ScalarParquet.foreachRow(conf, fs, p) { g =>
          n += g.getLong("n_docs", 0)
          t += g.getLong("total_toks", 0)
        }
    }
    (n, t)
  }

  /** The postings index as a [[Generations]] kind. Per tier: the
    * bucketed postings (the doc length denormalized on every row;
    * compaction re-derives — and on pre-vocab indexes backfills — the
    * tier's vocab from them) and positions; the doc-keyed doclen; the
    * vocab increments of tiers that carry a vocab, derived from the
    * batch's persisted postings (upserts leave the old versions'
    * counts in place until compaction — the Lucene stale-stats
    * window); and the (n_docs, total_toks, total_atoks) stats behind
    * meta/ameta, ledgered in meta_inc. Cache decisions, measured at
    * fixture scale: the minimal raw path (no upsert, no folded tier, no
    * vocab) reads the at-rest batch four times through cheap
    * projections — caching it costs more than the re-scans save; every
    * heavier path multiplies the readers and the persist wins outright
    * (isolated A/B: upsert replay 23.9 → 14.5 s).
    */
  private def postingsIndex(
      s: SparkSession,
      dir: String,
      folded: Boolean,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Kind = {
    val tiers = Analyzer.tiers(folded)
    val vocabTiers = tiers.filter(a => fsFor(s, dir).exists(new org.apache.hadoop.fs.Path(vocabDir(dir, a))))
    def bucketed(df: DataFrame) = df.withColumn("tbucket", tokenBucketCol)
    def sumOf(c: String) = coalesce(sum(col(c)), lit(0L)).cast("long")
    // (n_docs, total_toks) from `r`, total_atoks only on folded indexes
    def scalars(r: org.apache.spark.sql.Row, atoks: => Long) =
      Seq("" -> Seq(r.getLong(0), r.getLong(1), if (folded) atoks else 0L))
    Kind(
      keyCol = "doc_id",
      relations = tiers.flatMap { a =>
        Seq(
          Relation(
            a.postings,
            Some("tbucket"),
            b => bucketed(postingsWithDl(b, idCol, textCol, a)),
            () => writeVocabFromPostings(s, dir, a)
          ),
          Relation(a.positions, Some("tbucket"), b => bucketed(positionalPostings(b, idCol, textCol, a)))
        )
      } :+ Relation("doclen", None, b => docLengths(b, idCol, textCol)),
      increments = vocabTiers.map { a =>
        Increment(
          s"${a.vocab}_inc",
          a.postings,
          p => vocabFromPostingRows(p.select(col("token"), col("doc_id"), col("tf"))).coalesce(1)
        )
      },
      stats = Some(
        Stats(
          searchLedger,
          meta = "meta",
          read = () => {
            val (n, t) = readMeta(s, dir)
            Seq("" -> Seq(n, t, foldedTotalOrZero(s, dir)))
          },
          write = m => {
            val Seq(n, t, a) = m.head._2
            writeMeta(s, dir, (n, t))
            if (folded) writeAmeta(s, dir, a)
          },
          batch = b => {
            val r = b.agg(countDistinct(col(idCol)).cast("long"), tiers.map(tokenTotal(textCol, _)): _*).head()
            scalars(r, r.getLong(2))
          },
          deleted = ids => {
            def hit(rel: DataFrame) = liveRows(s, dir, rel).join(broadcast(ids), "doc_id")
            val r = hit(s.read.parquet(s"$dir/doclen")).agg(count(lit(1)).cast("long"), sumOf("dl")).head()
            scalars(
              r,
              hit(s.read.schema(postingsSchema(Folded)).parquet(s"$dir/${Folded.postings}"))
                .select(col("doc_id"), col(Folded.dl))
                .distinct()
                .agg(sumOf(Folded.dl))
                .head()
                .getLong(0)
            )
          },
          rederive = () => {
            val r = s.read.parquet(s"$dir/doclen").agg(countDistinct(col("doc_id")).cast("long"), sumOf("dl")).head()
            scalars(r, foldedTotalFromPostings(s, dir))
          }
        )
      ),
      persist = upsert => folded || upsert || vocabTiers.contains(Raw),
      horizon = Horizon.WithLedger
    )
  }

  /** DELETE documents from the persisted index — the batch-API entry
    * point (a stream replaces docs through the upsert apply): the
    * [[Generations.delete]] tombstones, with meta/ameta decremented by
    * the ids' LIVE (dl, adl) sums, so deleting an already-deleted or
    * absent id moves nothing and BM25's N/avgdl stay exact through any
    * delete pattern. The decrement reads doclen (and, on analyzed
    * indexes, the deleted ids' apostings rows) once per call —
    * maintenance cadence, never per probe. [[compactSearchIndex]]
    * purges physically.
    */
  def deleteFromSearchIndex(s: SparkSession, dir: String, ids: DataFrame): Unit =
    Generations.delete(postingsIndex(s, dir, hasFoldedTier(s, dir)), s, dir, ids)

  /** Seq convenience overload of [[deleteFromSearchIndex]]. */
  def deleteFromSearchIndex(s: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import s.implicits._
    deleteFromSearchIndex(s, dir, ids.toDF("doc_id"))
  }

  /** Apply ONE micro-batch of new documents to the index at `dir`,
    * idempotently — the unit [[graft.streaming.StreamingIngest
    * .searchIndexStream]] runs inside foreachBatch, through
    * [[Generations.apply]]. Upsert batches tombstone their ids — or, on
    * the CDC path, `tombstoneIds`: a delete op contributes a tombstone
    * but no rows — at the batch's generation; the old versions' stats
    * stay counted until compaction (the documented Lucene window,
    * bounded by compactEvery — dead rows never score).
    */
  private[graft] def applySearchIndexBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      batchId: Long,
      analyzed: Boolean = false,
      upsert: Boolean = false,
      tombstoneIds: Option[DataFrame] = None
  ): Unit = {
    val s = batch.sparkSession
    requireFoldedTierMaintained(s, dir, analyzed, "applySearchIndexBatch")
    Generations.apply(postingsIndex(s, dir, analyzed, idCol, textCol), batch, idCol, dir, batchId, upsert, tombstoneIds)
  }

  /** Rewrite the postings/positions back to one file per bucket dir
    * (and doclen to one file); values untouched, probes bit-identical
    * pre/post (spec-pinned); with live tombstones the rewrite is also
    * the physical purge ([[Generations.compact]]). meta/ameta are
    * re-derived from the compacted doc-keyed rows — repairing any drift
    * the non-atomic append window or an upsert left — and a stream's
    * ledger folds back to one seed row (meta = sum over the ledger
    * still holds, so the per-batch apply stays ledger-cost).
    */
  def compactSearchIndex(spark: SparkSession, dir: String): Unit = {
    val fs = fsFor(spark, dir)
    // fail loudly on a pre-dl index rather than stamping it current
    // (its postings lack dl and no compaction can backfill them) —
    // but an UNREADABLE meta is the repair case, so only a readable
    // marker-less meta trips the check
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta"))) {
      val cols = try Some(spark.read.parquet(s"$dir/meta").columns.toSet)
      catch { case _: Throwable => None }
      require(
        cols.forall(_.contains("format_version")),
        s"search index at $dir has no format_version marker (pre-dl layout) — " +
          "compaction cannot backfill dl; rebuild the index"
      )
    }
    Generations.compact(postingsIndex(spark, dir, hasFoldedTier(spark, dir)), spark, dir)
  }

  /** MERGE independently-built shard indexes into ONE (the distributed
    * build story: at 100 TB the index is not one job — it is P bounded
    * per-shard builds over disjoint corpus partitions run in parallel,
    * then a merge; Lucene's segment merge, re-expressed for the
    * bucketed-parquet layout). Because every shard uses the SAME
    * token-hash bucketing, a shard's file under `postings/tbucket=N`
    * belongs VERBATIM under the destination's `tbucket=N`: the merge
    * is pure file-system renames (metadata ops — ZERO data pass over
    * corpus-scale relations) plus scalar meta sums and one types-scale
    * vocab fold. Parts are CONSUMED (renamed away, then deleted), like
    * Lucene segments after a merge.
    *
    * Preconditions (fail loudly): ≥ 2 parts that agree on
    * analyzed-ness, carry no live tombstones (merge compacted shards)
    * and no stream markers (quiesce maintainers first). Data files
    * land under neutral `merged-<part>-<i>` names, so their generation
    * parses as −1 (base rows) — correct because nothing tombstoned
    * survives in the inputs — and the destination is a fully
    * functional index: append, delete, stream-adopt and compact all
    * work on it afterwards.
    */
  // ---- crash-safe merge protocol --------------------------------------
  //
  // Both merges consume their parts by FILE RENAMES — metadata ops, no
  // data pass — which used to mean a crash mid-move left the corpus
  // split between half-emptied parts and a half-populated destination
  // with no automated way forward (the rerun hit the "dest already
  // exists" guard). The staged protocol makes every crash point
  // decidable and the rerun the only repair:
  //
  //   1. ARTIFACTS: scalars/vocab (and the part list + layout) are
  //      written into `dest__merging` while the parts are still
  //      intact, then `_artifacts_done` commits the phase. A crash
  //      before the marker deletes the staged dir and restarts — no
  //      part file has moved yet.
  //   2. MOVE: part files rename INTO the staged dir under names
  //      derived from their SOURCE identity (not listing position), so
  //      a resumed move just moves whatever remains — already-moved
  //      files are simply absent from the part globs, and no name can
  //      collide.
  //   3. SWAP: one atomic `rename(staged, dest)` — the destination
  //      either doesn't exist or is complete; probes never see a
  //      partial merge.
  //   4. CLEANUP: parts (now data-less husks) are deleted. A crash
  //      here is detected by `_merged_from` inside the committed dest
  //      naming exactly these parts AND the parts holding no data
  //      files — the rerun finishes the delete and returns.

  private[ops] val mergedFromMarker = "_merged_from"
  private[ops] val artifactsDoneMarker = "_artifacts_done"

  /** Destination file name for a moved shard file: deterministic from
    * the SOURCE identity (so a resumed move is idempotent) and
    * neutralized so the generation parse ([[Generations]]) reads it as −1
    * (parts are tombstone-free, so every surviving row is a base row —
    * but their file names may still carry `gbatch-`/`del-` prefixes
    * the gen regex would match unanchored).
    */
  private[ops] def mergedName(partIdx: Int, srcName: String): String =
    s"merged-$partIdx-${srcName.replace("gbatch-", "g").replace("del-", "d")}"

  /** Read the staged/committed merge manifest: first line `analyzed`
    * or `raw`, remaining lines the part paths.
    */
  private def readMergeManifest(s: SparkSession, dir: String): Option[(Boolean, Seq[String])] =
    graft.core.Compaction.readTextFile(s, s"$dir/$mergedFromMarker").map { t =>
      val lines = t.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      (lines.head == "analyzed", lines.tail)
    }

  /** True iff the part holds no data files under `rel` — the husk
    * signature a finished-but-uncleaned merge leaves behind.
    */
  private def partIsHusk(fs: org.apache.hadoop.fs.FileSystem, p: String, rel: String): Boolean = {
    import org.apache.hadoop.fs.Path
    Option(fs.globStatus(new Path(s"$p/$rel/*/*.parquet"))).getOrElse(Array.empty).isEmpty &&
    Option(fs.globStatus(new Path(s"$p/$rel/*.parquet"))).getOrElse(Array.empty).isEmpty
  }

  /** Shared entry/recovery decision for both merges. Returns true when
    * the caller should RESUME the move phase against an existing
    * staged dir (artifacts committed), false when it should start
    * fresh (any non-artifact-committed staging was discarded). When
    * the merge already COMMITTED (dest exists with a matching
    * manifest and the parts are husks), finishes the part cleanup and
    * returns None — the merge is done.
    */
  private def mergeRecoveryState(
      s: SparkSession,
      parts: Seq[String],
      dest: String,
      staged: String,
      dataRel: String
  ): Option[Boolean] = {
    import org.apache.hadoop.fs.Path
    val fs = fsFor(s, dest)
    if (fs.exists(new Path(dest))) {
      val manifest = readMergeManifest(s, dest)
      require(
        manifest.exists(_._2.toSet == parts.toSet),
        s"merge destination $dest already exists"
      )
      // same merge, crashed between the committed swap and the part
      // cleanup — but NEVER delete a part that still holds data (the
      // caller may have rebuilt it): that is a conflict, not a resume
      parts.filter(p => fs.exists(new Path(p))).foreach { p =>
        require(
          partIsHusk(fs, p, dataRel),
          s"merge destination $dest exists and part $p still holds data — " +
            "refusing to treat it as a crashed cleanup; move or rebuild under a new destination"
        )
        fs.delete(new Path(p), true)
      }
      fs.delete(new Path(staged), true)
      None
    } else if (fs.exists(new Path(staged))) {
      if (fs.exists(new Path(staged, artifactsDoneMarker))) {
        val manifest = readMergeManifest(s, staged)
        require(
          manifest.exists(_._2.toSet == parts.toSet),
          s"staged merge at $staged was for different parts " +
            s"(${manifest.map(_._2).getOrElse(Nil)}) — remove it manually to proceed"
        )
        Some(true) // artifacts committed, moves may be partial — resume
      } else {
        // artifacts phase crashed: nothing has moved, restart clean
        fs.delete(new Path(staged), true)
        Some(false)
      }
    } else Some(false)
  }

  def mergeSearchIndexes(s: SparkSession, parts: Seq[String], dest: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(parts.size >= 2, "mergeSearchIndexes needs at least two parts")
    val fs = fsFor(s, dest)
    val staged = dest + "__merging"
    val resume = mergeRecoveryState(s, parts, dest, staged, dataRel = "postings") match {
      case None    => return // committed merge, cleanup finished
      case Some(r) => r
    }
    val analyzed: Boolean =
      if (resume) readMergeManifest(s, staged).get._1
      else {
        parts.foreach { p =>
          require(fs.exists(new Path(s"$p/postings")), s"merge part $p is not a search index")
          require(
            !hasTombstones(s, p),
            s"merge part $p has live tombstones — compactSearchIndex it first"
          )
          require(
            !fs.exists(new Path(p, "_last_batch")) && !fs.exists(new Path(p, "_stream_id")),
            s"merge part $p is stream-maintained — quiesce it (compact + drop its markers) first"
          )
        }
        val analyzedFlags = parts.map(hasFoldedTier(s, _))
        require(
          analyzedFlags.distinct.size == 1,
          s"cannot merge analyzed with raw-only parts: ${parts.zip(analyzedFlags)}"
        )
        val an = analyzedFlags.head
        // a silently vocab-less destination would serve every probe but
        // fail its first DICTIONARY query — if the parts disagree, say
        // so now (compaction backfills a missing vocab) instead of
        // deferring to vocabRows' require at probe time
        val tiers = Analyzer.tiers(an)
        tiers.foreach { a =>
          val flags = parts.map(p => fs.exists(new Path(vocabDir(p, a))))
          require(
            flags.distinct.size == 1,
            s"cannot merge parts with mixed ${a.vocab} state (run compactSearchIndex on the " +
              s"missing ones to backfill): ${parts.zip(flags)}"
          )
        }
        // ARTIFACTS phase: scalar + dictionary artifacts land in the
        // staged dir FIRST, while the parts are intact
        val metas = parts.map(p => readMeta(s, p))
        val atoks = if (an) parts.map(p => readAmeta(s, p)).sum else 0L
        def mergeVocab(a: Analyzer): Unit =
          if (parts.forall(p => fs.exists(new Path(vocabDir(p, a)))))
            parts
              .map(p => vocabRows(s, p, a))
              .reduce(_ unionAll _)
              .groupBy(col("token"))
              .agg(
                sum(col("df")).cast("long").as("df"),
                sum(col("tf_total")).cast("long").as("tf_total")
              )
              .repartitionByRange(vocabParts, col("token"))
              .sortWithinPartitions("token")
              .write
              .mode("overwrite")
              .parquet(vocabDir(staged, a))
        tiers.foreach(mergeVocab)
        writeMeta(s, staged, (metas.map(_._1).sum, metas.map(_._2).sum))
        if (an) writeAmeta(s, staged, atoks)
        graft.core.Compaction.writeTextFile(
          s,
          s"$staged/$mergedFromMarker",
          ((if (an) "analyzed" else "raw") +: parts).mkString("\n") + "\n"
        )
        fs.create(new Path(staged, artifactsDoneMarker), true).close()
        an
      }
    // MOVE phase: rename every remaining shard file into the staged
    // dir's matching bucket dir — metadata operations only, idempotent
    // under resume (dest names derive from source identity; part
    // indices come from the MANIFEST's order, so a resume with the
    // parts listed differently still produces the same names)
    val orderedParts = readMergeManifest(s, staged).get._2
    val partitionedRels = Analyzer.tiers(analyzed).flatMap(a => Seq(a.postings, a.positions))
    def moveRel(rel: String, partitioned: Boolean): Unit =
      orderedParts.zipWithIndex.foreach { case (p, i) =>
        val glob =
          if (partitioned) new Path(s"$p/$rel/tbucket=*/*.parquet")
          else new Path(s"$p/$rel/*.parquet")
        Option(fs.globStatus(glob)).getOrElse(Array.empty).map(_.getPath).sortBy(_.toString)
          .foreach { f =>
            val destDir =
              if (partitioned) new Path(s"$staged/$rel/${f.getParent.getName}")
              else new Path(s"$staged/$rel")
            fs.mkdirs(destDir)
            val d = new Path(destDir, mergedName(i, f.getName))
            if (!fs.rename(f, d))
              throw new java.io.IOException(s"index merge: rename $f -> $d failed")
          }
      }
    partitionedRels.foreach(moveRel(_, partitioned = true))
    moveRel("doclen", partitioned = false)
    // SWAP: one atomic rename — dest appears complete or not at all
    if (!fs.rename(new Path(staged), new Path(dest)))
      throw new java.io.IOException(s"index merge: commit rename $staged -> $dest failed")
    parts.foreach(p => fs.delete(new Path(p), true))
  }

  /** MERGE shard doc stores — [[mergeSearchIndexes]]'s doc-store
    * companion: every shard uses the same `db|`-domain doc-id hash, so
    * a shard file under `docs/dbucket=N` belongs verbatim under the
    * destination's — pure renames, parts consumed, tombstone-free
    * parts required (compactDocStore first). Together the two merges
    * make the WHOLE SERP stack shard-buildable: P bounded jobs each
    * produce (index shard, store shard), and the merge is metadata.
    */
  def mergeDocStores(s: SparkSession, parts: Seq[String], dest: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(parts.size >= 2, "mergeDocStores needs at least two parts")
    val fs = fsFor(s, dest)
    val staged = dest + "__merging"
    val resume = mergeRecoveryState(s, parts, dest, staged, dataRel = "docs") match {
      case None    => return // committed merge, cleanup finished
      case Some(r) => r
    }
    if (!resume) {
      parts.foreach { p =>
        require(fs.exists(new Path(s"$p/docs")), s"merge part $p is not a doc store")
        require(
          !hasTombstones(s, p),
          s"merge part $p has live tombstones — compactDocStore it first"
        )
      }
      // mixed shard schemas (one store saved with metaCols, one
      // without) would merge into a silently-null-padded relation —
      // fail loudly while the parts are still fully readable
      val schemas = parts.map(p => s.read.parquet(s"$p/docs").schema.fieldNames.toSeq.sorted)
      require(
        schemas.distinct.size == 1,
        s"doc-store merge: parts carry different schemas: ${parts.zip(schemas)}"
      )
      fs.mkdirs(new Path(staged))
      graft.core.Compaction.writeTextFile(
        s,
        s"$staged/$mergedFromMarker",
        ("raw" +: parts).mkString("\n") + "\n"
      )
      fs.create(new Path(staged, artifactsDoneMarker), true).close()
    }
    val orderedParts = readMergeManifest(s, staged).get._2
    orderedParts.zipWithIndex.foreach { case (p, i) =>
      Option(fs.globStatus(new Path(s"$p/docs/dbucket=*/*.parquet")))
        .getOrElse(Array.empty)
        .map(_.getPath)
        .sortBy(_.toString)
        .foreach { f =>
          val destDir = new Path(s"$staged/docs/${f.getParent.getName}")
          fs.mkdirs(destDir)
          val d2 = new Path(destDir, mergedName(i, f.getName))
          if (!fs.rename(f, d2))
            throw new java.io.IOException(s"doc-store merge: rename $f -> $d2 failed")
        }
    }
    if (!fs.rename(new Path(staged), new Path(dest)))
      throw new java.io.IOException(s"doc-store merge: commit rename $staged -> $dest failed")
    parts.foreach(p => fs.delete(new Path(p), true))
  }

  /** BATCHED search serving: a whole RELATION of (query_id, term)
    * pairs answered in ONE pass — the shape that actually runs at
    * scale, where thousands of queries amortize a single index read
    * instead of each paying its own job (the same design as the
    * batched PQ k-NN join). No per-query prune is possible (every
    * query has different terms); its place is taken by the source's
    * postings for the UNION of all query terms — with a persisted
    * index that is the union of the terms' bucket dirs. Scoring joins
    * postings to the query relation on token (queries broadcast — they
    * are request-sized), gates per (query, doc) by the query's MODE —
    * AND requires every term matched, OR admits any (the mode changes
    * only the gate, matching [[disjunctiveSearch]] vs
    * [[conjunctiveSearch]]); queries without a mode row default to AND
    * (the strict gate) — and takes top-k per query
    * ([[rankTopPerQuery]]).
    */
  def batchedSearch(
      src: Source,
      queries: DataFrame, // (query_id, term)
      k: Int,
      modes: Option[DataFrame] = None, // (query_id, mode) — "AND" | "OR"; absent query_ids and None = all-AND
      a: Analyzer = Raw
  ): DataFrame = {
    val (batch, terms) = batchTerms(queries, a)
    val p = src.postings(terms, a).select(col("token"), col("doc_id"), col("tf"))
    val qSizes = batch.groupBy(col("query_id")).agg(count(lit(1)).cast("long").as("n_terms"))
    // mode-relation hygiene (request-sized, so the validation is
    // bytes): normalize case/whitespace so "or"/"Or " mean OR rather
    // than silently falling through to the strict AND gate, raise on
    // any value that is neither AND nor OR (a typo'd mode must fail
    // loudly), and collapse to one row per query_id — conflicting
    // duplicate rows raise instead of duplicating every scored row
    // through the join below
    val qModes = modes
      .map { m =>
        m.select(col("query_id"), upper(trim(col("mode"))).as("mode"))
          .withColumn(
            "mode",
            when(col("mode").isin("AND", "OR"), col("mode"))
              .otherwise(
                raise_error(
                  concat(lit("batched search: unknown mode '"), col("mode"), lit("' (expected AND or OR)"))
                )
              )
          )
          .groupBy(col("query_id"))
          .agg(collect_set(col("mode")).as("__modes"))
          .select(
            col("query_id"),
            when(size(col("__modes")) === 1, element_at(col("__modes"), 1))
              .otherwise(
                raise_error(
                  concat(lit("batched search: conflicting modes for query_id "), col("query_id").cast("string"))
                )
              )
              .as("mode")
          )
      }
      .getOrElse(batch.select(col("query_id")).distinct().withColumn("mode", lit("AND")))
    val scored = p
      .join(broadcast(batch.withColumnRenamed("term", "token")), "token")
      .join(broadcast(idfModel(src, dfRows(p), 1000000L)), "token")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_matched"),
        sum(col("tf") * col("idf_micro")).cast("long").as("score_micro")
      )
      .join(broadcast(qSizes), "query_id")
      .join(broadcast(qModes), Seq("query_id"), "left")
      .filter(
        when(col("mode") === "OR", col("n_matched") >= 1L)
          .otherwise(col("n_matched") === col("n_terms"))
      )
    rankTopPerQuery(scored, "score_micro", k)
  }

  /** A (query_id, term) batch under the analyzer, plus its distinct
    * terms driver-side for the term prune: terms normalise IN-PLAN
    * (the one analyzer site of a batched route — the collect is
    * request-sized by contract, a query batch is thousands of terms,
    * never corpus-scale), empties drop, and repeated or variant rows of
    * one normalised term collapse, so a query's AND gate counts
    * distinct terms and no term double-counts.
    */
  private def batchTerms(queries: DataFrame, a: Analyzer): (DataFrame, Seq[String]) = {
    val batch = queries
      .select(col("query_id"), a.token(col("term")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    val terms = batch.select(col("term")).distinct().collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "batched search needs at least one non-empty term")
    (batch, terms)
  }

  val searchBatchIndex: Q = (s, d) => {
    import s.implicits._
    batchedSearch(
      Index(s, demoSearchIndexDir(s, d)),
      fixtureBatch.toDF("query_id", "term"),
      k = 5,
      modes = Some(fixtureModes.toDF("query_id", "mode"))
    ).orderBy("query_id", "rank")
  }

  /** BM25-scored BATCHED serving — the full production retrieval tier
    * in one operator: a relation of (query_id, term) pairs, the
    * source's postings for the union of the batch's terms, df from
    * those rows, dl/avgdl/N from the source, ONE BIGINT division per
    * (query, doc, term), rank-limit per query. BM25's norm is
    * disjunctive, so every query admits any-term candidates — no mode
    * relation needed.
    */
  def bm25BatchSearch(
      src: Source,
      queries: DataFrame, // (query_id, term)
      k: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    val (batch, terms) = batchTerms(queries, a)
    val (nDocs, avgdl) = bm25Norms(src, a)
    val p = src.postings(terms, a).select(col("token"), col("doc_id"), col("tf"), col(a.dl))
    val scored = p
      .join(broadcast(batch.withColumnRenamed("term", "token")), "token")
      .join(broadcast(idfModel(p, nDocs, 1000L)), "token")
      .withColumn("contrib", bm25Contrib(avgdl, a.dl))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).cast("long").as("score_milli"))
    rankTopPerQuery(scored, "score_milli", k)
  }

  val searchBatchBm25: Q = (s, d) => {
    import s.implicits._
    bm25BatchSearch(Index(s, demoSearchIndexDir(s, d)), fixtureBatch.toDF("query_id", "term"), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Fixture batch: three conjunctive queries plus one disjunctive,
    * served in one pass.
    */
  private[ops] val fixtureBatch: Seq[(Long, String)] =
    Seq(
      1L -> "dup", 1L -> "spark",
      2L -> "hash", 2L -> "join",
      3L -> "window", 3L -> "dup",
      4L -> "hash", 4L -> "window"
    )

  /** Per-query match modes for [[fixtureBatch]] — query 4 is the OR
    * member exercising the relaxed gate.
    */
  private[ops] val fixtureModes: Seq[(Long, String)] =
    Seq(1L -> "AND", 2L -> "AND", 3L -> "AND", 4L -> "OR")

  val searchBatchServe: Q = (s, d) => {
    import s.implicits._
    batchedSearch(
      Corpus(documents(s, d)),
      fixtureBatch.toDF("query_id", "term"),
      k = 5,
      modes = Some(fixtureModes.toDF("query_id", "mode"))
    ).orderBy("query_id", "rank")
  }

  /** Once-per-process demo index over the fixture corpus. */
  private[ops] def demoSearchIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx", d) { dir =>
      saveSearchIndex(documents(s, d), "doc_id", "text", dir)
    }

  /** Build on evens, append odds, NO compaction: probes against this
    * dir fold the base vocab with the append's increment file — that
    * fold is exactly what sharing the full-corpus oracle gates.
    */
  private[ops] def demoVocabAppendIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_vapp", d) { dir =>
      val docs = documents(s, d)
      saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
      appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir)
    }

  /** Once-per-process demo of the DISTRIBUTED build: three shard
    * indexes over doc_id % 3 partitions built independently, then
    * merged (file renames + meta sums + vocab fold) — every probe
    * against the merged dir must equal the one-shot full-corpus index,
    * which is exactly what sharing the corpus oracles gates.
    */
  private[ops] def demoMergedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_merged", d) { dir =>
      val docs = documents(s, d)
      val tmp = Fixtures.processScratchDir("graft_shards")
      val parts = (0 until 3).map { i =>
        val p = s"$tmp/shard$i"
        saveSearchIndex(docs.filter(col("doc_id") % 3 === i), "doc_id", "text", p)
        p
      }
      mergeSearchIndexes(s, parts, dir)
    }

  /** Once-per-process demo of the MAINTAINED lifecycle: build on the
    * even docs, append the odds, compact — probes must then equal the
    * one-shot full-corpus index (the shared oracle IS that equality).
    */
  private[ops] def demoAppendedSearchIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_app", d) { dir =>
      val docs = documents(s, d)
      saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
      appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir)
      compactSearchIndex(s, dir)
    }

  /** The TOMBSTONED lifecycle demo: full build, then every
    * doc_id % 5 == 1 document deleted — NO compaction, so every probe
    * against this dir serves through the tombstone anti-join with the
    * exactly-decremented meta scalars.
    */
  private[ops] def demoDeletedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_del", d) { dir =>
      val docs = documents(s, d)
      saveSearchIndex(docs, "doc_id", "text", dir)
      deleteFromSearchIndex(s, dir, docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
    }

  /** [[demoDeletedIndexDir]] plus the compaction that purges the
    * tombstones physically and re-derives meta from the survivors —
    * the full delete lifecycle.
    */
  private[ops] def demoDeleteCompactedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_delc", d) { dir =>
      val docs = documents(s, d)
      saveSearchIndex(docs, "doc_id", "text", dir)
      deleteFromSearchIndex(s, dir, docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
      compactSearchIndex(s, dir)
    }

  /** DELETE serving gate: conjunctive probe against the tombstoned
    * (uncompacted) index must equal the same search over the corpus
    * WITHOUT the deleted docs — scores included, because the delete
    * decremented N exactly and df comes from live rows only.
    */
  val searchDeleteServe: Q = (s, d) =>
    conjunctiveFromIndex(s, demoDeletedIndexDir(s, d), fixtureAndTerms, topK)
      .orderBy("rank")

  /** DELETE + ranked retrieval: BM25 through live tombstones — dl
    * rides each surviving row, avgdl/N from the exactly-decremented
    * meta, df from live rows; must equal BM25 over the live corpus
    * bit for bit.
    */
  val searchDeleteBm25: Q = (s, d) =>
    bm25FromIndex(s, demoDeletedIndexDir(s, d), fixtureOrTerms, topK).orderBy("rank")

  /** Post-PURGE gate (shares [[searchDeleteServe]]'s oracle): after
    * compaction the tombstones are gone, dead rows are physically
    * absent, meta re-derived from survivors — and the probe must not
    * move.
    */
  val searchDeleteCompacted: Q = (s, d) =>
    conjunctiveFromIndex(s, demoDeleteCompactedIndexDir(s, d), fixtureAndTerms, topK)
      .orderBy("rank")

  /** Index-served gate: identical terms and k as [[searchConjunctive]],
    * so it shares that query's oracle — the equality IS the gate.
    */
  val searchIndexProbe: Q = (s, d) =>
    conjunctiveFromIndex(s, demoSearchIndexDir(s, d), fixtureAndTerms, topK)
      .orderBy("rank")

  /** OR twin of [[searchIndexProbe]], sharing search_disjunctive's
    * oracle.
    */
  val searchAutocomplete: Q = (s, d) =>
    autocomplete(s, demoSearchIndexDir(s, d), fixturePrefix, fixtureAutoN).orderBy("rank")

  val searchPrefix: Q = (s, d) =>
    prefixSearch(Corpus(documents(s, d)), fixturePrefix, fixturePrefixExpand, topK)
      .orderBy("rank")

  /** Index-served prefix page, sharing search_prefix's oracle. */
  val searchPrefixIndex: Q = (s, d) =>
    prefixSearch(Index(s, demoSearchIndexDir(s, d)), fixturePrefix, fixturePrefixExpand, topK)
      .orderBy("rank")

  /** Prefix page against the UNCOMPACTED appended index: the vocab
    * read folds base ⊕ the append's increment file — sharing the
    * full-corpus oracle gates the fold exactly.
    */
  val searchPrefixAppended: Q = (s, d) =>
    prefixSearch(Index(s, demoVocabAppendIndexDir(s, d)), fixturePrefix, fixturePrefixExpand, topK)
      .orderBy("rank")

  val searchDidYouMean: Q = (s, d) =>
    didYouMean(s, demoSearchIndexDir(s, d), fixtureTypo, fixtureFuzzyDist, fixtureDymN)
      .orderBy("rank")

  /** Wildcard fixture: "s*a*" matches scan/small/spark/stream (4
    * terms) so maxExpand = 3 BINDS the cap.
    */
  private[ops] val fixtureWildcard = "s*a*"
  private[ops] val fixtureWildcardExpand = 3

  val searchWildcardIndex: Q = (s, d) =>
    wildcardSearchFromIndex(
      s,
      demoSearchIndexDir(s, d),
      fixtureWildcard,
      fixtureWildcardExpand,
      topK
    ).orderBy("rank")

  /** Regex fixture: "^s.a.*" (anchored head, one any-char, then 'a')
    * matches scan/spark/stream-like tokens — the engine-portable regex
    * subset — with the cap at 3 so the capped rewrite BINDS here too.
    */
  private[ops] val fixtureRegex = "^s.a.*"
  private[ops] val fixtureRegexExpand = 3

  val searchRegexIndex: Q = (s, d) =>
    regexSearchFromIndex(
      s,
      demoSearchIndexDir(s, d),
      fixtureRegex,
      fixtureRegexExpand,
      topK
    ).orderBy("rank")

  /** Analyzed regex gate: the uppercased pattern case-folds with the
    * analyzer, expansion over the AVOCAB (damaged-corpus dictionary),
    * analyzed disjunctive serve.
    */
  val searchRegexAnalyzedIndex: Q = (s, d) =>
    regexSearchFromIndex(
      s,
      demoAnalyzedIndexDir(s, d),
      fixtureRegex.toUpperCase,
      fixtureRegexExpand,
      topK,
      Folded
    ).orderBy("rank")

  val searchFuzzyIndex: Q = (s, d) =>
    fuzzySearchFromIndex(
      s,
      demoSearchIndexDir(s, d),
      fixtureFuzzyTerm,
      fixtureFuzzyDist,
      fixtureFuzzyExpand,
      topK
    ).orderBy("rank")

  /** Probes against the MERGED shard index, sharing the corpus
    * routes' oracles: conjunctive gates the posting moves, BM25 gates
    * the meta sums (avgdl = summed toks div summed docs must be
    * corpus-exact) and the denormalized dl, prefix gates the vocab
    * fold.
    */
  /** Time-travel demo: base build on the evens, batch 0 adds the
    * doc_id % 4 == 1 docs, batch 1 UPSERTS a rewrite of every
    * doc_id % 8 == 1 doc. The as-of-0 probe must serve the
    * pre-rewrite state exactly: original texts, batch-1 rows
    * invisible, its tombstones unapplied, N from the ledger up to
    * generation 0.
    */
  private[ops] def demoAsOfIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_asof", d) { dir =>
      val docs = documents(s, d)
      saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
      applySearchIndexBatch(docs.filter(col("doc_id") % 4 === 1), "doc_id", "text", dir, 0L)
      applySearchIndexBatch(
        docs
          .filter(col("doc_id") % 8 === 1)
          .withColumn("text", concat(lit("rewritten "), col("text"))),
        "doc_id",
        "text",
        dir,
        1L,
        upsert = true
      )
    }

  /** The as-of demo's RENDERING twin: a doc store maintained through
    * the same batch/generation history as [[demoAsOfIndexDir]] (base =
    * even ids, gen 0 adds %4==1, gen 1 upserts %8==1 rewritten), so an
    * as-of page can render its ERA's snippets from the same
    * generation the index time-travels to.
    */
  private[ops] def demoAsOfDocStoreDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "docstore_asof", d) { dir =>
      val docs = documents(s, d)
      saveDocStore(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
      applyDocStoreBatch(docs.filter(col("doc_id") % 4 === 1), "doc_id", "text", dir, 0L)
      applyDocStoreBatch(
        docs
          .filter(col("doc_id") % 8 === 1)
          .withColumn("text", concat(lit("rewritten "), col("text"))),
        "doc_id",
        "text",
        dir,
        1L,
        upsert = true
      )
    }

  val searchAsOfProbe: Q = (s, d) =>
    conjunctiveSearch(Index(s, demoAsOfIndexDir(s, d), Some(0L)), fixtureAndTerms, topK).orderBy("rank")

  /** As-of SERP gate: hits AND snippets at generation 0 — the gen-1
    * upsert's "rewritten " prefix must be invisible in both tiers
    * (index rows and store text both through the as-of [[liveRows]]).
    */
  val searchAsOfPage: Q = (s, d) => {
    val idx = demoAsOfIndexDir(s, d)
    val hits = conjunctiveSearch(Index(s, idx, Some(0L)), Seq(fixturePhrase._1), kwicPageK)
      .select(col("rank"), col("doc_id"))
    kwicPageAsOf(s, idx, demoAsOfDocStoreDir(s, d), hits, fixturePhrase._1, 3, asOfGen = 0L)
      .orderBy("rank", "pos")
  }

  /** Ranked time travel: BM25 as of generation 0 on the same demo. */
  val searchAsOfBm25: Q = (s, d) =>
    bm25Search(Index(s, demoAsOfIndexDir(s, d), Some(0L)), fixtureOrTerms, topK).orderBy("rank")

  /** PIT pagination gate: page 2 of the generation-0 ranking, cursored
    * from page 1's last row — the oracle recomputes the cursor and the
    * page-2 window over the pre-upsert corpus.
    */
  val searchAsOfPageAfter: Q = (s, d) => {
    val at0 = Index(s, demoAsOfIndexDir(s, d), Some(0L))
    val last = bm25Search(at0, fixtureOrTerms, topK).orderBy(desc("rank")).limit(1).head()
    bm25PageAfter(at0, fixtureOrTerms, topK, last.getAs[Long]("score_milli"), last.getAs[Long]("doc_id"))
      .orderBy("rank")
  }

  /** Dictionary introspection gate: stats for the OR fixture terms
    * plus an absent probe (must yield no row, not a zero row).
    */
  val searchTermStats: Q = (s, d) =>
    termStats(s, demoSearchIndexDir(s, d), fixtureOrTerms :+ "zzzabsent").orderBy("token")

  /** Boolean fixture: must both of (dup, spark), must-not merge —
    * non-degenerate (excludes some but not all) at every fixture SF.
    */
  private[ops] val fixtureMustNot = Seq("merge")

  val searchBooleanNot: Q = (s, d) =>
    booleanSearch(Corpus(documents(s, d)), fixtureAndTerms, fixtureMustNot, topK)
      .orderBy("rank")

  /** Index twin, sharing search_boolean_not's oracle. */
  val searchBooleanNotIndex: Q = (s, d) =>
    booleanSearch(Index(s, demoSearchIndexDir(s, d)), fixtureAndTerms, fixtureMustNot, topK)
      .orderBy("rank")

  /** Proximity fixture: the phrase pair at slop 3 — matches strictly
    * more docs than the exact phrase (adjacency is slop ≤ 1 here),
    * so the gate differs from search_phrase.
    */
  private[ops] val fixtureSlop = 3

  val searchProximity: Q = (s, d) =>
    proximitySearch(Corpus(documents(s, d)), fixturePhrase._1, fixturePhrase._2, fixtureSlop)
      .orderBy("doc_id")

  val searchProximityIndex: Q = (s, d) =>
    proximitySearch(Index(s, demoSearchIndexDir(s, d)), fixturePhrase._1, fixturePhrase._2, fixtureSlop)
      .orderBy("doc_id")

  /** Ordered-slop gates: the same fixture pair at the same slop, but
    * IN ORDER — sits strictly between search_phrase (⊆) and
    * search_proximity (⊇) on the result lattice, and the corpus/index
    * twins share one oracle.
    */
  val searchPhraseSlop: Q = (s, d) =>
    orderedSlopSearch(Corpus(documents(s, d)), fixturePhrase._1, fixturePhrase._2, fixtureSlop)
      .orderBy("doc_id")

  val searchPhraseSlopIndex: Q = (s, d) =>
    orderedSlopSearch(Index(s, demoSearchIndexDir(s, d)), fixturePhrase._1, fixturePhrase._2, fixtureSlop)
      .orderBy("doc_id")

  /** Analyzed ordered-slop gate on the damaged corpus: uppercased raw
    * terms, positions in the FILTERED analyzed stream — the oracle
    * replays the damage + analyzer + in-order pair join.
    */
  val searchPhraseSlopAnalyzed: Q = (s, d) =>
    orderedSlopSearch(
      Index(s, demoAnalyzedIndexDir(s, d)),
      fixturePhrase._1.toUpperCase,
      fixturePhrase._2.toUpperCase,
      fixtureSlop,
      Folded
    ).orderBy("doc_id")

  /** Term-boost fixture: the OR pair with the RARER term boosted 3× —
    * chosen so the boosted page ORDER differs from search_disjunctive's
    * (the boost must actually reorder, not just rescale).
    */
  private[ops] val fixtureTermBoosts = Seq("dup" -> 1L, "window" -> 3L)

  val searchTermBoost: Q = (s, d) =>
    boostedSearchFromIndex(s, demoSearchIndexDir(s, d), fixtureTermBoosts, topK).orderBy("rank")

  /** Hit-count gate: the SERP header numbers for the OR fixture pair. */
  val searchHitCount: Q = (s, d) =>
    hitCounts(s, demoSearchIndexDir(s, d), fixtureOrTerms)

  /** Query-string fixture: one clause of every kind — a must term, a
    * boosted should term, a must-not term, and an exact phrase.
    */
  private[ops] val fixtureQueryString = "+dup window^3 -merge \"hash join\""

  val searchQueryStringQ: Q = (s, d) =>
    searchQueryString(s, demoSearchIndexDir(s, d), fixtureQueryString, topK).orderBy("rank")

  /** Field-clause front door: a must term scored from the unfielded
    * index PLUS a `title:`-scoped clause scored with in-field idf from
    * the fielded index, the legs summed doc-keyed, must + not gates
    * intact — the oracle recomputes both chains and the merge.
    */
  private[ops] val fixtureQueryStringFielded = "+dup title:window^2 -merge"

  val searchQueryStringFielded: Q = (s, d) =>
    searchQueryString(
      s,
      demoSearchIndexDir(s, d),
      fixtureQueryStringFielded,
      topK,
      fieldedDir = Some(demoFieldedIndexDir(s, d))
    ).orderBy("rank")

  /** Fuzzy + wildcard clauses in ONE query string, with an explicit
    * boosted term — the capped expansions rewrite onto the same
    * scoring pass, token collisions merging by boost sum.
    */
  private[ops] val fixtureQueryStringFuzzy = s"dup^2 $fixtureTypo~2 $fixtureWildcard"
  private[ops] val fixtureQsExpand = 3

  val searchQueryStringFuzzy: Q = (s, d) =>
    searchQueryString(
      s,
      demoSearchIndexDir(s, d),
      fixtureQueryStringFuzzy,
      topK,
      maxExpand = fixtureQsExpand
    ).orderBy("rank")

  /** Doc-length range clause gating a boosted OR page — `len:` reads
    * the index's own doclen relation, never the store or text.
    */
  private[ops] val fixtureQueryStringRange = "dup window^3 len:[32 TO 63]"

  val searchQueryStringRange: Q = (s, d) =>
    searchQueryString(s, demoSearchIndexDir(s, d), fixtureQueryStringRange, topK)
      .orderBy("rank")

  /** Wide OR fixture for front-door pagination (no must/not gates, so
    * the match set outgrows one page).
    */
  private[ops] val fixtureQueryStringWide = "dup window^3"

  /** Front-door keyset pagination gate: page 2 cursored from page 1's
    * last (score, id) — the oracle recomputes the cursor and the
    * page-2 window from the same boosted chain.
    */
  val searchQueryStringPage: Q = (s, d) => {
    val dir = demoSearchIndexDir(s, d)
    val last = searchQueryString(s, dir, fixtureQueryStringWide, topK)
      .orderBy(desc("rank"))
      .limit(1)
      .head()
    searchQueryStringPageAfter(
      s,
      dir,
      fixtureQueryStringWide,
      topK,
      last.getAs[Long]("score_micro"),
      last.getAs[Long]("doc_id")
    ).orderBy("rank")
  }

  /** The analyzed front door's fixture: damaged-input casing and a
    * punctuated phrase — the analyzer must fold every clause.
    */
  private[ops] val fixtureQueryStringAnalyzed = "+DUP Window^3 -Merge \"HASH JOIN.\""

  val searchQueryStringAnalyzedQ: Q = (s, d) =>
    searchQueryString(s, demoAnalyzedIndexDir(s, d), fixtureQueryStringAnalyzed, topK, a = Folded)
      .orderBy("rank")

  /** Chunk-retrieval fixtures: 16-token windows. */
  private[graft] val fixtureChunkSize = 16

  /** Once-per-process PERSISTED chunk index: the chunk relation under
    * the ordinary bucketed index layout, composite cids.
    */
  private[ops] def demoChunkIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_chunk", d) { dir =>
      saveSearchIndex(chunkedDocs(documents(s, d), "doc_id", "text", fixtureChunkSize), "cid", "ctext", dir)
    }

  val searchChunkBm25: Q = (s, d) => {
    val chunks = chunkedDocs(documents(s, d), "doc_id", "text", fixtureChunkSize)
    chunkBm25TopK(Corpus(chunks, "cid", "ctext"), fixtureOrTerms, topK).orderBy("rank")
  }

  /** The chunk-index APPEND lifecycle demo — the claim "the chunk tier
    * inherits the ordinary index lifecycle" made checkable: half the
    * corpus' chunks built, the other half appended through the
    * standard appendToSearchIndex path (chunk ids are ordinary ids to
    * the index machinery).
    */
  private[ops] def demoAppendedChunkIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_chunk_app", d) { dir =>
      val ch = chunkedDocs(documents(s, d), "doc_id", "text", fixtureChunkSize)
      saveSearchIndex(ch.filter((col("cid") / chunkIdBase) % 2 === 0), "cid", "ctext", dir)
      appendToSearchIndex(ch.filter((col("cid") / chunkIdBase) % 2 =!= 0), "cid", "ctext", dir)
    }

  /** Built-then-appended chunk index must serve the one-shot page bit
    * for bit (shares the corpus chunk oracle).
    */
  val searchChunkBm25Appended: Q = (s, d) =>
    chunkBm25TopK(Index(s, demoAppendedChunkIndexDir(s, d)), fixtureOrTerms, topK).orderBy("rank")

  /** Index twin sharing the corpus chunk oracle. */
  val searchChunkBm25Index: Q = (s, d) =>
    chunkBm25TopK(Index(s, demoChunkIndexDir(s, d)), fixtureOrTerms, topK).orderBy("rank")

  /** Chunk-page gate — the RAG reader feed: the winning chunks
    * rendered as text from the doc store; the oracle recomputes the
    * winner snippets from the chunk relation in SQL.
    */
  val searchChunkPage: Q = (s, d) =>
    chunkPageFromIndex(
      s,
      demoChunkIndexDir(s, d),
      demoDocStoreDir(s, d),
      fixtureOrTerms,
      fixtureChunkSize,
      topK
    ).orderBy("rank")

  /** Auto-correct gate: the fixture typo has ZERO exact hits, so the
    * retry must serve the top did-you-mean correction with the
    * corrected term riding every row.
    */
  val searchAutoCorrect: Q = (s, d) =>
    searchWithAutoCorrect(s, demoSearchIndexDir(s, d), fixtureTypo, fixtureFuzzyDist, topK)
      .orderBy("rank")

  /** Multi-term auto-correct gate: one alive term + the fixture typo —
    * only the dead term corrects, the OR page serves both, and
    * terms_used carries the corrected query on every row.
    */
  val searchAutoCorrectMulti: Q = (s, d) =>
    searchWithAutoCorrectMulti(
      s,
      demoSearchIndexDir(s, d),
      Seq("dup", fixtureTypo),
      fixtureFuzzyDist,
      topK
    ).orderBy("rank")

  /** Range-facet fixture: doc-length histogram at width 32 over the
    * AND match set.
    */
  private[ops] val fixtureRangeWidth = 32L

  val searchRangeFacet: Q = (s, d) =>
    rangeFacetCounts(s, demoSearchIndexDir(s, d), fixtureAndTerms, fixtureRangeWidth)
      .orderBy("range_lo")

  /** Grouped-top-k fixture: at most 3 hits per lang on the BM25 OR
    * page — diversification must actually drop rows (lang cardinality
    * is 3 in the fixture corpus, so an undiversified top-10 would keep
    * more than 3 of the dominant lang).
    */
  private[ops] val fixturePerGroup = 3

  val searchGroupedTopK: Q = (s, d) =>
    groupedTopKFromIndex(
      s,
      demoSearchIndexDir(s, d),
      demoDocStoreDir(s, d),
      fixtureOrTerms,
      "lang",
      fixturePerGroup,
      topK
    ).orderBy("rank")

  /** Best-passage fixture: the phrase pair over an 8-token window,
    * top 5 passages.
    */
  private[ops] val fixturePassageWindow = 8
  private[ops] val fixturePassageK = 5

  val searchBestPassage: Q = (s, d) =>
    bestPassages(
      s,
      demoSearchIndexDir(s, d),
      demoDocStoreDir(s, d),
      Seq(fixturePhrase._1, fixturePhrase._2),
      fixturePassageWindow,
      fixturePassageK
    ).orderBy("rank")

  /** The range-facet / grouped-top-k / best-passage page surfaces
    * under [[Analyzer.Folded]] — the damaged corpus with UPPERCASED
    * raw terms (the analyzer must fold both sides or the gate
    * diverges).
    */
  val searchRangeFacetAnalyzed: Q = (s, d) =>
    rangeFacetCounts(
      s,
      demoAnalyzedIndexDir(s, d),
      fixtureAndTerms.map(_.toUpperCase),
      fixtureRangeWidth,
      Folded
    ).orderBy("range_lo")

  val searchGroupedTopKAnalyzed: Q = (s, d) =>
    groupedTopKFromIndex(
      s,
      demoAnalyzedIndexDir(s, d),
      demoDocStoreDir(s, d),
      fixtureOrTerms.map(_.toUpperCase),
      "lang",
      fixturePerGroup,
      topK,
      Folded
    ).orderBy("rank")

  val searchBestPassageAnalyzed: Q = (s, d) =>
    bestPassages(
      s,
      demoAnalyzedIndexDir(s, d),
      demoDamagedDocStoreDir(s, d),
      Seq(fixturePhrase._1.toUpperCase, fixturePhrase._2.toUpperCase),
      fixturePassageWindow,
      fixturePassageK,
      Folded
    ).orderBy("rank")

  /** Synonym fixture: {fast, slow} fold into one logical term (both
    * corpus tokens, so the group ACTUALLY merges tf and df) AND-ed
    * with the singleton {big}.
    */
  private[ops] val fixtureSynGroups = Seq(Seq("fast", "slow"), Seq("big"))

  val searchSynonym: Q = (s, d) =>
    synonymSearch(Corpus(documents(s, d)), fixtureSynGroups, topK, requireAll = true)
      .orderBy("rank")

  /** Index twin, sharing search_synonym's oracle. */
  val searchSynonymIndex: Q = (s, d) =>
    synonymSearch(Index(s, demoSearchIndexDir(s, d)), fixtureSynGroups, topK, requireAll = true)
      .orderBy("rank")

  /** Retrieval-eval fixture: a 3-query run against graded judgments
    * covering every metric edge — a perfect first hit, a judged-
    * irrelevant (rel = 0) retrieved doc, a missed relevant doc, a
    * rank-2-only query, a judged query with ZERO hits, and a query
    * with only rel = 0 judgments (dropped, trec_eval's rule).
    */
  private[ops] val fixtureEvalRuns = Seq(
    (1L, 101L, 1L), (1L, 102L, 2L), (1L, 103L, 3L), (1L, 110L, 4L),
    (2L, 201L, 1L), (2L, 202L, 2L),
    (3L, 301L, 1L)
  )
  private[ops] val fixtureEvalQrels = Seq(
    (1L, 101L, 3L), (1L, 102L, 0L), (1L, 103L, 1L), (1L, 110L, 2L),
    (2L, 202L, 1L), (2L, 210L, 2L), (2L, 211L, 1L),
    (3L, 310L, 1L),
    (4L, 101L, 0L)
  )
  private[ops] val fixtureEvalK = 3

  val searchRetrievalEval: Q = (s, _) => {
    import s.implicits._
    retrievalEval(
      fixtureEvalRuns.toDF("query_id", "doc_id", "rank"),
      fixtureEvalQrels.toDF("query_id", "doc_id", "rel"),
      fixtureEvalK
    ).orderBy("query_id")
  }

  /** MLT fixtures: source doc 1 (exists at every SF), Lucene-ish caps. */
  private[ops] val fixtureMltDoc = 1L
  private[ops] val fixtureMltTerms = 5

  val searchMoreLikeThis: Q = (s, d) =>
    moreLikeThisFromIndex(
      s,
      demoSearchIndexDir(s, d),
      demoDocStoreDir(s, d),
      fixtureMltDoc,
      fixtureMltTerms,
      topK
    ).orderBy("rank")

  val searchMergedProbe: Q = (s, d) =>
    conjunctiveFromIndex(s, demoMergedIndexDir(s, d), fixtureAndTerms, topK).orderBy("rank")

  val searchMergedBm25: Q = (s, d) =>
    bm25FromIndex(s, demoMergedIndexDir(s, d), fixtureOrTerms, topK).orderBy("rank")

  val searchMergedPrefix: Q = (s, d) =>
    prefixSearch(Index(s, demoMergedIndexDir(s, d)), fixturePrefix, fixturePrefixExpand, topK)
      .orderBy("rank")

  /** Three shard doc stores merged by renames — the store half of the
    * distributed SERP build.
    */
  private[ops] def demoMergedDocStoreDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "docstore_merged", d) { dir =>
      val docs = documents(s, d)
      val tmp = Fixtures.processScratchDir("graft_store_shards")
      val parts = (0 until 3).map { i =>
        val p = s"$tmp/shard$i"
        saveDocStore(docs.filter(col("doc_id") % 3 === i), "doc_id", "text", p, metaCols = Seq("lang", "source"))
        p
      }
      mergeDocStores(s, parts, dir)
    }

  /** The KWIC result page rendered END-TO-END from merged artifacts:
    * hits from the merged index, snippets from the merged store —
    * shares search_kwic_page's oracle, so the distributed build must
    * render the monolithic build's exact page.
    */
  val searchMergedKwic: Q = (s, d) => {
    val hits = conjunctiveFromIndex(s, demoMergedIndexDir(s, d), Seq(fixturePhrase._1), kwicPageK)
      .select(col("rank"), col("doc_id"))
    kwicPage(s, demoMergedIndexDir(s, d), demoMergedDocStoreDir(s, d), hits, fixturePhrase._1, 3)
      .orderBy("rank", "pos")
  }

  // the ANALYZED dictionary tier over the damaged corpus: raw inputs
  // carry case/punct damage, the analyzer folds both sides, and the
  // avocab rides the demo index's full build→append→compact lifecycle

  val searchAutocompleteAnalyzed: Q = (s, d) =>
    autocomplete(s, demoAnalyzedIndexDir(s, d), fixturePrefix.toUpperCase, fixtureAutoN, Folded)
      .orderBy("rank")

  val searchDidYouMeanAnalyzed: Q = (s, d) =>
    didYouMean(s, demoAnalyzedIndexDir(s, d), s"[${fixtureTypo.toUpperCase}]", fixtureFuzzyDist, fixtureDymN, Folded)
      .orderBy("rank")

  val searchPrefixAnalyzedIndex: Q = (s, d) =>
    prefixSearch(
      Index(s, demoAnalyzedIndexDir(s, d)),
      fixturePrefix.toUpperCase,
      fixturePrefixExpand,
      topK,
      Folded
    ).orderBy("rank")

  val searchFuzzyAnalyzedIndex: Q = (s, d) =>
    fuzzySearchFromIndex(
      s,
      demoAnalyzedIndexDir(s, d),
      s"${fixtureFuzzyTerm.toUpperCase}!",
      fixtureFuzzyDist,
      fixtureFuzzyExpand,
      topK,
      Folded
    ).orderBy("rank")

  /** Min-should-match served from the index, sharing search_min_match's
    * oracle — the equality IS the gate.
    */
  val searchMinMatchIndex: Q = (s, d) =>
    minShouldMatchSearch(Index(s, demoSearchIndexDir(s, d)), fixtureMinTerms, fixtureMinMatch, topK)
      .orderBy("rank")

  val searchDisjunctiveIndex: Q = (s, d) =>
    disjunctiveSearch(Index(s, demoSearchIndexDir(s, d)), fixtureOrTerms, topK)
      .orderBy("rank")

  /** The distinct documents holding ANY of the given terms, served
    * from the pruned index — the CANDIDATE-GENERATION primitive other
    * operators compose (index-screened decontamination restricts its
    * exact n-gram pass to these). I/O is the terms' bucket dirs; the
    * result is candidate-doc-sized.
    */
  private[ops] def candidateDocsForTerms(s: SparkSession, indexDir: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "candidate probe needs at least one term")
    postingsScan(s, indexDir, terms).select(col("doc_id")).distinct()
  }

  /** Build-even → append-odd → compact, then probe: the maintained
    * index must answer exactly like the one-shot build.
    */
  val searchIndexAppended: Q = (s, d) =>
    conjunctiveFromIndex(s, demoAppendedSearchIndexDir(s, d), fixtureAndTerms, topK)
      .orderBy("rank")

  /** BM25 from the persisted index: same terms and k as [[searchBm25]],
    * sharing its oracle — index-served ranked retrieval must equal the
    * corpus-pass arithmetic bit for bit.
    */
  val searchBm25Index: Q = (s, d) =>
    bm25FromIndex(s, demoSearchIndexDir(s, d), fixtureOrTerms, topK).orderBy("rank")

  /** Phrase from the MAINTAINED index (build-even → append-odd →
    * compact): gates the positional postings' whole lifecycle against
    * [[searchPhrase]]'s corpus-pass oracle in one query.
    */
  val searchPhraseIndex: Q = (s, d) =>
    phraseFromIndex(s, demoAppendedSearchIndexDir(s, d), Seq(fixturePhrase._1, fixturePhrase._2))
      .orderBy("doc_id")

  val searchPhrase: Q = (s, d) =>
    phraseSearch(Corpus(documents(s, d)), Seq(fixturePhrase._1, fixturePhrase._2)).orderBy("doc_id")

  /** 3-term fixture phrase (oracle-pinned): extends [[fixturePhrase]]
    * by one token, ~5 occurrences at sf0.01.
    */
  private[ops] val fixturePhrase3 = Seq("hash", "join", "big")

  /** Trigram corpus-pass route. */
  val searchPhrase3: Q = (s, d) =>
    phraseSearch(Corpus(documents(s, d)), fixturePhrase3).orderBy("doc_id")

  /** Trigram served from the MAINTAINED index (build-even → append-odd
    * → compact), sharing [[searchPhrase3]]'s oracle — the n-term fold
    * through the whole positional-postings lifecycle in one gate.
    */
  val searchPhrase3Index: Q = (s, d) =>
    phraseFromIndex(s, demoAppendedSearchIndexDir(s, d), fixturePhrase3).orderBy("doc_id")

  /** The deliberately case/punctuation-damaged fixture corpus both
    * analyzed gates run on: every doc_id % 7 == 0 document is
    * UPPERCASED and every doc_id % 11 == 0 document gets its tokens
    * bracket-wrapped — the raw route would drop them all; the
    * analyzed routes must rank them exactly as their clean selves.
    */
  private[graft] def damagedFixtureDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn(
      "text",
      when(col("doc_id") % 7 === 0, upper(col("text")))
        .when(
          col("doc_id") % 11 === 0,
          expr("array_join(transform(split(text, ' '), t -> concat('[', t, ']')), ' ')")
        )
        .otherwise(col("text"))
    )

  /** Analyzer gate on the damaged corpus (the oracle runs the same
    * damage + the same analyzer chain).
    */
  val searchAnalyzed: Q = (s, d) =>
    conjunctiveSearch(Corpus(damagedFixtureDocs(s, d)), fixtureAndTerms.map(_.toUpperCase), topK, Folded)
      .orderBy("rank")

  /** Once-per-process ANALYZED demo index over the damaged corpus,
    * through the full maintained lifecycle (build-even → append-odd →
    * compact) — the probe gating it must equal the one-shot corpus
    * pass.
    */
  private[ops] def demoAnalyzedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_an", d) { dir =>
      val docs = damagedFixtureDocs(s, d)
      saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, analyzed = true)
      appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir, analyzed = true)
      compactSearchIndex(s, dir)
    }

  /** INDEX INTROSPECTION — the monitoring row an operator dashboards
    * and alerting keys on: the two meta scalars next to the PHYSICAL
    * row counts of each relation plus live-tombstone and ledger
    * state. Row counts are parquet FOOTER metadata (count() with no
    * projected columns never scans data pages), so the whole probe is
    * metadata-cost at any index size. The invariants it exposes are
    * the ones that drift when maintenance misbehaves: doclen_rows =
    * n_docs and positions_rows = total_toks on a tombstone-free index
    * (both oracle-gated), dead rows > 0 = purge backlog, ledger_rows
    * = applied increments since the last fold.
    */
  def searchIndexStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fs = fsFor(s, dir)
    val (nDocs, totalToks) = readMeta(s, dir)
    def rowsOf(rel: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      if (fs.exists(p)) s.read.parquet(s"$dir/$rel").count() else 0L
    }
    val ledger = searchLedger.files(s, dir).length.toLong
    Seq(
      (
        nDocs,
        totalToks,
        rowsOf("postings"),
        rowsOf("positions"),
        rowsOf("doclen"),
        rowsOf("tombstones"),
        ledger
      )
    ).toDF(
      "n_docs",
      "total_toks",
      "postings_rows",
      "positions_rows",
      "doclen_rows",
      "tombstone_rows",
      "ledger_files"
    )
  }

  /** Monitoring gate: the stats row of the fixture index — the oracle
    * recomputes every engine-portable invariant from the corpus
    * (n_docs, total_toks, postings = distinct (token, doc) pairs,
    * positions = token occurrences, doclen = docs) and pins the
    * tombstone-free/unfolded-ledger state.
    */
  val searchIndexStatsQ: Q = (s, d) => searchIndexStats(s, demoSearchIndexDir(s, d))

  /** ANALYZED facet gate on the damaged corpus, UPPERCASED raw terms:
    * the analyzer must fold both sides and recover the damaged docs
    * into the counts (the raw facet route would miss them).
    */
  val searchFacetsAnalyzed: Q = (s, d) =>
    facetCounts(
      s,
      demoAnalyzedIndexDir(s, d),
      demoDocStoreDir(s, d),
      fixtureAndTerms.map(_.toUpperCase),
      "lang",
      Folded
    ).orderBy(desc("n_hits"), col("lang"))

  /** ANALYZED keyset-pagination gate: page 2 cursored from page 1's
    * last row over the damaged-corpus analyzed index.
    */
  val searchPageAfterAnalyzed: Q = (s, d) => {
    val dir = demoAnalyzedIndexDir(s, d)
    val raw = fixtureOrTerms.map(_.toUpperCase)
    val last = bm25FromIndex(s, dir, raw, topK, Folded).orderBy(desc("rank")).limit(1).head()
    bm25PageAfter(
      Index(s, dir),
      raw,
      topK,
      last.getAs[Long]("score_milli"),
      last.getAs[Long]("doc_id"),
      Folded
    ).orderBy("rank")
  }

  /** Index-served analyzed search over the damaged corpus: same raw
    * terms and k as [[searchAnalyzed]], sharing its oracle — the
    * equality IS the gate.
    */
  val searchAnalyzedIndex: Q = (s, d) =>
    conjunctiveFromIndex(s, demoAnalyzedIndexDir(s, d), fixtureAndTerms.map(_.toUpperCase), topK, Folded)
      .orderBy("rank")

  /** Analyzed BM25 corpus route over the damaged corpus. */
  val searchAnalyzedBm25: Q = (s, d) =>
    bm25Search(Corpus(damagedFixtureDocs(s, d)), fixtureOrTerms.map(_.toUpperCase), topK, Folded)
      .orderBy("rank")

  /** Analyzed BM25 served from the maintained analyzed index, sharing
    * the corpus route's oracle.
    */
  val searchAnalyzedBm25Index: Q = (s, d) =>
    bm25FromIndex(s, demoAnalyzedIndexDir(s, d), fixtureOrTerms.map(_.toUpperCase), topK, Folded)
      .orderBy("rank")

  /** Fixture batch of RAW (damaged-case/punctuated) query terms — the
    * analyzer must fold them to the index's keys in-plan.
    */
  private[ops] val fixtureAnalyzedBatch: Seq[(Long, String)] =
    Seq(
      1L -> "DUP", 1L -> "Spark!",
      2L -> "[hash]", 2L -> "JOIN",
      3L -> "Window.", 3L -> "dup"
    )

  /** Modes for [[fixtureAnalyzedBatch]] — query 3 exercises the OR
    * gate through the analyzer.
    */
  private[ops] val fixtureAnalyzedModes: Seq[(Long, String)] =
    Seq(1L -> "AND", 2L -> "AND", 3L -> "OR")

  /** The analyzed batch tier with modes, served from the damaged-
    * corpus index — raw case/punct variants fold in-plan, the OR
    * member admits single-term docs.
    */
  val searchBatchAnalyzedServe: Q = (s, d) => {
    import s.implicits._
    batchedSearch(
      Index(s, demoAnalyzedIndexDir(s, d)),
      fixtureAnalyzedBatch.toDF("query_id", "term"),
      k = 5,
      modes = Some(fixtureAnalyzedModes.toDF("query_id", "mode")),
      Folded
    ).orderBy("query_id", "rank")
  }

  val searchBatchAnalyzedBm25: Q = (s, d) => {
    import s.implicits._
    bm25BatchSearch(
      Index(s, demoAnalyzedIndexDir(s, d)),
      fixtureAnalyzedBatch.toDF("query_id", "term"),
      k = 5,
      Folded
    ).orderBy("query_id", "rank")
  }

  /** Raw DAMAGED trigram — analyzes to [[fixturePhrase3]], so the
    * analyzed phrase routes must count case-damaged (`HASH JOIN BIG`)
    * and bracket-damaged (`[hash] [join] [big]`) occurrences the raw
    * phrase routes can't see.
    */
  private[ops] val fixtureAnalyzedPhrase = Seq("[hash]", "JOIN", "Big")

  /** Analyzed trigram, corpus route, over the damaged corpus. */
  val searchPhraseAnalyzed: Q = (s, d) =>
    phraseSearch(Corpus(damagedFixtureDocs(s, d)), fixtureAnalyzedPhrase, Folded)
      .orderBy("doc_id")

  /** Analyzed trigram served from the MAINTAINED analyzed index
    * (build-even → append-odd → compact), sharing
    * [[searchPhraseAnalyzed]]'s oracle — the apositions lifecycle and
    * the driver-side term fold in one gate.
    */
  val searchPhraseAnalyzedIndex: Q = (s, d) =>
    phraseFromIndex(s, demoAnalyzedIndexDir(s, d), fixtureAnalyzedPhrase, Folded)
      .orderBy("doc_id")

  /** KWIC (keyword-in-context) snippets — the result-rendering pass of
    * retrieval: every occurrence of the term with a ±window token
    * context, from ONE posexplode over the contains-pruned candidates
    * (the token array rides the occurrence row, so a snippet is an
    * array slice — no re-scan, no per-occurrence string search).
    * Emitted positions are 1-based (the SQL convention both engines
    * share). Scale: rows = term occurrences, each bounded at 2w+1
    * tokens — output-sized however large the corpus. Under
    * [[Analyzer.Folded]] the occurrence test runs on folded tokens (the
    * term matches its case/punctuation variants) but positions and
    * snippets stay RAW, position-aligned with no pure-punct filtering —
    * a renderer shows the document's actual tokens around the hit.
    */
  def kwicSnippets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rawTerm: String,
      window: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    val term = a.term(rawTerm)
    require(term.nonEmpty, "the KWIC term must survive the analyzer")
    docs
      .filter(a.contains(textCol, term))
      .select(col(idCol).cast("long").as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "token")))
      .filter(a.token(col("token")) === term)
      .select(
        col("doc_id"),
        (col("pos") + 1).cast("long").as("pos"),
        expr(
          s"""array_join(slice(toks,
             |  greatest(1, pos + 1 - $window),
             |  least(size(toks), pos + 1 + $window) - greatest(1, pos + 1 - $window) + 1), ' ')""".stripMargin
        ).as("snippet")
      )
  }

  val searchKwic: Q = (s, d) =>
    kwicSnippets(documents(s, d), "doc_id", "text", fixturePhrase._1, 3)
      .orderBy("doc_id", "pos")

  /** Analyzed KWIC over the damaged corpus: the raw-cased query term
    * must hit every damage form, with snippets showing the RAW
    * (damaged) context a renderer would display.
    */
  val searchKwicAnalyzed: Q = (s, d) =>
    kwicSnippets(damagedFixtureDocs(s, d), "doc_id", "text", fixturePhrase._1.toUpperCase, 3, Folded)
      .orderBy("doc_id", "pos")

  // ---- KWIC for a RESULT PAGE, served from persisted artifacts -------

  /** Doc-hash bucket count for the persisted document text store. */
  private[ops] val docStoreBuckets = 64L

  /** doc_id → store bucket, driver-side — the executor twin is
    * [[docBucketCol]]; the `db|` domain prefix keeps the draw
    * independent of the token-bucket hash.
    */
  private[ops] def docBucket(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(s"db|$id".getBytes("UTF-8"))
    val hex = md.take(6).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % docStoreBuckets
  }

  private def docBucketCol: org.apache.spark.sql.Column =
    expr(
      s"CAST(conv(substring(md5(cast(concat('db|', CAST(doc_id AS STRING)) as binary)), 1, 12), 16, 10) AS BIGINT) % $docStoreBuckets"
    )

  /** Persist the document TEXT STORE alongside the search index:
    * `dir/dbucket=N/` holds every (doc_id, text) whose id hashes to N
    * (one file per bucket — the small-files guard every index write
    * here uses). This is the relation a serving tier reads to RENDER
    * results: corpus-sized on disk, but any page's read is pruned to
    * its hits' bucket dirs — page-sized I/O however large the corpus.
    */
  def saveDocStore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      metaCols: Seq[String] = Nil
  ): Unit =
    Generations.build(docStore(idCol, textCol, metaCols), docs, dir)

  private def docStoreRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      metaCols: Seq[String]
  ): DataFrame =
    docs
      .select(
        (col(idCol).cast("long").as("doc_id") +: col(textCol).as("text") +:
          metaCols.map(col)): _*
      )
      .withColumn("dbucket", docBucketCol)

  /** The store's LIVE rows — the single read path every store
    * consumer uses (tombstone-aware, zero plan change without
    * tombstones).
    */
  private def docStoreLive(s: SparkSession, storeDir: String): DataFrame =
    liveRows(s, storeDir, s.read.parquet(s"$storeDir/docs"))

  /** The doc store as a [[Generations]] kind: one doc-bucketed
    * relation and no stats. An upsert reads the batch twice
    * (tombstones + rows), so it is persisted then; compaction always
    * records the as-of horizon — [[docStoreAsOf]] must fail loudly below
    * it instead of serving the live text under an old page.
    */
  private def docStore(idCol: String = "doc_id", textCol: String = "text", metaCols: Seq[String] = Nil): Kind =
    Kind(
      keyCol = "doc_id",
      relations = Seq(Relation("docs", Some("dbucket"), b => docStoreRows(b, idCol, textCol, metaCols))),
      persist = upsert => upsert,
      horizon = Horizon.Always
    )

  /** DELETE documents from the doc store — tombstones only (the store
    * has no meta scalars); [[compactDocStore]] purges physically.
    */
  def deleteFromDocStore(s: SparkSession, dir: String, ids: DataFrame): Unit =
    Generations.delete(docStore(), s, dir, ids)

  /** Apply ONE micro-batch of documents to the persisted doc store,
    * idempotently — [[graft.streaming.StreamingIngest.docStoreStream]]'s
    * unit, and the rendering tier's member of the index-maintenance
    * family: the SERP's snippets and facets must reflect the same
    * document versions the postings index serves, so the store
    * maintains under the same [[Generations]] protocol.
    */
  def applyDocStoreBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      batchId: Long,
      metaCols: Seq[String] = Nil,
      upsert: Boolean = false
  ): Unit =
    Generations.apply(docStore(idCol, textCol, metaCols), batch, idCol, dir, batchId, upsert)

  /** Compact the store back to one file per bucket dir; with live
    * tombstones the rewrite is ALSO the physical purge, and the
    * tombstones are consumed.
    */
  def compactDocStore(spark: SparkSession, dir: String): Unit =
    Generations.compact(docStore(), spark, dir)

  /** FACET counts over a query's FULL match set, served from persisted
    * artifacts — the SERP sidebar ("123 hits in en, 41 in de"): the
    * match set comes from the postings index (the all-terms gate over
    * the terms' pruned bucket dirs — match-set-sized, never top-k),
    * facet values from the doc store's META columns, where parquet
    * column pruning reads ONLY (doc_id, facet, dbucket) — the text
    * column never leaves the footer (spec-pinned). The join is
    * doc-keyed: at 100 TB a facet pass over M hits shuffles M ids
    * against the store's narrow facet column — the forward-index
    * ("doc values") design search engines use, and the one shape here
    * that is inherently hit-set-sized rather than page-sized.
    */
  def facetCounts(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      terms: Seq[String],
      facetCol: String,
      a: Analyzer = Raw
  ): DataFrame = {
    val meta = docStoreLive(s, storeDir).select(col("doc_id"), col(facetCol))
    allTermsMatched(s, indexDir, terms, a)
      .select(col("doc_id"))
      .join(meta, "doc_id")
      .groupBy(col(facetCol))
      .agg(count(lit(1)).cast("long").as("n_hits"))
  }

  /** The all-terms match set — (doc_id, dl) per doc holding EVERY
    * query term, over the terms' pruned bucket dirs (dl is constant per
    * doc and rides each posting row, so max is just the pick).
    * Match-set-sized, never top-k: what the facet sidebars count.
    */
  private def allTermsMatched(s: SparkSession, indexDir: String, rawTerms: Seq[String], a: Analyzer): DataFrame = {
    val terms = a.terms(rawTerms)
    require(terms.nonEmpty, "facet counts need at least one non-empty term")
    postingsScan(s, indexDir, terms, a)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_matched"), max(col(a.dl)).cast("long").as("dl"))
      .filter(col("n_matched") === terms.size.toLong)
      .select(col("doc_id"), col("dl"))
  }

  /** MULTI-FACET sidebar — every dimension of the real SERP sidebar
    * ("language" AND "source") counted in ONE hit-set pass: the match
    * set joins the store's meta columns once, each hit row explodes to
    * its (facet, value) pairs (hit-set × |facets| rows — the same
    * volume |facets| separate sidebars would shuffle, in one job with
    * one store read), counts per pair. Parquet column pruning still
    * reads only (doc_id, facets, dbucket) — the text column never
    * loads.
    */
  def multiFacetCounts(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      terms: Seq[String],
      facetCols: Seq[String]
  ): DataFrame = {
    require(facetCols.nonEmpty, "multi-facet counts need at least one facet column")
    require(facetCols.distinct.size == facetCols.size, s"duplicate facet columns: $facetCols")
    val matched = allTermsMatched(s, indexDir, terms, Raw).select(col("doc_id"))
    val meta = docStoreLive(s, storeDir).select(col("doc_id") +: facetCols.map(col): _*)
    matched
      .join(meta, "doc_id")
      .select(
        explode(
          map(facetCols.flatMap(f => Seq(lit(f), col(f).cast("string"))): _*)
        ).as(Seq("facet", "value"))
      )
      .groupBy(col("facet"), col("value"))
      .agg(count(lit(1)).cast("long").as("n_hits"))
  }

  /** NUMERIC RANGE FACETS over the match set — the SERP sidebar's
    * histogram dimension ("length: 0–31 (12) · 32–63 (8) · …"): the
    * conjunctive match set comes from the postings index (terms'
    * pruned bucket dirs), the numeric attribute is the doc length the
    * build denormalized onto every posting row (the analyzer's length
    * column) — one pruned scan serves gate AND histogram, so no
    * doc-keyed relation, no doc-store read and no text column ever
    * loads. Buckets are fixed-width floors ((dl div width)·width),
    * counts per occupied bucket.
    */
  def rangeFacetCounts(
      s: SparkSession,
      indexDir: String,
      terms: Seq[String],
      width: Long,
      a: Analyzer = Raw
  ): DataFrame = {
    require(width > 0, s"range facet width must be positive, got $width")
    allTermsMatched(s, indexDir, terms, a)
      .groupBy(((col("dl") / width).cast("long") * width).as("range_lo"))
      .agg(count(lit(1)).cast("long").as("n_hits"))
  }

  /** GROUPED TOP-K — the diversified SERP ("at most g results per
    * source"): BM25 scores from the postings index (corpus model,
    * exactly [[bm25FromIndex]]'s), the grouping attribute from the doc
    * store's meta column (parquet column-pruned like [[facetCounts]]),
    * a per-group window keeps the g best hits of each group value,
    * then the global page re-ranks the survivors. The window
    * partitions by the facet over the HIT SET (hit-set-sized, the same
    * inherent cost as the facet sidebar), never the corpus; per-group
    * state is a g-deep top-k, so no group — however hot — exceeds g
    * rows into the final rank.
    */
  def groupedTopKFromIndex(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      terms: Seq[String],
      facetCol: String,
      perGroup: Int,
      k: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(perGroup >= 1, s"perGroup must be >= 1, got $perGroup")
    val meta = docStoreLive(s, storeDir).select(col("doc_id"), col(facetCol))
    val kept = bm25Scored(Index(s, indexDir), terms, a)
      .join(meta, "doc_id")
      .withColumn(
        "gr",
        row_number().over(
          Window.partitionBy(col(facetCol)).orderBy(col("score_milli").desc, col("doc_id").asc)
        )
      )
      .filter(col("gr") <= perGroup)
    kept
      .orderBy(col("score_milli").desc, col("doc_id").asc)
      .limit(k)
      .withColumn(
        "rank",
        row_number()
          .over(Window.orderBy(col("score_milli").desc, col("doc_id").asc))
          .cast("bigint")
      )
      .select(col("rank"), col("doc_id"), col(facetCol), col("score_milli"))
  }

  /** BEST-PASSAGE retrieval (the unified-highlighter selection pass):
    * for every matching document, the W-token window that maximizes
    * the summed idf of the query-term occurrences inside it — anchored
    * at match positions (a best window always starts AT some match,
    * so anchors are the terms' own occurrences, never a per-token
    * enumeration), ties to the earliest start; then the top-k docs BY
    * their best passage's score, each rendered from the doc store
    * pruned to the page. Cost: the anchor×occurrence join is
    * per-document and bounded by (query-term occurrences)² — the
    * classic highlighter bound — over the terms' pruned bucket dirs;
    * the store read is page-sized. idf is the term-search micro model
    * (df from the pruned postings, N from meta), so passage scores are
    * exact integers end to end. Under [[Analyzer.Folded]] positions
    * index the folded stream and each snippet renders the winner's
    * FOLDED token window (the store text re-folds in-plan with the
    * index's own chain) — pass the store of the text the index saw.
    *
    * Output: (rank, doc_id, start — 1-based, score_micro, snippet).
    */
  def bestPassages(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      rawTerms: Seq[String],
      window: Int,
      k: Int,
      a: Analyzer = Raw
  ): DataFrame = {
    import s.implicits._
    require(window >= 1, s"passage window must be >= 1, got $window")
    val terms = a.terms(rawTerms)
    require(terms.nonEmpty, "best passage needs at least one non-empty term")
    val p = postingsScan(s, indexDir, terms, a)
    val idf = idfModel(p, readMeta(s, indexDir)._1, 1000000L)
    val occ = positionsScan(s, indexDir, terms, a)
      .join(broadcast(idf), "token")
      .select(col("doc_id"), col("pos"), col("idf_micro"))
    val anchors = occ.select(col("doc_id").as("__d"), col("pos").as("start"))
    val best = anchors
      .join(occ, col("__d") === col("doc_id"))
      .filter(col("pos") >= col("start") && col("pos") < col("start") + window.toLong)
      .groupBy(col("doc_id"), col("start"))
      .agg(sum(col("idf_micro")).cast("long").as("w_micro"))
      // argmax per doc with the earliest-start tie-break: max over the
      // (score, -start) struct is score-primary, then min start
      .groupBy(col("doc_id"))
      .agg(max(struct(col("w_micro"), (-col("start")).as("ns"))).as("b"))
      .select(
        col("doc_id"),
        (-col("b.ns")).cast("long").as("start0"),
        col("b.w_micro").cast("long").as("score_micro")
      )
    val page = best
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    if (page.isEmpty) {
      return Seq
        .empty[(Long, Long, Long, Long, String)]
        .toDF("rank", "doc_id", "start", "score_micro", "snippet")
    }
    val ids = page.map(_._1).toSeq
    val dbuckets = ids.map(docBucket).distinct
    // the page's token arrays under the analyzer, so positions and
    // rendering stay aligned even on damaged documents
    val toks = docStoreLive(s, storeDir)
      .filter(col("dbucket").isin(dbuckets: _*) && col("doc_id").isin(ids: _*))
      .select(col("doc_id"), a.tokens("text").as("toks"))
    val ranked = page.zipWithIndex.toSeq
      .map { case ((id, st, sc), i) => (i + 1L, id, st, sc) }
      .toDF("rank", "doc_id", "start0", "score_micro")
    broadcast(ranked)
      .join(toks, "doc_id")
      .select(
        col("rank"),
        col("doc_id"),
        (col("start0") + 1).cast("long").as("start"),
        col("score_micro"),
        expr(s"array_join(slice(toks, cast(start0 + 1 as int), $window), ' ')").as("snippet")
      )
  }

  /** KWIC snippets for a RESULT PAGE, served end-to-end from persisted
    * artifacts — the rendering pass production actually runs: a page
    * holds ≤ k hits, so snippets must cost page I/O, not the corpus
    * pass [[kwicSnippets]] pays. The hits relation is request-sized
    * (collected driver-side, the deduped-page pattern); the term's
    * occurrences come from the POSITIONAL index pruned to the term's
    * bucket dir AND the page's doc ids; the documents' token arrays
    * come from the doc store pruned to the hits' `dbucket` dirs
    * (PartitionFilters, spec-pinned). Same 1-based positions and
    * ±window slice arithmetic as the corpus route, with the hit's page
    * rank riding each snippet row — search_kwic_page shares a
    * page-restricted form of search_kwic's oracle. Under
    * [[Analyzer.Folded]] see [[kwicPageMulti]]: raw positions and
    * snippets, folded hit test.
    */
  def kwicPage(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      hits: DataFrame, // (rank, doc_id) — a result page, request-sized
      term: String,
      window: Int,
      a: Analyzer = Raw
  ): DataFrame =
    kwicPageMulti(s, indexDir, storeDir, hits, Seq(term), window, a = a)
      .select(col("rank"), col("doc_id"), col("pos"), col("snippet"))

  /** MULTI-TERM page highlighting — a production SERP renders snippets
    * covering ALL query terms, not one: the generalization of
    * [[kwicPage]] to a term set, still page-cost end to end — ONE
    * positional read pruned to the terms' bucket dirs ∪ the page's doc
    * ids, ONE store read pruned to the hits' dbucket dirs, a snippet
    * window per (doc, term, occurrence) with the matched term riding
    * each row. Under [[Analyzer.Folded]] no positional index is read at
    * all: folded positions number the FILTERED stream, while display
    * wants the document's actual indices, so the occurrences come from
    * the page's own store tokens folded in-plan (position-aligned, no
    * pure-punct filtering; ≤ k docs exploded) — the folded hit test
    * over raw tokens, raw snippets. The optional `asOf` generation
    * serves the ERA's snippets: both the positional read and the store
    * read reconstruct through the as-of [[liveRows]] (same horizon contract as
    * every time-travel route), so an as-of page renders exactly what
    * the index served then. Gates: search_kwic_page_multi's oracle is
    * the UNION of the per-term page oracles; search_asof_page shares
    * the restricted-corpus form search_asof_probe uses.
    */
  def kwicPageMulti(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      hits: DataFrame, // (rank, doc_id) — a result page, request-sized
      rawTerms: Seq[String],
      window: Int,
      asOf: Option[Long] = None,
      a: Analyzer = Raw
  ): DataFrame = {
    import s.implicits._
    val terms = a.terms(rawTerms)
    require(terms.nonEmpty, "kwic page needs at least one term that survives the analyzer")
    val hitRows = hits
      .select(col("rank").cast("long"), col("doc_id").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = hitRows.map(_._2).toSeq
    if (ids.isEmpty) {
      return Seq
        .empty[(Long, Long, String, Long, String)]
        .toDF("rank", "doc_id", "term", "pos", "snippet")
    }
    val dbuckets = ids.map(docBucket).distinct
    val ranks = hitRows.toSeq.toDF("rank", "doc_id")
    val storeScan = s.read
      .parquet(s"$storeDir/docs")
      .filter(col("dbucket").isin(dbuckets: _*) && col("doc_id").isin(ids: _*))
    val toks = liveRows(s, storeDir, storeScan, asOf = asOf)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val occ =
      if (a == Raw)
        positionsScan(s, indexDir, terms, a, asOf)
          .filter(col("doc_id").isin(ids: _*))
          .select(col("token").as("term"), col("doc_id"), col("pos"))
          .join(toks, "doc_id") // page-sized both sides
      else
        toks
          .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "tok")))
          .select(col("doc_id"), col("toks"), col("pos"), a.token(col("tok")).as("term"))
          .filter(col("term").isin(terms: _*))
    occ
      .join(broadcast(ranks), "doc_id")
      .select(
        col("rank"),
        col("doc_id"),
        col("term"),
        (col("pos") + 1).cast("long").as("pos"),
        expr(
          s"""array_join(slice(toks,
             |  greatest(1, pos + 1 - $window),
             |  least(size(toks), pos + 1 + $window) - greatest(1, pos + 1 - $window) + 1), ' ')""".stripMargin
        ).as("snippet")
      )
  }

  /** The doc store as it stood after generation G — the rendering
    * tier's time-travel read, mirroring the index's [[liveRows]]: rows
    * with file generation ≤ G survive unless a tombstone with
    * asof ≤ G outranks them. Same horizon contract (compactDocStore
    * records `_asof_horizon`; reads below it fail loudly).
    */
  def docStoreAsOf(s: SparkSession, storeDir: String, asOfGen: Long): DataFrame =
    liveRows(s, storeDir, s.read.parquet(s"$storeDir/docs"), asOf = Some(asOfGen))

  /** The as-of rendered page: [[kwicPageMulti]] at one term with the
    * generation pinned — as-of hits plus their ERA's snippets.
    */
  def kwicPageAsOf(
      s: SparkSession,
      indexDir: String,
      storeDir: String,
      hits: DataFrame,
      term: String,
      window: Int,
      asOfGen: Long
  ): DataFrame =
    kwicPageMulti(s, indexDir, storeDir, hits, Seq(term), window, asOf = Some(asOfGen))
      .select(col("rank"), col("doc_id"), col("pos"), col("snippet"))

  /** Once-per-process persisted doc store over the fixture corpus —
    * text plus the two facet dimensions the SERP sidebar counts.
    */
  private[ops] def demoDocStoreDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "docstore", d)(
      saveDocStore(documents(s, d), "doc_id", "text", _, metaCols = Seq("lang", "source"))
    )

  /** Doc store over the DAMAGED corpus — the analyzed serving gates'
    * rendering source (snippets must show the document's ACTUAL,
    * damaged text).
    */
  private[ops] def demoDamagedDocStoreDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "docstore_dmg", d)(
      saveDocStore(damagedFixtureDocs(s, d), "doc_id", "text", _)
    )

  /** The analyzed rendered page: hits from the persisted ANALYZED
    * index (uppercased raw term — the analyzer folds both sides),
    * snippets from the damaged-corpus doc store pruned to the page —
    * raw damaged text, analyzed hit test, page-sized I/O.
    */
  val searchKwicPageAnalyzed: Q = (s, d) => {
    val dir = demoAnalyzedIndexDir(s, d)
    val hits = conjunctiveFromIndex(s, dir, Seq(fixturePhrase._1.toUpperCase), kwicPageK, Folded)
      .select(col("rank"), col("doc_id"))
    kwicPage(s, dir, demoDamagedDocStoreDir(s, d), hits, fixturePhrase._1.toUpperCase, 3, Folded)
      .orderBy("rank", "pos")
  }

  private val kwicPageK = 5

  /** Facet gate: lang counts over the conjunctive match set, index +
    * doc-store served — the oracle recomputes the exact-token AND
    * match set and joins the corpus's lang column.
    */
  val searchFacets: Q = (s, d) =>
    facetCounts(s, demoSearchIndexDir(s, d), demoDocStoreDir(s, d), fixtureAndTerms, "lang")
      .orderBy(desc("n_hits"), col("lang"))

  /** Multi-facet sidebar gate: lang AND source counted in one hit-set
    * pass — the oracle recomputes each dimension independently and
    * unions.
    */
  val searchFacetsMulti: Q = (s, d) =>
    multiFacetCounts(
      s,
      demoSearchIndexDir(s, d),
      demoDocStoreDir(s, d),
      fixtureAndTerms,
      Seq("lang", "source")
    ).orderBy(col("facet"), col("value"))

  /** Keyset-pagination gate: the page-2 probe cursors from page 1's
    * LAST row (the (score, doc_id) total order) — the oracle ranks the
    * whole chain once and renumbers rows topK+1..2·topK, so a cursor
    * that skips or repeats a row hash-mismatches.
    */
  val searchPageAfter: Q = (s, d) => {
    val dir = demoSearchIndexDir(s, d)
    val last = bm25FromIndex(s, dir, fixtureOrTerms, topK)
      .orderBy(desc("rank"))
      .limit(1)
      .head()
    bm25PageAfter(
      Index(s, dir),
      fixtureOrTerms,
      topK,
      last.getAs[Long]("score_milli"),
      last.getAs[Long]("doc_id")
    ).orderBy("rank")
  }

  /** The rendered result page: hits for the KWIC term from the
    * persisted search index, snippets from the positional index + doc
    * store pruned to the page — neither the corpus nor the full store
    * is scanned. Shares search_kwic's oracle restricted to the page's
    * documents (with the page rank joined on).
    */
  val searchKwicPage: Q = (s, d) => {
    val hits = conjunctiveFromIndex(s, demoSearchIndexDir(s, d), Seq(fixturePhrase._1), kwicPageK)
      .select(col("rank"), col("doc_id"))
    kwicPage(s, demoSearchIndexDir(s, d), demoDocStoreDir(s, d), hits, fixturePhrase._1, 3)
      .orderBy("rank", "pos")
  }

  /** Multi-term page rendering gate: the AND page for the phrase
    * pair, snippets for BOTH terms from one pruned positional read —
    * the oracle is the union of the per-term page oracles.
    */
  val searchKwicPageMulti: Q = (s, d) => {
    val terms = Seq(fixturePhrase._1, fixturePhrase._2)
    val hits = conjunctiveFromIndex(s, demoSearchIndexDir(s, d), terms, kwicPageK)
      .select(col("rank"), col("doc_id"))
    kwicPageMulti(s, demoSearchIndexDir(s, d), demoDocStoreDir(s, d), hits, terms, 3)
      .orderBy("rank", "term", "pos")
  }

  /** SERP filter-click gate: BM25 over the OR terms restricted to the
    * lang=en facet — scores stay corpus-model (shared with
    * search_bm25's sc chain), the page re-cuts after the filter.
    */
  val searchFacetFiltered: Q = (s, d) =>
    bm25FromIndexFiltered(
      s,
      demoSearchIndexDir(s, d),
      demoDocStoreDir(s, d),
      fixtureOrTerms,
      "lang",
      "en",
      topK
    ).orderBy("rank")

  /** Deterministic two-field fixture for BM25F: title = the first
    * [[fixtureTitleLen]] tokens, body = the rest — BOTH round-tripped
    * through strings (array_join then the index re-splits), so a
    * ≤ 5-token doc gets body = "" which re-splits to [""] (dl 1) on
    * BOTH engines; the oracle replays the same round-trip.
    */
  private[ops] val fixtureTitleLen = 5

  /** The deterministic title/body split of a (doc_id, text) relation —
    * first [[fixtureTitleLen]] tokens are the title, the rest the
    * body; shared by the batch fixtures and the streaming gates.
    */
  private[graft] def fieldedDocsOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr(s"array_join(slice(split(text, ' '), 1, $fixtureTitleLen), ' ')").as("title"),
      expr(
        s"array_join(slice(split(text, ' '), ${fixtureTitleLen + 1}, " +
          s"greatest(0, size(split(text, ' ')) - $fixtureTitleLen)), ' ')"
      ).as("body")
    )

  private[graft] def fieldedFixtureDocs(s: SparkSession, d: String): DataFrame =
    fieldedDocsOf(documents(s, d))

  private[ops] def demoFieldedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_fielded", d)(dir =>
      saveFieldedSearchIndex(fieldedFixtureDocs(s, d), "doc_id", Seq("title", "body"), dir)
    )

  private[graft] val fixtureBoosts = Seq("title" -> 3L, "body" -> 1L)

  /** Fielded-scoring gate: BM25F over (title×3, body×1) — the oracle
    * recomputes the exact integer rational form over the same
    * deterministic field split.
    */
  val searchBm25f: Q = (s, d) =>
    bm25fFromIndex(s, demoFieldedIndexDir(s, d), fixtureOrTerms, fixtureBoosts, topK)
      .orderBy("rank")

  /** The fielded APPEND lifecycle demo: half-corpus build, the other
    * half appended — fpostings/fdoclen grow, fmeta adds the
    * increment's per-field scalars exactly.
    */
  private[ops] def demoAppendedFieldedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_fld_app", d) { dir =>
      val docs = fieldedFixtureDocs(s, d)
      saveFieldedSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", Seq("title", "body"), dir)
      appendToFieldedSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", Seq("title", "body"), dir)
    }

  /** The fielded TOMBSTONE demo: full build, every doc_id % 5 == 1
    * deleted, NO compaction — BM25F must serve through the tombstone
    * anti-join with exactly-decremented per-field scalars.
    */
  private[ops] def demoDeletedFieldedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_fld_del", d) { dir =>
      val docs = fieldedFixtureDocs(s, d)
      saveFieldedSearchIndex(docs, "doc_id", Seq("title", "body"), dir)
      deleteFromFieldedIndex(s, dir, docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
    }

  /** [[demoDeletedFieldedIndexDir]] plus the compaction that purges
    * physically and re-derives fmeta from the surviving fdoclen rows.
    */
  private[ops] def demoDeleteCompactedFieldedIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "searchidx_fld_delc", d) { dir =>
      val docs = fieldedFixtureDocs(s, d)
      saveFieldedSearchIndex(docs, "doc_id", Seq("title", "body"), dir)
      deleteFromFieldedIndex(s, dir, docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
      compactFieldedIndex(s, dir)
    }

  /** Fielded append gate — shares search_bm25f's oracle: built-then-
    * appended must equal one-shot-built bit for bit (union postings,
    * exact scalar sums).
    */
  val searchBm25fAppended: Q = (s, d) =>
    bm25fFromIndex(s, demoAppendedFieldedIndexDir(s, d), fixtureOrTerms, fixtureBoosts, topK)
      .orderBy("rank")

  /** Fielded delete gate: BM25F through LIVE tombstones must equal
    * BM25F over the live corpus (scores included — N and per-field
    * avgdl decremented exactly, df from live rows only).
    */
  val searchBm25fDeleted: Q = (s, d) =>
    bm25fFromIndex(s, demoDeletedFieldedIndexDir(s, d), fixtureOrTerms, fixtureBoosts, topK)
      .orderBy("rank")

  /** Post-purge fielded gate (shares [[searchBm25fDeleted]]'s oracle):
    * after compaction the tombstones are consumed, dead rows are
    * physically absent, fmeta re-derived — the page must not move.
    */
  val searchBm25fDelCompacted: Q = (s, d) =>
    bm25fFromIndex(s, demoDeleteCompactedFieldedIndexDir(s, d), fixtureOrTerms, fixtureBoosts, topK)
      .orderBy("rank")

  /** Field-scoped search through live tombstones (shares the deleted
    * index): in-field df/N semantics must hold over live rows only.
    */
  val searchFieldScopedDeleted: Q = (s, d) =>
    fieldedTermSearch(s, demoDeletedFieldedIndexDir(s, d), "title", fixtureOrTerms, topK)
      .orderBy("rank")

  // ---- Hybrid retrieval + result diversification ----------------------

  /** RECIPROCAL-RANK FUSION of K ranked lists — the standard hybrid-
    * retrieval combiner (lexical BM25 + vector ANN in production):
    * score(id) = Σ_lists 1/(rrfK + rank_list(id)), absent → 0. Ranks
    * are small integers, so the fusion is EXACT integer arithmetic in
    * micro-units (10⁶ div (rrfK + rank)) — no float, no cross-engine
    * drift, and score-scale-free (BM25 milli vs cosine micro never
    * meet; only ranks do — the reason RRF is the production default).
    * Input lists are top-k relations (request-sized), so the fold of
    * full-outer joins is a driver-light broadcast chain at any corpus
    * scale; each list df must carry (id, rank).
    */
  def rrfFuse(lists: Seq[(String, DataFrame)], rrfK: Int = 60): DataFrame =
    rrfFuseWeighted(lists.map { case (n, df) => (n, df, 1L) }, rrfK)

  /** WEIGHTED RRF — the production tuning knob on the hybrid page
    * ("lexical counts double"): each list's reciprocal-rank
    * contribution is multiplied by its integer weight BEFORE the sum
    * (w·(10⁶ div (rrfK + rank))), so the fusion stays exact integer
    * arithmetic and reduces to plain [[rrfFuse]] at all-ones weights.
    * Same request-sized join chain — weights change scores, never the
    * plan.
    */
  def rrfFuseWeighted(lists: Seq[(String, DataFrame, Long)], rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrf needs at least one ranked list")
    lists.foreach { case (n, _, w) => require(w > 0, s"rrf weight for '$n' must be positive, got $w") }
    val tagged = lists.map { case (name, df, _) =>
      df.select(col("id").cast("long").as("id"), col("rank").cast("long").as(s"${name}_rank"))
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val contrib = lists
      .map { case (name, _, w) => coalesce(expr(s"$w * (1000000 div ($rrfK + ${name}_rank))"), lit(0L)) }
      .reduce(_ + _)
    joined
      .withColumn("rrf_micro", contrib.cast("long"))
      .select(
        col("id") +:
          lists.map { case (n, _, _) => coalesce(col(s"${n}_rank"), lit(0L)).as(s"${n}_rank") } :+
          col("rrf_micro"): _*
      )
  }

  /** Hybrid fixture gate: BM25 over the OR terms fused with the
    * brute-force cosine top-k for query vector 0 (the ann_cosine_topk
    * fixture) — ids meet in the shared id space, ranks fuse, the
    * oracle re-derives both lists and the integer fusion.
    */
  val searchRrfHybrid: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Search(Corpus(documents(s, d)), fixtureOrTerms, topK)
      .select(col("doc_id").as("id"), col("rank"))
    val vec = Similarity
      .cosineTopK(embeddings(s, d), 0L, topK)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(desc("cos_sim"), asc("vec_id"))).cast("bigint")
      )
      .select(col("vec_id").as("id"), col("rank"))
    rrfFuse(Seq("lex" -> lex, "vec" -> vec))
      .orderBy(desc("rrf_micro"), asc("id"))
  }

  /** The hybrid page served END-TO-END from persisted artifacts — the
    * production read path: the lexical list from the token-bucketed
    * search index ([[bm25FromIndex]]: pruned buckets + meta scalars,
    * zero corpus passes) fused with the vector list from the persisted
    * IVF index ([[Similarity.ivfTopKFromIndex]]: centroid table +
    * pruned list partitions). The fixture probes ALL 16 lists
    * (nProbe = nLists), which makes IVF exhaustive-exact, so the fused
    * page must equal [[searchRrfHybrid]]'s corpus-derived page bit for
    * bit — search_rrf_index shares search_rrf_hybrid's oracle, and
    * that equality is the gate. Production sets nProbe < nLists and
    * accepts ANN recall on the vector leg; the fusion arithmetic is
    * unchanged.
    */
  val searchRrfIndex: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25FromIndex(s, demoSearchIndexDir(s, d), fixtureOrTerms, topK)
      .select(col("doc_id").as("id"), col("rank"))
    val vec = Similarity
      .ivfTopKFromIndex(s, Similarity.demoIvfIndexDir(s, d), queryId = 0L, k = topK, nProbe = 16)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(desc("cos_sim"), asc("vec_id"))).cast("bigint")
      )
      .select(col("vec_id").as("id"), col("rank"))
    rrfFuse(Seq("lex" -> lex, "vec" -> vec))
      .orderBy(desc("rrf_micro"), asc("id"))
  }

  /** The weighted hybrid page from persisted artifacts — the fusion
    * tuning production ships ("lexical counts double"): same two legs
    * as [[searchRrfIndex]] (exhaustive-exact IVF, so both legs stay
    * engine-recomputable), weights (lex 2, vec 1). The oracle
    * recomputes both legs and the weighted integer fusion.
    */
  val searchRrfWeighted: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25FromIndex(s, demoSearchIndexDir(s, d), fixtureOrTerms, topK)
      .select(col("doc_id").as("id"), col("rank"))
    val vec = Similarity
      .ivfTopKFromIndex(s, Similarity.demoIvfIndexDir(s, d), queryId = 0L, k = topK, nProbe = 16)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(desc("cos_sim"), asc("vec_id"))).cast("bigint")
      )
      .select(col("vec_id").as("id"), col("rank"))
    rrfFuseWeighted(Seq(("lex", lex, 2L), ("vec", vec, 1L)))
      .orderBy(desc("rrf_micro"), asc("id"))
  }

  /** Field-scoped query gate: `title:` restricted OR search over the
    * fielded fixture index — a body-only mention must neither match
    * nor score (the oracle recomputes the title-split df/tf chain).
    */
  val searchFieldScoped: Q = (s, d) =>
    fieldedTermSearch(s, demoFieldedIndexDir(s, d), "title", fixtureOrTerms, topK)
      .orderBy("rank")

  /** The hybrid page with the lexical leg ANALYZED — the combination
    * production actually ships (real queries carry case and
    * punctuation; the raw lexical leg would drop the damaged docs the
    * analyzer recovers): analyzed BM25 from the persisted apostings
    * index ⊕ the exhaustive IVF vector leg, fused with the same exact
    * integer RRF. Oracle recomputes BOTH legs (the analyzed chain over
    * the damaged corpus, brute-force cosine) and the fusion.
    */
  val searchRrfAnalyzed: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val lex =
      bm25FromIndex(s, demoAnalyzedIndexDir(s, d), fixtureOrTerms.map(_.toUpperCase), topK, Folded)
        .select(col("doc_id").as("id"), col("rank"))
    val vec = Similarity
      .ivfTopKFromIndex(s, Similarity.demoIvfIndexDir(s, d), queryId = 0L, k = topK, nProbe = 16)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(desc("cos_sim"), asc("vec_id"))).cast("bigint")
      )
      .select(col("vec_id").as("id"), col("rank"))
    rrfFuse(Seq("lex" -> lex, "vec" -> vec))
      .orderBy(desc("rrf_micro"), asc("id"))
  }

  /** The hybrid page at the PRODUCTION recall configuration:
    * nProbe = 4 of 16 lists, so the vector leg accepts ANN recall
    * (reads 1/4 of the index) while the lexical leg and the exact
    * integer fusion are unchanged. [[searchRrfIndex]] gates the
    * exhaustive-exact configuration against the corpus-derived page;
    * THIS query hash-gates the nProbe < nLists behavior itself: the
    * vector leg replays [[Similarity.ivfTopkGoldenSf001]] — the same
    * seeded centroid assignment + probe restriction the
    * ann_ivf_topk_index pin gates — while the oracle recomputes the
    * BM25 chain and the RRF arithmetic engine-side (the
    * bitext_mine_index pattern: the engine-unportable leg rides a
    * pinned replay, everything portable is recomputed).
    */
  val searchRrfRecall: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25FromIndex(s, demoSearchIndexDir(s, d), fixtureOrTerms, topK)
      .select(col("doc_id").as("id"), col("rank"))
    val vec = Similarity
      .ivfTopKFromIndex(s, Similarity.demoIvfIndexDir(s, d), queryId = 0L, k = topK, nProbe = 4)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(desc("cos_sim"), asc("vec_id"))).cast("bigint")
      )
      .select(col("vec_id").as("id"), col("rank"))
    rrfFuse(Seq("lex" -> lex, "vec" -> vec))
      .orderBy(desc("rrf_micro"), asc("id"))
  }

  /** CLUSTER-DEDUPED search results — retrieval-side diversification:
    * a result page full of near-duplicates of one document wastes the
    * whole page, so hits are collapsed to the best-ranked member of
    * each near-dup cluster (the SAME cluster map dedup_clusters
    * labels with — LSH→Jaccard-confirmed edges, connected components)
    * and re-ranked dense. The hit list is request-sized, so the
    * cluster join broadcasts it; the cluster map is the persisted
    * relation a production serving tier reads ([[GraphDedup]]'s
    * saved map), re-derived here for the gate.
    */
  def dedupedResults(hits: DataFrame, clusterMap: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    hits
      .join(clusterMap, "doc_id")
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("cluster_id")).orderBy(col("rank").asc))
      )
      .filter(col("rn") === 1)
      .withColumn("new_rank", row_number().over(Window.orderBy(col("rank").asc)).cast("bigint"))
      .select(col("new_rank"), col("doc_id"), col("cluster_id"), col("rank").as("orig_rank"))
  }

  private val dedupResultsK = 50

  val searchDedupResults: Q = (s, d) => {
    // shared (doc_id, text) pin: the disjunctive search scan, the LSH
    // pass's two corpus scans and the cluster-map label join all read
    // it — 4 corpus scans become 1 (§2.4/§6)
    val docs = documents(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
    try {
      val hits = disjunctiveSearch(Corpus(docs), fixtureOrTerms, dedupResultsK)
        .select(col("rank"), col("doc_id"))
      val edges = Dedup
        .lshCandidatesWithJaccard(docs, "doc_id", "text")
        .filter(Dedup.jaccardAtLeast(0.5))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val lab = GraphDedup.clusterMap(docs, GraphDedup.connectedComponents(edges))
      dedupedResults(hits, lab).orderBy("new_rank").localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(docs)
  }

  /** Bucket count of the demo persisted cluster map (saveClusterMap's
    * default layout).
    */
  private val cmapBuckets = 32

  /** Once-per-process PERSISTED near-dup cluster map over the fixture
    * corpus — the [[GraphDedup.saveClusterMap]] serving artifact the
    * deduped-results page reads in production (every doc labeled;
    * singletons label themselves, so a hit can never fall out of the
    * join). Same edges and labels as dedup_clusters.
    */
  private[ops] def demoClusterMapDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "cmap", d) { dir =>
      val docs = documents(s, d)
      val edges = Dedup
        .lshCandidatesWithJaccard(docs, "doc_id", "text")
        .filter(Dedup.jaccardAtLeast(0.5))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val lab = GraphDedup.clusterMap(docs, GraphDedup.connectedComponents(edges))
      GraphDedup.saveClusterMap(lab.select(col("doc_id").as("node"), col("cluster_id")), dir, cmapBuckets)
    }

  /** The deduped result page served END-TO-END from persisted
    * artifacts: hits from the token-bucketed search index
    * ([[disjunctiveSearch]]), labels from the persisted cluster
    * map — and the map read is PRUNED to the hits' bucket dirs (the
    * hit list is request-sized, so collecting its ≤k bucket ids is a
    * bytes-scale driver step, the incremental-dedup probe pattern).
    * Neither the corpus nor the full map is scanned; shares
    * search_dedup_results' oracle — re-derived hits and labels must
    * equal the served bytes row for row.
    */
  val searchDedupResultsGraph: Q = (s, d) => {
    val hits = disjunctiveSearch(Index(s, demoSearchIndexDir(s, d)), fixtureOrTerms, dedupResultsK)
      .select(col("rank"), col("doc_id"))
      // request-sized; one materialization feeds the bucket collect
      // and the label join
      .localCheckpoint(true)
    val dir = demoClusterMapDir(s, d)
    val hitBuckets = hits
      .select(GraphDedup.cbucketExpr(cmapBuckets, col("doc_id")).as("b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
    val lab = s.read
      .parquet(dir)
      .filter(col("bucket").isin(hitBuckets: _*))
      .select(col("node").as("doc_id"), col("cluster_id"))
    dedupedResults(hits, lab).orderBy("new_rank")
  }

  // ---- DuckDB oracles ------------------------------------------------

  /** SQL string literal with single quotes doubled: the Spark side
    * treats query terms as DATA, so the oracle builders must too — a
    * term containing a quote would otherwise break or skew the oracle.
    */
  private def sqlLit(t: String): String = "'" + t.replace("'", "''") + "'"

  private val postingsSql =
    """p0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |p AS (SELECT token, doc_id, count(*) AS tf FROM p0 GROUP BY token, doc_id)""".stripMargin

  /** The term-search CTE chain up to `ranked` (rank over all scored
    * candidates) — reusable inside composite oracles (RRF fusion,
    * cluster-deduped results).
    */
  private def oracleTermSearchChain(
      terms: Seq[String],
      requireAll: Boolean,
      src: String = "documents",
      minMatch: Int = 1
  ): String = {
    val termList = terms.map(sqlLit).mkString(", ")
    val containsAll =
      terms.map(t => s"contains(text, ${sqlLit(t)})").mkString(if (requireAll) " AND " else " OR ")
    val matchGate = if (requireAll) s"count(*) = ${terms.size}" else s"count(*) >= $minMatch"
    val dfArms = terms
      .map(t =>
        s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
           |    SELECT token, doc_id FROM (
           |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |      FROM $src WHERE contains(text, ${sqlLit(t)})) x
           |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
      )
      .mkString("\n  UNION ALL\n  ")
    s"""cand AS (SELECT doc_id, text FROM $src WHERE $containsAll),
       |c0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM cand),
       |cp AS (SELECT token, doc_id, count(*) AS tf FROM c0
       |       WHERE token IN ($termList) GROUP BY token, doc_id),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM $src),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |scored AS (
       |  SELECT cp.doc_id, count(*) AS n_matched,
       |    CAST(sum(cp.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM cp JOIN model m ON m.token = cp.token
       |  GROUP BY cp.doc_id HAVING $matchGate),
       |ranked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)""".stripMargin
  }

  private def oracleTermSearch(terms: Seq[String], requireAll: Boolean, minMatch: Int = 1): String =
    s"""WITH ${oracleTermSearchChain(terms, requireAll, minMatch = minMatch)}
       |SELECT rank, doc_id, score_micro FROM ranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Scoring chain over a DYNAMICALLY-expanded term set: `expCte` must
    * define exp(token, df) over the corpus dictionary CTE v(token, df)
    * — the expansion — and the chain replays the standard disjunctive
    * accumulation (tf · micro-idf from corpus df) over those terms.
    */
  private def oracleExpansionSearch(expCte: String): String =
    s"""WITH $postingsSql,
       |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |$expCte,
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM exp),
       |scored AS (
       |  SELECT p.doc_id, CAST(sum(p.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM p JOIN model m ON m.token = p.token
       |  GROUP BY p.doc_id),
       |ranked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro FROM ranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  private lazy val oraclePrefixSearch: String =
    oracleExpansionSearch(
      s"""exp AS (
         |  SELECT token, df FROM v WHERE starts_with(token, ${sqlLit(fixturePrefix)})
         |  ORDER BY df DESC, token LIMIT $fixturePrefixExpand)""".stripMargin
    )

  private lazy val oracleFuzzySearch: String =
    oracleExpansionSearch(
      s"""exp AS (
         |  SELECT token, df FROM (
         |    SELECT token, df, CAST(levenshtein(token, ${sqlLit(fixtureFuzzyTerm)}) AS BIGINT) AS dist
         |    FROM v WHERE abs(length(token) - ${fixtureFuzzyTerm.length}) <= $fixtureFuzzyDist) x
         |  WHERE dist <= $fixtureFuzzyDist
         |  ORDER BY dist, df DESC, token LIMIT $fixtureFuzzyExpand)""".stripMargin
    )

  private lazy val oracleWildcardSearch: String =
    oracleExpansionSearch(
      s"""exp AS (
         |  SELECT token, df FROM v
         |  WHERE token LIKE ${sqlLit(likePattern(fixtureWildcard))} ESCAPE '\\'
         |  ORDER BY df DESC, token LIMIT $fixtureWildcardExpand)""".stripMargin
    )

  /** Regex oracle: regexp_full_match over the recomputed vocab —
    * whole-term match on both engines (Lucene RegexpQuery's implicit
    * anchoring, the Spark side wraps as `^(?:p)$`).
    */
  private lazy val oracleRegexSearch: String =
    oracleExpansionSearch(
      s"""exp AS (
         |  SELECT token, df FROM v
         |  WHERE regexp_full_match(token, ${sqlLit(fixtureRegex)})
         |  ORDER BY df DESC, token LIMIT $fixtureRegexExpand)""".stripMargin
    )

  /** Analyzed-regex oracle: the same capped expansion over the
    * damaged-corpus AVOCAB, scored through the analyzed chain.
    */
  private lazy val oracleAnalyzedRegexSearch: String =
    oracleAnalyzedExpansionSearch(
      s"""exp AS (
         |  SELECT token, df FROM v
         |  WHERE regexp_full_match(token, ${sqlLit(lowerRegexLiterals(fixtureRegex))})
         |  ORDER BY df DESC, token LIMIT $fixtureRegexExpand)""".stripMargin
    )

  /** Analyzed ordered-slop oracle: damage + analyzer + the FILTERED
    * analyzed position numbering, then the in-order pair join.
    */
  private lazy val oracleAnalyzedOrderedSlop: String = {
    val t1 = analyzeTerm(fixturePhrase._1.toUpperCase)
    val t2 = analyzeTerm(fixturePhrase._2.toUpperCase)
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |at AS (
       |  SELECT doc_id,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS atoks
       |  FROM dd
       |  WHERE contains(lower(text), ${sqlLit(t1)}) AND contains(lower(text), ${sqlLit(t2)})),
       |ps AS (SELECT doc_id, atoks, unnest(generate_series(1, len(atoks), 1)) AS pos FROM at),
       |px AS (SELECT doc_id, pos, atoks[pos] AS token FROM ps),
       |a AS (SELECT doc_id, pos FROM px WHERE token = ${sqlLit(t1)}),
       |b AS (SELECT doc_id, pos FROM px WHERE token = ${sqlLit(t2)})
       |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND $fixtureSlop
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin
  }

  /** Weighted-RRF oracle: both legs recomputed (BM25 chain,
    * brute-force cosine — the exhaustive IVF leg is exact), the
    * weighted integer fusion replayed (lex ×2, vec ×1).
    */
  private lazy val oracleRrfWeighted: String =
    s"""WITH $oracleBm25Chain,
       |lx AS (SELECT doc_id AS id, rank AS lex_rank FROM bmranked WHERE rank <= $topK),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qe AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
       |cs AS (
       |  SELECT vec_id,
       |    round(list_dot_product(v, qv) /
       |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
       |  FROM ev, qe),
       |vr AS (
       |  SELECT vec_id AS id, vec_rank FROM (
       |    SELECT vec_id,
       |      CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS vec_rank
       |    FROM cs) WHERE vec_rank <= $topK),
       |fu AS (
       |  SELECT COALESCE(lx.id, vr.id) AS id, lx.lex_rank, vr.vec_rank
       |  FROM lx FULL OUTER JOIN vr ON vr.id = lx.id)
       |SELECT id,
       |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       |  CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
       |  CAST(COALESCE(2 * (1000000 // (60 + lex_rank)), 0)
       |     + COALESCE(1 * (1000000 // (60 + vec_rank)), 0) AS BIGINT) AS rrf_micro
       |FROM fu ORDER BY rrf_micro DESC, id""".stripMargin

  /** Field-scoped oracle: the title-split chain (same deterministic
    * round-trip as the BM25F oracle) with df/tf/idf computed INSIDE
    * the field — a body-only mention contributes nothing.
    */
  private lazy val oracleFieldScoped: String = oracleFieldScopedFrom("documents")

  private def oracleFieldScopedFrom(src: String): String = {
    val termList = fixtureOrTerms.map(sqlLit).mkString(", ")
    val tl = fixtureTitleLen
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |fd AS (SELECT doc_id,
       |  string_split(array_to_string(toks[1:least($tl, len(toks))], ' '), ' ') AS ttoks
       | FROM tk),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM fd),
       |tt AS (SELECT doc_id, unnest(ttoks) AS token FROM fd),
       |tp AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tt
       |       WHERE token IN ($termList) GROUP BY token, doc_id),
       |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tp GROUP BY token),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |scored AS (
       |  SELECT tp.doc_id, CAST(sum(tp.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM tp JOIN model m ON m.token = tp.token GROUP BY tp.doc_id),
       |fsranked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro FROM fsranked WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** The ANALYZED dictionary over the damaged corpus: damage, analyze
    * every token (the Spark analyzer's regexp chain verbatim), drop
    * pure-punct empties, build ap(token, doc_id, tf) and the
    * dictionary v(token, df) — what `dir/avocab` must equal through
    * the demo index's build→append→compact lifecycle.
    */
  private val analyzedDictSql =
    s"""dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |a00 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS raw FROM dd),
       |a0 AS (
       |  SELECT doc_id, regexp_replace(lower(raw), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g') AS token
       |  FROM a00),
       |ap AS (SELECT token, doc_id, count(*) AS tf FROM a0 WHERE token <> '' GROUP BY token, doc_id),
       |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM ap GROUP BY token)""".stripMargin

  /** [[oracleExpansionSearch]]'s analyzed twin: scoring over the
    * damaged-corpus ANALYZED postings, mirroring analyzedFromIndex's
    * disjunctive accumulation (df = analyzed corpus df, N = doc count).
    */
  private def oracleAnalyzedExpansionSearch(expCte: String): String =
    s"""WITH $analyzedDictSql,
       |$expCte,
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM exp),
       |scored AS (
       |  SELECT ap.doc_id, CAST(sum(ap.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM ap JOIN model m ON m.token = ap.token
       |  GROUP BY ap.doc_id),
       |ranked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro FROM ranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** The raw KWIC result page chain — shared by the monolithic and
    * the merged-artifact gates.
    */
  /** The rendered-page oracle, parameterized by the corpus relation
    * (src) so the as-of page gate can replay it over the restricted
    * era corpus, and by the term set so the multi-term gate can union
    * the per-term hits (the `term` column rides each row there).
    */
  private def oracleKwicPageFor(
      terms: Seq[String],
      src: String = "documents",
      withTermCol: Boolean = false
  ): String = {
    val termList = terms.map(sqlLit).mkString(", ")
    val termCol = if (withTermCol) "toks[pos] AS term," else ""
    val termSel = if (withTermCol) "term," else ""
    val ord = if (withTermCol) "rank, term, pos" else "rank, pos"
    s"""WITH ${oracleTermSearchChain(terms, requireAll = true, src = src)},
       |page AS (SELECT doc_id, rank FROM ranked WHERE rank <= $kwicPageK),
       |pt AS (
       |  SELECT p.rank, d.doc_id, string_split(d.text, ' ') AS toks
       |  FROM $src d JOIN page p ON p.doc_id = d.doc_id),
       |ps AS (SELECT rank, doc_id, toks, unnest(generate_series(1, len(toks), 1)) AS pos FROM pt),
       |hit AS (SELECT rank, doc_id, $termCol pos, toks FROM ps WHERE toks[pos] IN ($termList))
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, $termSel CAST(pos AS BIGINT) AS pos,
       |  array_to_string(toks[greatest(1, pos - 3):least(len(toks), pos + 3)], ' ') AS snippet
       |FROM hit ORDER BY $ord""".stripMargin
  }

  private lazy val oracleKwicPage: String = oracleKwicPageFor(Seq(fixturePhrase._1))

  /** Multi-term page oracle: the AND page over BOTH phrase terms, hits
    * for whichever of the two sits at each position — equal to the
    * union of the per-term page renders.
    */
  private lazy val oracleKwicPageMulti: String =
    oracleKwicPageFor(Seq(fixturePhrase._1, fixturePhrase._2), withTermCol = true)

  /** As-of page oracle: the single-term page oracle replayed over the
    * generation-0 corpus (even ids ∪ %4==1, the pre-upsert text) —
    * exactly the restricted corpus search_asof_probe uses.
    */
  private lazy val oracleAsOfPage: String =
    s"""WITH asofdocs AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 2 = 0 OR doc_id % 4 = 1),
       |${oracleKwicPageFor(Seq(fixturePhrase._1), src = "asofdocs").stripPrefix("WITH ")}""".stripMargin

  /** Filter-click oracle: search_bm25's scoring chain (model stays
    * corpus-level), the match set restricted to the facet value
    * BEFORE the page is cut.
    */
  private lazy val oracleFacetFiltered: String =
    s"""WITH $oracleBm25Chain,
       |fhits AS (
       |  SELECT sc.doc_id, sc.score_milli FROM sc
       |  JOIN documents dd ON dd.doc_id = sc.doc_id
       |  WHERE dd.lang = 'en'),
       |franked AS (
       |  SELECT doc_id, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM fhits)
       |SELECT rank, doc_id, score_milli FROM franked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** BM25F oracle: the same deterministic title/body split (string
    * round-trip included — a ≤ 5-token doc's body re-splits to ['']
    * on both engines), the same integer rational form
    * (11·idf·X) // (5·X + 6·D) with X/D as in [[bm25fFromIndex]].
    */
  private lazy val oracleBm25f: String = oracleBm25fFrom("documents")

  /** The live-corpus filter matching the fielded delete fixtures. */
  private val fieldedLiveSrc = "(SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 1)"

  /** BM25F oracle over an arbitrary (doc_id, text) source relation —
    * shared by the build/append gates (`documents`) and the delete/
    * purge gates (the live-docs filter): the whole fielded model
    * (split, per-field scalars, df, the integer rational form) is
    * recomputed over the SOURCE, so exactly-decremented stats are
    * what the gate asserts.
    */
  private def oracleBm25fFrom(src: String): String = {
    val termList = fixtureOrTerms.map(sqlLit).mkString(", ")
    val (wt, wb) = (fixtureBoosts.head._2, fixtureBoosts(1)._2)
    val tl = fixtureTitleLen
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |fd AS (SELECT doc_id,
       |  string_split(array_to_string(toks[1:least($tl, len(toks))], ' '), ' ') AS ttoks,
       |  string_split(array_to_string(toks[${tl + 1}:len(toks)], ' '), ' ') AS btoks
       | FROM tk),
       |lens AS (SELECT doc_id, CAST(len(ttoks) AS BIGINT) AS dlt, CAST(len(btoks) AS BIGINT) AS dlb FROM fd),
       |st AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(sum(len(ttoks)) AS BIGINT) AS tott, CAST(sum(len(btoks)) AS BIGINT) AS totb FROM fd),
       |av AS (SELECT n_docs, tott // n_docs AS avt, totb // n_docs AS avb FROM st),
       |tt AS (SELECT doc_id, unnest(ttoks) AS token FROM fd),
       |bt AS (SELECT doc_id, unnest(btoks) AS token FROM fd),
       |tpf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tt
       |        WHERE token IN ($termList) GROUP BY token, doc_id),
       |bpf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM bt
       |        WHERE token IN ($termList) GROUP BY token, doc_id),
       |piv AS (
       |  SELECT coalesce(t.token, b.token) AS token, coalesce(t.doc_id, b.doc_id) AS doc_id,
       |    coalesce(t.tf, 0) AS tft, coalesce(b.tf, 0) AS tfb
       |  FROM tpf t FULL OUTER JOIN bpf b ON t.token = b.token AND t.doc_id = b.doc_id),
       |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM piv GROUP BY token),
       |model AS (SELECT token,
       |  CAST(floor(ln(((SELECT n_docs FROM st) + 1) / CAST(df + 1 AS DOUBLE)) * 1000) AS BIGINT) AS idf_milli
       | FROM dfm),
       |x AS (
       |  SELECT p.token, p.doc_id,
       |    4 * ($wt * p.tft * (SELECT avt FROM av) * ((SELECT avb FROM av) + 3 * l.dlb)
       |       + $wb * p.tfb * (SELECT avb FROM av) * ((SELECT avt FROM av) + 3 * l.dlt)) AS xx,
       |    ((SELECT avt FROM av) + 3 * l.dlt) * ((SELECT avb FROM av) + 3 * l.dlb) AS dd
       |  FROM piv p JOIN lens l ON l.doc_id = p.doc_id),
       |sc2 AS (
       |  SELECT x.doc_id,
       |    CAST(sum((11 * m.idf_milli * x.xx) // (5 * x.xx + 6 * x.dd)) AS BIGINT) AS score_milli
       |  FROM x JOIN model m ON m.token = x.token GROUP BY x.doc_id),
       |ranked2 AS (
       |  SELECT doc_id, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM sc2)
       |SELECT rank, doc_id, score_milli FROM ranked2 WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** Boolean must-not oracle: the conjunctive chain filtered by an
    * exact-token NOT EXISTS over the must-not terms, BEFORE the
    * ranking — so rank k+1 enters the page when an excluded doc
    * leaves it.
    */
  private lazy val oracleBooleanNot: String = {
    val notList = fixtureMustNot.map(sqlLit).mkString(", ")
    val notContains = fixtureMustNot.map(t => s"contains(text, ${sqlLit(t)})").mkString(" OR ")
    s"""WITH ${oracleTermSearchChain(fixtureAndTerms, requireAll = true)},
       |excl AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents WHERE $notContains) x
       |  WHERE token IN ($notList)),
       |kept AS (SELECT doc_id, score_micro FROM scored WHERE doc_id NOT IN (SELECT doc_id FROM excl)),
       |reranked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM kept)
       |SELECT rank, doc_id, score_micro FROM reranked WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** Proximity oracle: the positional chain, pair join with the
    * |Δpos| ≤ slop gate, pair count per doc.
    */
  private lazy val oracleProximity: String = {
    val (t1, t2) = fixturePhrase
    s"""WITH pt AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
       |  FROM documents
       |  WHERE contains(text, ${sqlLit(t1)}) AND contains(text, ${sqlLit(t2)})),
       |ps AS (SELECT doc_id, toks, unnest(generate_series(1, n, 1)) AS pos FROM pt),
       |px AS (SELECT doc_id, pos, toks[pos] AS token FROM ps),
       |a AS (SELECT doc_id, pos FROM px WHERE token = ${sqlLit(t1)}),
       |b AS (SELECT doc_id, pos FROM px WHERE token = ${sqlLit(t2)})
       |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM a JOIN b ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= $fixtureSlop
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin
  }

  /** Ordered-slop oracle: the proximity positional chain with the
    * IN-ORDER gate (1 ≤ Δpos ≤ slop) — slop 1 would reduce to exact
    * adjacency, slop ∞ to the unordered proximity's b-after-a half.
    */
  private lazy val oracleOrderedSlop: String = {
    val (t1, t2) = fixturePhrase
    s"""WITH pt AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
       |  FROM documents
       |  WHERE contains(text, ${sqlLit(t1)}) AND contains(text, ${sqlLit(t2)})),
       |ps AS (SELECT doc_id, toks, unnest(generate_series(1, n, 1)) AS pos FROM pt),
       |px AS (SELECT doc_id, pos, toks[pos] AS token FROM ps),
       |a AS (SELECT doc_id, pos FROM px WHERE token = ${sqlLit(t1)}),
       |b AS (SELECT doc_id, pos FROM px WHERE token = ${sqlLit(t2)})
       |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND $fixtureSlop
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin
  }

  /** Term-boost oracle: the disjunctive tf·idf chain with each term's
    * contribution multiplied by its boost before the per-document sum
    * — idf/df stay boost-free, exactly the query-side-only contract.
    */
  private lazy val oracleTermBoost: String = {
    val terms = fixtureTermBoosts.map(_._1)
    val termList = terms.map(sqlLit).mkString(", ")
    val containsAny = terms.map(t => s"contains(text, ${sqlLit(t)})").mkString(" OR ")
    val boostCase = "CASE cp.token " +
      fixtureTermBoosts.map { case (t, w) => s"WHEN ${sqlLit(t)} THEN $w" }.mkString(" ") +
      " END"
    val dfArms = terms
      .map(t =>
        s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
           |    SELECT token, doc_id FROM (
           |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |      FROM documents WHERE contains(text, ${sqlLit(t)})) x
           |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
      )
      .mkString("\n  UNION ALL\n  ")
    s"""WITH cand AS (SELECT doc_id, text FROM documents WHERE $containsAny),
       |c0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM cand),
       |cp AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM c0
       |       WHERE token IN ($termList) GROUP BY token, doc_id),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |scored AS (
       |  SELECT cp.doc_id,
       |    CAST(sum(($boostCase) * cp.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM cp JOIN model m ON m.token = cp.token
       |  GROUP BY cp.doc_id),
       |branked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro FROM branked WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** Chunk-retrieval oracle: the chunk relation rebuilt in SQL (same
    * composite cids, same window slicing), the BM25 chain over CHUNKS,
    * per-doc max-pool (score desc, chunk_no asc), page over docs.
    */
  /** The chunk-BM25 CTE chain up to `crk` (doc-pooled chunk page) —
    * shared by the page gate and its rendered twin.
    */
  private lazy val oracleChunkChain: String = {
    val cs = fixtureChunkSize
    val base = chunkIdBase
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ch AS (
       |  SELECT doc_id * $base + cn AS doc_id,
       |    array_to_string(toks[(cn * $cs + 1):least(len(toks), cn * $cs + $cs)], ' ') AS text
       |  FROM tk, LATERAL (SELECT unnest(generate_series(0, (len(toks) - 1) // $cs)) AS cn)),
       |${oracleBm25ChainFor(fixtureOrTerms, "ch")},
       |pool AS (
       |  SELECT doc_id // $base AS ddoc, doc_id % $base AS chunk_no, score_milli,
       |    row_number() OVER (PARTITION BY doc_id // $base
       |                       ORDER BY score_milli DESC, doc_id % $base ASC) AS pr
       |  FROM sc),
       |b1 AS (SELECT ddoc, chunk_no, score_milli FROM pool WHERE pr = 1),
       |crk AS (
       |  SELECT ddoc AS doc_id, chunk_no, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, ddoc ASC) AS BIGINT) AS rank
       |  FROM b1)""".stripMargin
  }

  private lazy val oracleChunkBm25: String =
    s"""WITH $oracleChunkChain
       |SELECT rank, doc_id, CAST(chunk_no AS BIGINT) AS chunk_no, score_milli
       |FROM crk WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Chunk-page oracle: the pooled chunk page joined back to each
    * winner's token array, the chunk re-sliced by the shared window
    * convention.
    */
  private lazy val oracleChunkPage: String = {
    val cs = fixtureChunkSize
    s"""WITH $oracleChunkChain
       |SELECT c.rank, c.doc_id, CAST(c.chunk_no AS BIGINT) AS chunk_no, c.score_milli,
       |  array_to_string(t.toks[(c.chunk_no * $cs + 1):least(len(t.toks), c.chunk_no * $cs + $cs)], ' ') AS chunk_text
       |FROM crk c JOIN tk t ON t.doc_id = c.doc_id
       |WHERE c.rank <= $topK ORDER BY c.rank""".stripMargin
  }

  /** Query-string oracle (`+dup window^3 -merge "hash join"`): the
    * must/phrase/must-not gates as exact-token set algebra, scoring as
    * the boosted chain over the gated candidates, df corpus-wide (the
    * every-route convention).
    */
  private lazy val oracleQueryString: String = {
    val (mustT, shouldT, notT) = ("dup", "window", "merge")
    val (ph1, ph2) = fixturePhrase
    val dfArms = Seq(mustT, shouldT)
      .map(t =>
        s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
           |    SELECT token, doc_id FROM (
           |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |      FROM documents WHERE contains(text, ${sqlLit(t)})) x
           |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
      )
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $postingsSql,
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |mustd AS (SELECT DISTINCT doc_id FROM p WHERE token = ${sqlLit(mustT)}),
       |exd AS (SELECT DISTINCT doc_id FROM p WHERE token = ${sqlLit(notT)}),
       |pt AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
       |  FROM documents
       |  WHERE contains(text, ${sqlLit(ph1)}) AND contains(text, ${sqlLit(ph2)})),
       |pps AS (SELECT doc_id, toks, unnest(generate_series(1, n, 1)) AS pos FROM pt),
       |ppx AS (SELECT doc_id, pos, toks[pos] AS token FROM pps),
       |pa AS (SELECT doc_id, pos FROM ppx WHERE token = ${sqlLit(ph1)}),
       |pb AS (SELECT doc_id, pos FROM ppx WHERE token = ${sqlLit(ph2)}),
       |phd AS (
       |  SELECT DISTINCT pa.doc_id FROM pa JOIN pb
       |  ON pa.doc_id = pb.doc_id AND pb.pos - pa.pos = 1),
       |cand AS (
       |  SELECT doc_id FROM mustd
       |  WHERE doc_id IN (SELECT doc_id FROM phd)
       |    AND doc_id NOT IN (SELECT doc_id FROM exd)),
       |cp AS (
       |  SELECT token, doc_id, tf FROM p
       |  WHERE token IN (${sqlLit(mustT)}, ${sqlLit(shouldT)})
       |    AND doc_id IN (SELECT doc_id FROM cand)),
       |scored AS (
       |  SELECT cp.doc_id,
       |    CAST(sum((CASE cp.token WHEN ${sqlLit(mustT)} THEN 1 WHEN ${sqlLit(shouldT)} THEN 3 END)
       |             * cp.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM cp JOIN model m ON m.token = cp.token GROUP BY cp.doc_id),
       |qsr AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro FROM qsr WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** Field-clause front-door oracle: the unfielded must leg ('dup',
    * boost 1) and the title-scoped leg ('window', boost 2, in-field
    * df/N over the deterministic title split) recomputed independently,
    * UNION-summed doc-keyed, gated to must-leg membership minus the
    * excluded set — the engine's two-leg merge replayed exactly.
    */
  private lazy val oracleQueryStringFielded: String = {
    val (mustT, fieldT, notT) = ("dup", "window", "merge")
    val tl = fixtureTitleLen
    s"""WITH $postingsSql,
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfu AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p
       |        WHERE token = ${sqlLit(mustT)} GROUP BY token),
       |mu AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfu),
       |leg1 AS (
       |  SELECT p.doc_id, CAST(sum(1 * p.tf * m.idf_micro) AS BIGINT) AS sc
       |  FROM p JOIN mu m ON m.token = p.token GROUP BY p.doc_id),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |fd AS (SELECT doc_id,
       |  string_split(array_to_string(toks[1:least($tl, len(toks))], ' '), ' ') AS ttoks
       | FROM tk),
       |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM fd),
       |tt AS (SELECT doc_id, unnest(ttoks) AS token FROM fd),
       |tp AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tt
       |       WHERE token = ${sqlLit(fieldT)} GROUP BY token, doc_id),
       |dff AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tp GROUP BY token),
       |mf AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nf) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dff),
       |leg2 AS (
       |  SELECT tp.doc_id, CAST(sum(2 * tp.tf * m.idf_micro) AS BIGINT) AS sc
       |  FROM tp JOIN mf m ON m.token = tp.token GROUP BY tp.doc_id),
       |exd AS (SELECT DISTINCT doc_id FROM p WHERE token = ${sqlLit(notT)}),
       |uni AS (SELECT doc_id, sc FROM leg1 UNION ALL SELECT doc_id, sc FROM leg2),
       |agg AS (SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score_micro FROM uni GROUP BY doc_id),
       |gat AS (
       |  SELECT doc_id, score_micro FROM agg
       |  WHERE doc_id IN (SELECT doc_id FROM leg1)
       |    AND doc_id NOT IN (SELECT doc_id FROM exd)),
       |qfr AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM gat)
       |SELECT rank, doc_id, score_micro FROM qfr WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** Fuzzy + wildcard front-door oracle: both capped expansions
    * recomputed from the vocab (dist-then-df and df-then-token ranks),
    * merged with the explicit boosted term by SUMMING boosts per
    * token, then the single disjunctive boost·tf·idf pass.
    */
  private lazy val oracleQueryStringFuzzy: String =
    s"""WITH $postingsSql,
       |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |fz AS (
       |  SELECT token FROM (
       |    SELECT token, df, CAST(levenshtein(token, ${sqlLit(fixtureTypo)}) AS BIGINT) AS dist
       |    FROM v WHERE abs(length(token) - ${fixtureTypo.length}) <= 2) x
       |  WHERE dist <= 2 ORDER BY dist, df DESC, token LIMIT $fixtureQsExpand),
       |wc AS (
       |  SELECT token FROM v
       |  WHERE token LIKE ${sqlLit(likePattern(fixtureWildcard))} ESCAPE '\\'
       |  ORDER BY df DESC, token LIMIT $fixtureQsExpand),
       |tb AS (
       |  SELECT token, CAST(sum(boost) AS BIGINT) AS boost FROM (
       |    SELECT 'dup' AS token, 2 AS boost
       |    UNION ALL SELECT token, 1 AS boost FROM fz
       |    UNION ALL SELECT token, 1 AS boost FROM wc) u
       |  GROUP BY token),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |model AS (
       |  SELECT tb.token, tb.boost,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(v.df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM tb JOIN v ON v.token = tb.token),
       |scored AS (
       |  SELECT p.doc_id, CAST(sum(m.boost * p.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM p JOIN model m ON m.token = p.token GROUP BY p.doc_id),
       |qzr AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro FROM qzr WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Range-clause front-door oracle: the boosted OR chain gated by
    * each document's token length between the clause bounds.
    */
  private lazy val oracleQueryStringRange: String =
    s"""WITH $postingsSql,
       |tb AS (SELECT * FROM (VALUES ('dup', 1), ('window', 3)) t(token, boost)),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfm AS (SELECT p.token, CAST(count(*) AS BIGINT) AS df FROM p
       |        JOIN tb ON tb.token = p.token GROUP BY p.token),
       |model AS (
       |  SELECT d.token, tb.boost,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(d.df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm d JOIN tb ON tb.token = d.token),
       |scored AS (
       |  SELECT p.doc_id, CAST(sum(m.boost * p.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM p JOIN model m ON m.token = p.token GROUP BY p.doc_id),
       |dls AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |gat AS (
       |  SELECT s.doc_id, s.score_micro FROM scored s
       |  JOIN dls ON dls.doc_id = s.doc_id AND dls.dl BETWEEN 32 AND 63),
       |qrr AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM gat)
       |SELECT rank, doc_id, score_micro FROM qrr WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Hit-count oracle: exact-token AND/OR cardinalities over the
    * recomputed postings.
    */
  private lazy val oracleHitCount: String = {
    val termList = fixtureOrTerms.map(sqlLit).mkString(", ")
    s"""WITH $postingsSql,
       |m AS (SELECT doc_id, count(*) AS n FROM p WHERE token IN ($termList) GROUP BY doc_id)
       |SELECT CAST(count(CASE WHEN n = ${fixtureOrTerms.size} THEN 1 END) AS BIGINT) AS n_and,
       |  CAST(count(*) AS BIGINT) AS n_or
       |FROM m""".stripMargin
  }

  /** Auto-correct oracle: the fixture typo's did-you-mean top-1
    * recomputed from the vocab, then the single-term chain over the
    * corrected token — the zero-hit retry's expected final state.
    */
  private lazy val oracleAutoCorrect: String =
    s"""WITH $postingsSql,
       |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |cdy AS (
       |  SELECT token, CAST(levenshtein(token, ${sqlLit(fixtureTypo)}) AS BIGINT) AS dist, df
       |  FROM v WHERE abs(length(token) - ${fixtureTypo.length}) <= $fixtureFuzzyDist),
       |corr AS (SELECT token FROM cdy WHERE dist <= $fixtureFuzzyDist
       |         ORDER BY dist, df DESC, token LIMIT 1),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |cp AS (SELECT p.token, p.doc_id, p.tf FROM p JOIN corr ON corr.token = p.token),
       |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM cp GROUP BY token),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |scored AS (
       |  SELECT cp.doc_id, CAST(sum(cp.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM cp JOIN model m ON m.token = cp.token GROUP BY cp.doc_id),
       |acr AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro, (SELECT token FROM corr) AS term_used
       |FROM acr WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Multi-term auto-correct oracle: the single-term correction chain
    * per DEAD term ('dup' is alive, the fixture typo corrects through
    * the vocab's dist-then-df top-1), then the OR chain over the
    * corrected set with terms_used rebuilt in input order.
    */
  private lazy val oracleAutoCorrectMulti: String =
    s"""WITH $postingsSql,
       |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |cdy AS (
       |  SELECT token, CAST(levenshtein(token, ${sqlLit(fixtureTypo)}) AS BIGINT) AS dist, df
       |  FROM v WHERE abs(length(token) - ${fixtureTypo.length}) <= $fixtureFuzzyDist),
       |corr AS (SELECT token FROM cdy WHERE dist <= $fixtureFuzzyDist
       |         ORDER BY dist, df DESC, token LIMIT 1),
       |tset AS (SELECT 'dup' AS token UNION SELECT token FROM corr),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |model AS (
       |  SELECT v.token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(v.df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM v JOIN tset ON tset.token = v.token),
       |scored AS (
       |  SELECT p.doc_id, CAST(sum(p.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM p JOIN model m ON m.token = p.token GROUP BY p.doc_id),
       |amr AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro,
       |  'dup ' || (SELECT token FROM corr) AS terms_used
       |FROM amr WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Range-facet oracle: the conjunctive match set joined to each
    * document's token length, histogrammed at the fixture width.
    */
  private lazy val oracleRangeFacet: String =
    s"""WITH ${oracleTermSearchChain(fixtureAndTerms, requireAll = true)},
       |dls AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents)
       |SELECT CAST((dls.dl // $fixtureRangeWidth) * $fixtureRangeWidth AS BIGINT) AS range_lo,
       |  CAST(count(*) AS BIGINT) AS n_hits
       |FROM scored s JOIN dls ON dls.doc_id = s.doc_id
       |GROUP BY range_lo ORDER BY range_lo""".stripMargin

  /** Grouped-top-k oracle: the BM25 chain, a per-lang window keeping
    * the fixture's g best per group, then the global page over the
    * survivors.
    */
  private lazy val oracleGroupedTopK: String =
    s"""WITH $oracleBm25Chain,
       |wm AS (
       |  SELECT sc.doc_id, sc.score_milli, d.lang,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY sc.score_milli DESC, sc.doc_id ASC) AS gr
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |kept AS (SELECT doc_id, lang, score_milli FROM wm WHERE gr <= $fixturePerGroup),
       |grnk AS (
       |  SELECT doc_id, lang, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM kept)
       |SELECT rank, doc_id, lang, score_milli FROM grnk WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Best-passage oracle: per-doc anchored-window argmax over the
    * query terms' idf-weighted occurrences, global top-k, snippet
    * sliced from the document's own tokens — the same 1-based slice
    * arithmetic as the KWIC oracles.
    */
  private lazy val oracleBestPassage: String = {
    val terms = Seq(fixturePhrase._1, fixturePhrase._2)
    val termList = terms.map(sqlLit).mkString(", ")
    val containsAny = terms.map(t => s"contains(text, ${sqlLit(t)})").mkString(" OR ")
    val w = fixturePassageWindow
    val dfArms = terms
      .map(t =>
        s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
           |    SELECT token, doc_id FROM (
           |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |      FROM documents WHERE contains(text, ${sqlLit(t)})) x
           |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
      )
      .mkString("\n  UNION ALL\n  ")
    s"""WITH nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |pt AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
       |  FROM documents WHERE $containsAny),
       |ps AS (SELECT doc_id, toks, unnest(generate_series(1, n, 1)) AS pos FROM pt),
       |px AS (SELECT doc_id, pos, toks[pos] AS token FROM ps WHERE toks[pos] IN ($termList)),
       |occ AS (SELECT px.doc_id, px.pos, m.idf_micro FROM px JOIN model m ON m.token = px.token),
       |win AS (
       |  SELECT a.doc_id, a.pos AS start, CAST(sum(o.idf_micro) AS BIGINT) AS w_micro
       |  FROM occ a JOIN occ o ON o.doc_id = a.doc_id AND o.pos >= a.pos AND o.pos < a.pos + $w
       |  GROUP BY a.doc_id, a.pos),
       |bst AS (
       |  SELECT doc_id, start, w_micro,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY w_micro DESC, start ASC) AS rn
       |  FROM win),
       |b1 AS (SELECT doc_id, start, w_micro FROM bst WHERE rn = 1),
       |pg AS (
       |  SELECT doc_id, start, w_micro,
       |    CAST(row_number() OVER (ORDER BY w_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM b1)
       |SELECT p.rank, p.doc_id, CAST(p.start AS BIGINT) AS start, p.w_micro AS score_micro,
       |  array_to_string(t.toks[p.start:least(len(t.toks), p.start + ${w - 1})], ' ') AS snippet
       |FROM pg p JOIN pt t ON t.doc_id = p.doc_id
       |WHERE p.rank <= $fixturePassageK ORDER BY p.rank""".stripMargin
  }

  /** Front-door pagination oracle: the boosted chain (dup×1,
    * window×3), the cursor = page 1's last row (max rank ≤ k — robust
    * to short pages), page 2 re-ranked over the keyset remainder.
    */
  private lazy val oracleQueryStringPage: String =
    s"""WITH $postingsSql,
       |tb AS (SELECT * FROM (VALUES ('dup', 1), ('window', 3)) t(token, boost)),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfm AS (SELECT p.token, CAST(count(*) AS BIGINT) AS df FROM p
       |        JOIN tb ON tb.token = p.token GROUP BY p.token),
       |model AS (
       |  SELECT d.token, tb.boost,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(d.df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm d JOIN tb ON tb.token = d.token),
       |scored AS (
       |  SELECT p.doc_id, CAST(sum(m.boost * p.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM p JOIN model m ON m.token = p.token GROUP BY p.doc_id),
       |r1 AS (
       |  SELECT doc_id, score_micro,
       |    row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
       |  FROM scored),
       |cur AS (SELECT score_micro, doc_id FROM r1
       |        WHERE rank = (SELECT max(rank) FROM r1 WHERE rank <= $topK)),
       |pg2 AS (
       |  SELECT doc_id, score_micro FROM scored s
       |  WHERE s.score_micro < (SELECT score_micro FROM cur)
       |     OR (s.score_micro = (SELECT score_micro FROM cur)
       |         AND s.doc_id > (SELECT doc_id FROM cur))),
       |r2 AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM pg2)
       |SELECT rank, doc_id, score_micro FROM r2 WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Analyzed query-string oracle: the same gate algebra as
    * [[oracleQueryString]] replayed over the DAMAGED corpus's analyzed
    * token stream — postings/df from the analyzed chain, the phrase
    * adjacency over analyzed (filtered-stream) positions.
    */
  private lazy val oracleQueryStringAnalyzed: String = {
    val (mustT, shouldT, notT) = ("dup", "window", "merge")
    val (ph1, ph2) = fixturePhrase
    s"""WITH $analyzedDictSql,
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM ap
       |        WHERE token IN (${sqlLit(mustT)}, ${sqlLit(shouldT)}) GROUP BY token),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |mustd AS (SELECT DISTINCT doc_id FROM ap WHERE token = ${sqlLit(mustT)}),
       |exd AS (SELECT DISTINCT doc_id FROM ap WHERE token = ${sqlLit(notT)}),
       |qat AS (
       |  SELECT doc_id,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS toks
       |  FROM dd),
       |pt AS (SELECT doc_id, toks, len(toks) AS n FROM qat
       |       WHERE list_contains(toks, ${sqlLit(ph1)}) AND list_contains(toks, ${sqlLit(ph2)})),
       |pps AS (SELECT doc_id, toks, unnest(generate_series(1, n, 1)) AS pos FROM pt),
       |ppx AS (SELECT doc_id, pos, toks[pos] AS token FROM pps),
       |pa AS (SELECT doc_id, pos FROM ppx WHERE token = ${sqlLit(ph1)}),
       |pb AS (SELECT doc_id, pos FROM ppx WHERE token = ${sqlLit(ph2)}),
       |phd AS (
       |  SELECT DISTINCT pa.doc_id FROM pa JOIN pb
       |  ON pa.doc_id = pb.doc_id AND pb.pos - pa.pos = 1),
       |cand AS (
       |  SELECT doc_id FROM mustd
       |  WHERE doc_id IN (SELECT doc_id FROM phd)
       |    AND doc_id NOT IN (SELECT doc_id FROM exd)),
       |cp AS (
       |  SELECT token, doc_id, tf FROM ap
       |  WHERE token IN (${sqlLit(mustT)}, ${sqlLit(shouldT)})
       |    AND doc_id IN (SELECT doc_id FROM cand)),
       |scoredqa AS (
       |  SELECT cp.doc_id,
       |    CAST(sum((CASE cp.token WHEN ${sqlLit(mustT)} THEN 1 WHEN ${sqlLit(shouldT)} THEN 3 END)
       |             * cp.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM cp JOIN model m ON m.token = cp.token GROUP BY cp.doc_id),
       |qsra AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scoredqa)
       |SELECT rank, doc_id, score_micro FROM qsra WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** Analyzed range-facet oracle: the conjunctive ANALYZED match set
    * histogrammed over the analyzed doc length (sum of per-token tf =
    * the filtered token-stream length, exactly the engine's adl).
    */
  private lazy val oracleRangeFacetAnalyzed: String = {
    val terms = fixtureAndTerms.map(analyzeTerm).filter(_.nonEmpty).distinct
    val termList = terms.map(sqlLit).mkString(", ")
    s"""WITH $analyzedDictSql,
       |adls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM ap GROUP BY doc_id),
       |rfm AS (SELECT doc_id, count(*) AS n FROM ap WHERE token IN ($termList) GROUP BY doc_id),
       |rft AS (SELECT doc_id FROM rfm WHERE n = ${terms.size})
       |SELECT CAST((a.dl // $fixtureRangeWidth) * $fixtureRangeWidth AS BIGINT) AS range_lo,
       |  CAST(count(*) AS BIGINT) AS n_hits
       |FROM rft JOIN adls a ON a.doc_id = rft.doc_id
       |GROUP BY range_lo ORDER BY range_lo""".stripMargin
  }

  /** Analyzed grouped-top-k oracle: the analyzed-BM25 scored relation
    * with the per-lang g-deep window and the global page.
    */
  private lazy val oracleGroupedTopKAnalyzed: String =
    s"""$oracleAnalyzedBm25Body,
       |wma AS (
       |  SELECT sc.doc_id, sc.score_milli, d.lang,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY sc.score_milli DESC, sc.doc_id ASC) AS gr
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |kepta AS (SELECT doc_id, lang, score_milli FROM wma WHERE gr <= $fixturePerGroup),
       |grnka AS (
       |  SELECT doc_id, lang, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM kepta)
       |SELECT rank, doc_id, lang, score_milli FROM grnka WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Analyzed best-passage oracle: the anchored-window argmax over the
    * DAMAGED corpus's analyzed token stream — positions index the
    * filtered stream, snippets slice the same stream.
    */
  private lazy val oracleBestPassageAnalyzed: String = {
    val terms = Seq(fixturePhrase._1, fixturePhrase._2).map(analyzeTerm)
    val termList = terms.map(sqlLit).mkString(", ")
    val containsAny = terms.map(t => s"contains(lower(text), ${sqlLit(t)})").mkString(" OR ")
    val w = fixturePassageWindow
    val dfArms = terms
      .map(t =>
        s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
           |    SELECT token, doc_id FROM (
           |      SELECT doc_id, unnest(atoks) AS token
           |      FROM bat WHERE contains(lower(text), ${sqlLit(t)})) x
           |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
      )
      .mkString("\n  UNION ALL\n  ")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |bat AS (
       |  SELECT doc_id, text,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS atoks
       |  FROM dd),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM bat),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |pt AS (SELECT doc_id, atoks AS toks, len(atoks) AS n FROM bat WHERE $containsAny),
       |ps AS (SELECT doc_id, toks, unnest(generate_series(1, n, 1)) AS pos FROM pt),
       |px AS (SELECT doc_id, pos, toks[pos] AS token FROM ps WHERE toks[pos] IN ($termList)),
       |occ AS (SELECT px.doc_id, px.pos, m.idf_micro FROM px JOIN model m ON m.token = px.token),
       |win AS (
       |  SELECT a.doc_id, a.pos AS start, CAST(sum(o.idf_micro) AS BIGINT) AS w_micro
       |  FROM occ a JOIN occ o ON o.doc_id = a.doc_id AND o.pos >= a.pos AND o.pos < a.pos + $w
       |  GROUP BY a.doc_id, a.pos),
       |bst AS (
       |  SELECT doc_id, start, w_micro,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY w_micro DESC, start ASC) AS rn
       |  FROM win),
       |b1 AS (SELECT doc_id, start, w_micro FROM bst WHERE rn = 1),
       |pg AS (
       |  SELECT doc_id, start, w_micro,
       |    CAST(row_number() OVER (ORDER BY w_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM b1)
       |SELECT p.rank, p.doc_id, CAST(p.start AS BIGINT) AS start, p.w_micro AS score_micro,
       |  array_to_string(t.toks[p.start:least(len(t.toks), p.start + ${w - 1})], ' ') AS snippet
       |FROM pg p JOIN pt t ON t.doc_id = p.doc_id
       |WHERE p.rank <= $fixturePassageK ORDER BY p.rank""".stripMargin
  }

  /** Synonym-group oracle: each group scores as one logical term —
    * member tf summed, df = docs containing ANY member, gate counts
    * groups — replayed with explicit member lists.
    */
  private lazy val oracleSynonym: String = {
    val groups = fixtureSynGroups
    val caseArms = groups.zipWithIndex
      .map { case (g, gid) => s"WHEN token IN (${g.map(sqlLit).mkString(", ")}) THEN $gid" }
      .mkString(" ")
    val allList = groups.flatten.map(sqlLit).mkString(", ")
    val prune = groups
      .map(g => "(" + g.map(t => s"contains(text, ${sqlLit(t)})").mkString(" OR ") + ")")
      .mkString(" AND ")
    val dfArms = groups.zipWithIndex
      .map { case (g, gid) =>
        val orC = g.map(t => s"contains(text, ${sqlLit(t)})").mkString(" OR ")
        s"""SELECT $gid AS gid, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |    FROM documents WHERE $orC) x
           |  WHERE token IN (${g.map(sqlLit).mkString(", ")})""".stripMargin
      }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH cand AS (SELECT doc_id, text FROM documents WHERE $prune),
       |c0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM cand),
       |cp0 AS (
       |  SELECT doc_id, CASE $caseArms END AS gid FROM c0 WHERE token IN ($allList)),
       |cp AS (SELECT gid, doc_id, CAST(count(*) AS BIGINT) AS tf FROM cp0 GROUP BY gid, doc_id),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT gid,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |scored AS (
       |  SELECT cp.doc_id, count(*) AS n_matched,
       |    CAST(sum(cp.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM cp JOIN model m USING (gid)
       |  GROUP BY cp.doc_id HAVING count(*) = ${groups.size}),
       |ranked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT rank, doc_id, score_micro FROM ranked WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** More-like-this oracle: the source doc's terms rank by tf · the
    * SAME micro-idf the selection pass uses, the top maxQueryTerms
    * feed the exact rational BM25 over the corpus with the source
    * excluded from candidates but NOT from the df model — mirroring
    * the Spark route's filter-after-scoring.
    */
  private lazy val oracleMoreLikeThis: String =
    s"""WITH $postingsSql,
       |st AS (
       |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks
       |  FROM documents),
       |av AS (SELECT n_docs, total_toks // n_docs AS avgdl FROM st),
       |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |dt AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token
       |    FROM documents WHERE doc_id = $fixtureMltDoc) x GROUP BY token),
       |sel AS (
       |  SELECT dt.token,
       |    CAST(floor(ln(((SELECT n_docs FROM av) + 1) / CAST(v.df + 1 AS DOUBLE)) * 1000000) AS BIGINT) * dt.tf AS sc
       |  FROM dt JOIN v USING (token)
       |  ORDER BY sc DESC, dt.token LIMIT $fixtureMltTerms),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |cp AS (
       |  SELECT p.token, p.doc_id, p.tf FROM p
       |  WHERE p.token IN (SELECT token FROM sel) AND p.doc_id <> $fixtureMltDoc),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM av) + 1) / CAST(df + 1 AS DOUBLE)) * 1000) AS BIGINT) AS idf_milli
       |  FROM v WHERE token IN (SELECT token FROM sel)),
       |sc AS (
       |  SELECT cp.doc_id,
       |    CAST(sum((44 * m.idf_milli * cp.tf * (SELECT avgdl FROM av))
       |         // (20 * (SELECT avgdl FROM av) * cp.tf + 6 * (SELECT avgdl FROM av) + 18 * d.dl)) AS BIGINT) AS score_milli
       |  FROM cp JOIN model m ON m.token = cp.token
       |  JOIN dl d ON d.doc_id = cp.doc_id
       |  GROUP BY cp.doc_id),
       |bmranked AS (
       |  SELECT doc_id, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT rank, doc_id, score_milli FROM bmranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  private lazy val oracleAnalyzedPrefixSearch: String =
    oracleAnalyzedExpansionSearch(
      s"""exp AS (
         |  SELECT token, df FROM v WHERE starts_with(token, ${sqlLit(fixturePrefix)})
         |  ORDER BY df DESC, token LIMIT $fixturePrefixExpand)""".stripMargin
    )

  private lazy val oracleAnalyzedFuzzySearch: String =
    oracleAnalyzedExpansionSearch(
      s"""exp AS (
         |  SELECT token, df FROM (
         |    SELECT token, df, CAST(levenshtein(token, ${sqlLit(fixtureFuzzyTerm)}) AS BIGINT) AS dist
         |    FROM v WHERE abs(length(token) - ${fixtureFuzzyTerm.length}) <= $fixtureFuzzyDist) x
         |  WHERE dist <= $fixtureFuzzyDist
         |  ORDER BY dist, df DESC, token LIMIT $fixtureFuzzyExpand)""".stripMargin
    )

  private lazy val oracleBatch: String = {
      val valuesRows = fixtureBatch.map { case (q, t) => s"($q, ${sqlLit(t)})" }.mkString(", ")
      val modeRows = fixtureModes.map { case (q, m) => s"($q, ${sqlLit(m)})" }.mkString(", ")
      s"""WITH qs AS (
         |  SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS term
         |  FROM (VALUES $valuesRows) v(q, t)),
         |qm AS (
         |  SELECT CAST(v.q AS BIGINT) AS query_id, v.m AS mode
         |  FROM (VALUES $modeRows) v(q, m)),
         |p0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |p AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM p0
         |      WHERE token IN (SELECT term FROM qs) GROUP BY token, doc_id),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
         |model AS (
         |  SELECT token,
         |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
         |  FROM dfm),
         |qn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms FROM qs GROUP BY query_id),
         |sc AS (
         |  SELECT q.query_id, p.doc_id, count(*) AS n_matched,
         |    CAST(sum(p.tf * m.idf_micro) AS BIGINT) AS score_micro
         |  FROM p JOIN qs q ON q.term = p.token JOIN model m ON m.token = p.token
         |  GROUP BY q.query_id, p.doc_id),
         |f AS (
         |  SELECT s.query_id, s.doc_id, s.score_micro,
         |    CAST(row_number() OVER (PARTITION BY s.query_id
         |                            ORDER BY s.score_micro DESC, s.doc_id ASC) AS BIGINT) AS rank
         |  FROM sc s
         |  JOIN qn ON qn.query_id = s.query_id
         |  JOIN qm ON qm.query_id = s.query_id
         |    AND ((qm.mode = 'OR' AND s.n_matched >= 1)
         |         OR (qm.mode <> 'OR' AND s.n_matched = qn.n_terms)))
         |SELECT query_id, rank, doc_id, score_micro
         |FROM f WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }

  /** BM25-scored batch over the fixture query relation: the same
    * rational arithmetic as [[oracleBm25]] applied per (query, doc) —
    * every query disjunctive (the BM25 norm).
    */
  private lazy val oracleBatchBm25: String = {
    val valuesRows = fixtureBatch.map { case (q, t) => s"($q, ${sqlLit(t)})" }.mkString(", ")
    s"""WITH qs AS (
       |  SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS term
       |  FROM (VALUES $valuesRows) v(q, t)),
       |st AS (
       |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks
       |  FROM documents),
       |av AS (SELECT n_docs, total_toks // n_docs AS avgdl FROM st),
       |p0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |p AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM p0
       |      WHERE token IN (SELECT term FROM qs) GROUP BY token, doc_id),
       |cd AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM av) + 1) / CAST(df + 1 AS DOUBLE)) * 1000) AS BIGINT) AS idf_milli
       |  FROM dfm),
       |sc AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(sum((44 * m.idf_milli * p.tf * (SELECT avgdl FROM av))
       |         // (20 * (SELECT avgdl FROM av) * p.tf + 6 * (SELECT avgdl FROM av) + 18 * d.dl)) AS BIGINT) AS score_milli
       |  FROM p JOIN qs q ON q.term = p.token
       |  JOIN model m ON m.token = p.token
       |  JOIN cd d ON d.doc_id = p.doc_id
       |  GROUP BY q.query_id, p.doc_id),
       |f AS (
       |  SELECT query_id, doc_id, score_milli,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT query_id, rank, doc_id, score_milli
       |FROM f WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Shared by search_bm25 (corpus pass) and search_bm25_index (index
    * serve) — the equality between the two routes IS the index gate.
    * N is count(DISTINCT doc_id), the single convention all search
    * routes share.
    */
  /** The BM25 CTE chain up to `bmranked` — reusable inside composite
    * oracles (RRF fusion).
    */
  private def oracleBm25ChainFor(terms: Seq[String], src: String): String = {
    val termList = terms.map(sqlLit).mkString(", ")
    val containsAny = terms.map(t => s"contains(text, ${sqlLit(t)})").mkString(" OR ")
    val dfArms = terms
      .map(t =>
        s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
           |    SELECT token, doc_id FROM (
           |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |      FROM $src WHERE contains(text, ${sqlLit(t)})) x
           |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
      )
      .mkString("\n  UNION ALL\n  ")
    s"""st AS (
       |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks
       |  FROM $src),
       |av AS (SELECT n_docs, total_toks // n_docs AS avgdl FROM st),
       |cand AS (SELECT doc_id, text FROM $src WHERE $containsAny),
       |cd AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM cand),
       |c0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM cand),
       |cp AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM c0
       |       WHERE token IN ($termList) GROUP BY token, doc_id),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM av) + 1) / CAST(df + 1 AS DOUBLE)) * 1000) AS BIGINT) AS idf_milli
       |  FROM dfm),
       |sc AS (
       |  SELECT cp.doc_id, count(*) AS n_matched,
       |    CAST(sum((44 * m.idf_milli * cp.tf * (SELECT avgdl FROM av))
       |         // (20 * (SELECT avgdl FROM av) * cp.tf + 6 * (SELECT avgdl FROM av) + 18 * d.dl)) AS BIGINT) AS score_milli
       |  FROM cp JOIN model m ON m.token = cp.token
       |  JOIN cd d ON d.doc_id = cp.doc_id
       |  GROUP BY cp.doc_id),
       |bmranked AS (
       |  SELECT doc_id, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM sc)""".stripMargin
  }

  private lazy val oracleBm25Chain: String = oracleBm25ChainFor(fixtureOrTerms, "documents")

  private lazy val oracleBm25: String =
    s"""WITH $oracleBm25Chain
       |SELECT rank, doc_id, score_milli FROM bmranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Live-corpus CTE for the DELETE gates — the docs the fixture
    * delete leaves behind (doc_id % 5 == 1 tombstoned).
    */
  private val liveDocsCte =
    "livedocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 1)"

  /** Shared by search_delete_serve (tombstone-served) and
    * search_delete_compacted (post-purge): the ordinary conjunctive
    * chain over the LIVE corpus only — the delete must be invisible
    * except for the rows it removes.
    */
  private lazy val oracleDeleteServe: String =
    s"""WITH $liveDocsCte,
       |${oracleTermSearchChain(fixtureAndTerms, requireAll = true, src = "livedocs")}
       |SELECT rank, doc_id, score_micro FROM ranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** BM25 over the live corpus — search_delete_bm25's oracle: the
    * uncompacted tombstoned index must reproduce it exactly (df from
    * live rows, N/avgdl from the decremented meta).
    */
  private lazy val oracleDeleteBm25: String =
    s"""WITH $liveDocsCte,
       |${oracleBm25ChainFor(fixtureOrTerms, "livedocs")}
       |SELECT rank, doc_id, score_milli FROM bmranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** search_facets_stream's oracle: the facet sidebar over the FINAL
    * document versions (the 5th batch's rewrite applied in SQL) — the
    * exact-token AND match set joined to the updated corpus's lang.
    */
  private[graft] lazy val oracleUpsertFacets: String =
    s"""WITH upd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 3 THEN replace(text, 'dup', 'dupword') ELSE text END AS text,
       |    lang
       |  FROM documents),
       |${oracleTermSearchChain(fixtureAndTerms, requireAll = true, src = "upd")}
       |SELECT u.lang, CAST(count(*) AS BIGINT) AS n_hits
       |FROM scored s JOIN upd u USING (doc_id)
       |GROUP BY u.lang ORDER BY n_hits DESC, u.lang""".stripMargin

  /** search_stream_cdc's oracle: BM25 over the source's FINAL state —
    * the 5th batch's deletes (doc_id % 5 == 1) removed and its updates
    * (remaining doc_id % 7 == 3) rewritten in SQL.
    */
  private[graft] lazy val oracleCdcBm25: String =
    s"""WITH upd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 3 AND doc_id % 5 <> 1
       |         THEN replace(text, 'dup', 'dupword') ELSE text END AS text
       |  FROM documents WHERE doc_id % 5 <> 1),
       |${oracleBm25ChainFor(fixtureOrTerms, "upd")}
       |SELECT rank, doc_id, score_milli FROM bmranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** search_stream_upsert's oracle: BM25 over the corpus AFTER the
    * stream's 5th batch rewrote every doc_id % 7 == 3 document — the
    * same `replace` both engines run, so the gate proves old versions
    * died, replacements serve, and compaction healed the stats.
    */
  private[graft] lazy val oracleUpsertBm25: String =
    s"""WITH upd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 3 THEN replace(text, 'dup', 'dupword') ELSE text END AS text
       |  FROM documents),
       |${oracleBm25ChainFor(fixtureOrTerms, "upd")}
       |SELECT rank, doc_id, score_milli FROM bmranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** search_stream_bm25f_upsert's oracle: BM25F over the corpus AFTER
    * the stream's 5th batch rewrote every doc_id % 7 == 3 document —
    * the fielded model recomputed over the rewritten source, so dead
    * old versions, live replacements and healed per-field stats are
    * all asserted at once.
    */
  private[graft] lazy val oracleStreamBm25fUpsert: String =
    oracleBm25fFrom(
      "(SELECT doc_id, CASE WHEN doc_id % 7 = 3 THEN replace(text, 'dup', 'dupword') " +
        "ELSE text END AS text FROM documents)"
    )

  /** RRF fusion oracle: the BM25 chain's top-k and the cosine top-k
    * (the ann_cosine_topk fixture: query vector 0, round-6 cosine, id
    * tie-break) full-outer joined, fused with the exact integer
    * 10⁶ div (60 + rank) arithmetic.
    */
  private lazy val oracleRrf: String =
    s"""WITH $oracleBm25Chain,
       |lx AS (SELECT doc_id AS id, rank AS lex_rank FROM bmranked WHERE rank <= $topK),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qe AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
       |cs AS (
       |  SELECT vec_id,
       |    round(list_dot_product(v, qv) /
       |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
       |  FROM ev, qe),
       |vr AS (
       |  SELECT vec_id AS id, vec_rank FROM (
       |    SELECT vec_id,
       |      CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS vec_rank
       |    FROM cs) WHERE vec_rank <= $topK),
       |fu AS (
       |  SELECT COALESCE(lx.id, vr.id) AS id, lx.lex_rank, vr.vec_rank
       |  FROM lx FULL OUTER JOIN vr ON vr.id = lx.id)
       |SELECT id,
       |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       |  CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
       |  CAST(COALESCE(1000000 // (60 + lex_rank), 0)
       |     + COALESCE(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_micro
       |FROM fu ORDER BY rrf_micro DESC, id""".stripMargin

  /** RRF fusion oracle at the RECALL configuration (nProbe < nLists):
    * the BM25 chain and the integer fusion recompute engine-side; the
    * vector leg's ranks replay [[Similarity.ivfTopkGoldenSf001]] —
    * the pinned result of the SAME seeded centroid assignment + probe
    * restriction the plan runs (KMeans arithmetic being the one
    * engine-unportable piece).
    */
  private lazy val oracleRrfRecall: String = {
    val vrRows = Similarity.ivfTopkGoldenSf001
      .map { case (v, _, _, c) => (v, c.toDouble) }
      .sortBy { case (v, c) => (-c, v) }
      .zipWithIndex
      .map { case ((v, _), i) => s"($v, ${i + 1})" }
      .mkString(", ")
    s"""WITH $oracleBm25Chain,
       |lx AS (SELECT doc_id AS id, rank AS lex_rank FROM bmranked WHERE rank <= $topK),
       |vr AS (SELECT CAST(v.id AS BIGINT) AS id, CAST(v.r AS BIGINT) AS vec_rank
       |       FROM (VALUES $vrRows) v(id, r)),
       |fu AS (
       |  SELECT COALESCE(lx.id, vr.id) AS id, lx.lex_rank, vr.vec_rank
       |  FROM lx FULL OUTER JOIN vr ON vr.id = lx.id)
       |SELECT id,
       |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       |  CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
       |  CAST(COALESCE(1000000 // (60 + lex_rank), 0)
       |     + COALESCE(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_micro
       |FROM fu ORDER BY rrf_micro DESC, id""".stripMargin
  }

  /** Cluster-deduped results oracle: the disjunctive chain's top-50
    * collapsed to the best rank per cluster-chain label, re-ranked
    * dense.
    */
  private lazy val oracleDedupResults: String =
    s"""${GraphDedup.clusterChainSql},
       |${oracleTermSearchChain(fixtureOrTerms, requireAll = false)},
       |hits AS (SELECT doc_id, rank FROM ranked WHERE rank <= $dedupResultsK),
       |jj AS (SELECT h.rank, h.doc_id, l.cluster_id FROM hits h JOIN lab l USING (doc_id)),
       |best AS (
       |  SELECT rank, doc_id, cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY rank) AS rn
       |  FROM jj)
       |SELECT CAST(row_number() OVER (ORDER BY rank) AS BIGINT) AS new_rank,
       |  doc_id, cluster_id, CAST(rank AS BIGINT) AS orig_rank
       |FROM best WHERE rn = 1 ORDER BY new_rank""".stripMargin

  /** N-term phrase oracle — shared by [[phraseSearch]] over the corpus
    * and over the positional-postings index (through the append+compact
    * lifecycle); the k−1 leads check adjacency independently of the
    * route's rarest-first equi-join fold.
    */
  private def oraclePhraseSql(terms: Seq[String]): String = {
    val containsAll = terms.distinct.map(t => s"contains(text, ${sqlLit(t)})").mkString(" AND ")
    val leads = terms.indices.tail
      .map(i => s"lead(token, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS next_$i")
      .mkString(",\n  |    ")
    val gate = (s"token = ${sqlLit(terms.head)}" +:
      terms.indices.tail.map(i => s"next_$i = ${sqlLit(terms(i))}")).mkString(" AND ")
    s"""WITH pt AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
       |  FROM documents WHERE $containsAll),
       |ps AS (SELECT doc_id, toks, unnest(generate_series(1, n, 1)) AS pos FROM pt),
       |px AS (SELECT doc_id, pos, toks[pos] AS token FROM ps),
       |w AS (
       |  SELECT doc_id, token,
       |    $leads
       |  FROM px)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM w WHERE $gate
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private lazy val oraclePhrase: String = oraclePhraseSql(Seq(fixturePhrase._1, fixturePhrase._2))

  /** [[oraclePhraseSql]]'s ANALYZED twin: the damaged-corpus chain,
    * the analyzer inside the list lambda (the exact chain the plan's
    * [[atoksCol]] runs), positions numbered over the FILTERED analyzed
    * list, the same k−1-lead window gate. Terms are pre-analyzed
    * driver-side with the deterministic [[analyzeTerm]].
    */
  private def oracleAnalyzedPhraseSql(rawTerms: Seq[String]): String = {
    val terms = rawTerms.map(analyzeTerm)
    val containsAll = terms.distinct.map(t => s"contains(lower(text), ${sqlLit(t)})").mkString(" AND ")
    val leads = terms.indices.tail
      .map(i => s"lead(token, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS next_$i")
      .mkString(",\n  |    ")
    val gate = (s"token = ${sqlLit(terms.head)}" +:
      terms.indices.tail.map(i => s"next_$i = ${sqlLit(terms(i))}")).mkString(" AND ")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |at AS (
       |  SELECT doc_id,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS atoks
       |  FROM dd WHERE $containsAll),
       |ps AS (SELECT doc_id, atoks, unnest(generate_series(1, len(atoks), 1)) AS pos FROM at),
       |px AS (SELECT doc_id, pos, atoks[pos] AS token FROM ps),
       |w AS (
       |  SELECT doc_id, token,
       |    $leads
       |  FROM px)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM w WHERE $gate
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private lazy val oracleAnalyzedPhrase: String = oracleAnalyzedPhraseSql(fixtureAnalyzedPhrase)

  lazy val registry: Seq[Query] = Seq(
    Query("search_postings", searchPostings,
      s"""WITH $postingsSql,
         |fp AS (
         |  SELECT token,
         |    bit_xor(CAST(${Dedup.hex12ValSql("md5(token || ':' || CAST(doc_id AS VARCHAR))", 1)} AS BIGINT)) AS postings_fp
         |  FROM p GROUP BY token),
         |stats AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
         |  FROM p GROUP BY token),
         |hd AS (
         |  SELECT token, doc_id, row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM p),
         |heads AS (
         |  SELECT token, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings_head
         |  FROM hd WHERE rn <= 16 GROUP BY token)
         |SELECT s.token, s.df, s.tf_total, h.postings_head, f.postings_fp
         |FROM stats s JOIN heads h USING (token) JOIN fp f USING (token)
         |ORDER BY s.token""".stripMargin),
    Query("search_conjunctive", searchConjunctive, oracleTermSearch(fixtureAndTerms, requireAll = true)),
    Query("search_disjunctive", searchDisjunctive, oracleTermSearch(fixtureOrTerms, requireAll = false)),
    // minimum_should_match: ≥ 2 of 3 terms — between AND and OR; the
    // index-served twin shares the oracle so corpus ≡ index is the gate
    Query("search_min_match", searchMinMatch,
      oracleTermSearch(fixtureMinTerms, requireAll = false, minMatch = fixtureMinMatch)),
    Query("search_min_match_index", searchMinMatchIndex,
      oracleTermSearch(fixtureMinTerms, requireAll = false, minMatch = fixtureMinMatch),
      build = Some(FirstRun)),

    // dictionary tier: autocomplete/did-you-mean serve from the vocab
    // relation alone; the oracle recomputes the dictionary from the
    // corpus, so vocab correctness is gated transitively
    Query("search_autocomplete", searchAutocomplete,
      s"""WITH $postingsSql,
         |v AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM p
         |  WHERE starts_with(token, ${sqlLit(fixturePrefix)}) GROUP BY token),
         |top AS (SELECT token, df FROM v ORDER BY df DESC, token LIMIT $fixtureAutoN)
         |SELECT CAST(row_number() OVER (ORDER BY df DESC, token) AS BIGINT) AS rank, token, df
         |FROM top ORDER BY rank""".stripMargin, build = Some(FirstRun)),
    Query("search_did_you_mean", searchDidYouMean,
      s"""WITH $postingsSql,
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
         |c AS (
         |  SELECT token, df, CAST(levenshtein(token, ${sqlLit(fixtureTypo)}) AS BIGINT) AS dist
         |  FROM v WHERE abs(length(token) - ${fixtureTypo.length}) <= $fixtureFuzzyDist),
         |f AS (
         |  SELECT token, dist, df FROM c WHERE dist <= $fixtureFuzzyDist
         |  ORDER BY dist, df DESC, token LIMIT $fixtureDymN)
         |SELECT CAST(row_number() OVER (ORDER BY dist, df DESC, token) AS BIGINT) AS rank,
         |  token, dist, df
         |FROM f ORDER BY rank""".stripMargin, build = Some(FirstRun)),
    // the prefix page: corpus route, index-served route, and the
    // UNCOMPACTED appended index (vocab base ⊕ increment fold) all
    // share one oracle — the three-way equality is the gate
    Query("search_prefix", searchPrefix, oraclePrefixSearch),
    Query("search_prefix_index", searchPrefixIndex, oraclePrefixSearch, build = Some(FirstRun)),
    Query("search_prefix_appended", searchPrefixAppended, oraclePrefixSearch, build = Some(FirstRun)),
    Query("search_fuzzy_index", searchFuzzyIndex, oracleFuzzySearch, build = Some(FirstRun)),
    Query("search_wildcard_index", searchWildcardIndex, oracleWildcardSearch, build = Some(FirstRun)),
    Query("search_regex_index", searchRegexIndex, oracleRegexSearch),
    Query("search_rrf_weighted", searchRrfWeighted, oracleRrfWeighted),
    Query("search_field_scoped", searchFieldScoped, oracleFieldScoped),
    // synonym groups: corpus and index routes share the gate
    Query("search_synonym", searchSynonym, oracleSynonym),
    Query("search_synonym_index", searchSynonymIndex, oracleSynonym, build = Some(FirstRun)),
    // boolean NOT: exact-token exclusion before the ranking
    Query("search_boolean_not", searchBooleanNot, oracleBooleanNot),
    Query("search_boolean_not_index", searchBooleanNotIndex, oracleBooleanNot, build = Some(FirstRun)),
    // time travel: the as-of-generation-0 probe serves the exact
    // pre-upsert state — original texts, batch-1 rows invisible, its
    // tombstones unapplied, N from the ledger history
    Query("search_asof_probe", searchAsOfProbe,
      s"""WITH asofdocs AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 2 = 0 OR doc_id % 4 = 1),
         |${oracleTermSearchChain(fixtureAndTerms, requireAll = true, src = "asofdocs")}
         |SELECT rank, doc_id, score_micro FROM ranked WHERE rank <= $topK ORDER BY rank""".stripMargin,
      build = Some(FirstRun)),
    // ranked time travel: the full BM25 model (N, avgdl, df, dl)
    // reconstructed at generation 0
    Query("search_asof_bm25", searchAsOfBm25,
      s"""WITH asofdocs AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 2 = 0 OR doc_id % 4 = 1),
         |${oracleBm25ChainFor(fixtureOrTerms, "asofdocs")}
         |SELECT rank, doc_id, score_milli FROM bmranked WHERE rank <= $topK ORDER BY rank""".stripMargin,
      build = Some(FirstRun)),
    // PIT pagination: the as-of ranking's page 2, cursor = page 1's
    // last row (max rank <= k) over the pre-upsert corpus
    Query("search_asof_page_after", searchAsOfPageAfter,
      s"""WITH asofdocs AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 2 = 0 OR doc_id % 4 = 1),
         |${oracleBm25ChainFor(fixtureOrTerms, "asofdocs")},
         |acur AS (SELECT score_milli, doc_id FROM bmranked
         |         WHERE rank = (SELECT max(rank) FROM bmranked WHERE rank <= $topK)),
         |apg2 AS (
         |  SELECT doc_id, score_milli FROM sc
         |  WHERE sc.score_milli < (SELECT score_milli FROM acur)
         |     OR (sc.score_milli = (SELECT score_milli FROM acur)
         |         AND sc.doc_id > (SELECT doc_id FROM acur))),
         |ar2 AS (
         |  SELECT doc_id, score_milli,
         |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM apg2)
         |SELECT rank, doc_id, score_milli FROM ar2 WHERE rank <= $topK ORDER BY rank""".stripMargin),
    // dictionary introspection: exact df/tf per probe term, absent
    // term yields NO row
    Query("search_term_stats", searchTermStats, {
      val termList = (fixtureOrTerms :+ "zzzabsent").map(sqlLit).mkString(", ")
      s"""WITH $postingsSql
         |SELECT token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
         |FROM p WHERE token IN ($termList)
         |GROUP BY token ORDER BY token""".stripMargin
    }, build = Some(FirstRun)),
    // unordered proximity at slop 3 — strictly wider than the phrase
    Query("search_proximity", searchProximity, oracleProximity),
    Query("search_proximity_index", searchProximityIndex, oracleProximity, build = Some(FirstRun)),
    // ordered slop: corpus and index twins share the in-order gate
    Query("search_phrase_slop", searchPhraseSlop, oracleOrderedSlop),
    Query("search_phrase_slop_index", searchPhraseSlopIndex, oracleOrderedSlop),
    Query("search_phrase_slop_analyzed", searchPhraseSlopAnalyzed, oracleAnalyzedOrderedSlop),
    Query("search_regex_analyzed_index", searchRegexAnalyzedIndex, oracleAnalyzedRegexSearch),
    Query("search_term_boost", searchTermBoost, oracleTermBoost),
    Query("search_hit_count", searchHitCount, oracleHitCount),
    Query("search_auto_correct", searchAutoCorrect, oracleAutoCorrect),
    Query("search_auto_correct_multi", searchAutoCorrectMulti, oracleAutoCorrectMulti),
    Query("search_query_string", searchQueryStringQ, oracleQueryString),
    Query("search_query_string_fielded", searchQueryStringFielded, oracleQueryStringFielded),
    Query("search_query_string_fuzzy", searchQueryStringFuzzy, oracleQueryStringFuzzy),
    Query("search_query_string_range", searchQueryStringRange, oracleQueryStringRange),
    Query("search_query_string_analyzed", searchQueryStringAnalyzedQ, oracleQueryStringAnalyzed),
    Query("search_query_string_page", searchQueryStringPage, oracleQueryStringPage),
    // chunk retrieval: corpus and index twins share the pooled oracle
    Query("search_chunk_bm25", searchChunkBm25, oracleChunkBm25),
    Query("search_chunk_bm25_index", searchChunkBm25Index, oracleChunkBm25),
    Query("search_chunk_page", searchChunkPage, oracleChunkPage),
    Query("search_chunk_bm25_appended", searchChunkBm25Appended, oracleChunkBm25),
    Query("search_range_facet", searchRangeFacet, oracleRangeFacet),
    Query("search_grouped_topk", searchGroupedTopK, oracleGroupedTopK),
    Query("search_best_passage", searchBestPassage, oracleBestPassage),
    Query("search_range_facet_analyzed", searchRangeFacetAnalyzed, oracleRangeFacetAnalyzed),
    Query("search_grouped_topk_analyzed", searchGroupedTopKAnalyzed, oracleGroupedTopKAnalyzed),
    Query("search_best_passage_analyzed", searchBestPassageAnalyzed, oracleBestPassageAnalyzed),
    Query("search_retrieval_eval", searchRetrievalEval, {
      val runsVals = fixtureEvalRuns.map { case (q, dd, r) => s"($q, $dd, $r)" }.mkString(", ")
      val qrelVals = fixtureEvalQrels.map { case (q, dd, r) => s"($q, $dd, $r)" }.mkString(", ")
      s"""WITH runs(query_id, doc_id, rank) AS (VALUES $runsVals),
         |qrels(query_id, doc_id, rel) AS (VALUES $qrelVals),
         |relv AS (SELECT query_id, doc_id, rel FROM qrels WHERE rel >= 1),
         |basis AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM relv GROUP BY query_id),
         |hits AS (
         |  SELECT r.query_id, r.rank, v.rel FROM runs r
         |  JOIN relv v USING (query_id, doc_id) WHERE r.rank <= $fixtureEvalK),
         |ha AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel_at_k,
         |    CAST(min(rank) AS BIGINT) AS first_rel_rank,
         |    CAST(sum(CAST(floor((pow(2, rel) - 1) * 1000000 / log2(rank + 1)) AS BIGINT)) AS BIGINT) AS dcg_micro
         |  FROM hits GROUP BY query_id),
         |ideal0 AS (
         |  SELECT query_id, rel,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS i
         |  FROM relv),
         |ideal AS (
         |  SELECT query_id,
         |    CAST(sum(CAST(floor((pow(2, rel) - 1) * 1000000 / log2(i + 1)) AS BIGINT)) AS BIGINT) AS idcg_micro
         |  FROM ideal0 WHERE i <= $fixtureEvalK GROUP BY query_id)
         |SELECT CAST(b.query_id AS BIGINT) AS query_id, b.n_rel,
         |  CAST(coalesce(h.n_rel_at_k, 0) AS BIGINT) AS n_rel_at_k,
         |  CAST(coalesce(h.n_rel_at_k, 0) * 1000000 // b.n_rel AS BIGINT) AS recall_micro,
         |  CAST(coalesce(h.n_rel_at_k, 0) * 1000000 // $fixtureEvalK AS BIGINT) AS precision_micro,
         |  CAST(coalesce(1000000 // h.first_rel_rank, 0) AS BIGINT) AS mrr_micro,
         |  CAST(coalesce(h.dcg_micro, 0) * 1000000 // i.idcg_micro AS BIGINT) AS ndcg_micro
         |FROM basis b LEFT JOIN ha h USING (query_id) LEFT JOIN ideal i USING (query_id)
         |ORDER BY query_id""".stripMargin
    }),
    Query("search_more_like_this", searchMoreLikeThis, oracleMoreLikeThis, build = Some(FirstRun)),
    // the MERGED shard index serves the corpus routes' exact pages:
    // conjunctive gates the posting moves, BM25 the meta sums + dl,
    // prefix the vocab fold — three-shard build ≡ one-shot build
    Query("search_merged_probe", searchMergedProbe, oracleTermSearch(fixtureAndTerms, requireAll = true),
      build = Some(FirstRun)),
    Query("search_merged_bm25", searchMergedBm25, oracleBm25, build = Some(FirstRun)),
    Query("search_merged_prefix", searchMergedPrefix, oraclePrefixSearch, build = Some(FirstRun)),
    // analyzed dictionary tier on the damaged corpus: raw inputs carry
    // case/punct damage ("S", "[QUEY]", "SCAT!"), the analyzer folds
    // both sides, avocab rides build→append→compact
    Query("search_autocomplete_analyzed", searchAutocompleteAnalyzed,
      s"""WITH $analyzedDictSql,
         |pv AS (SELECT token, df FROM v WHERE starts_with(token, ${sqlLit(fixturePrefix)})),
         |top AS (SELECT token, df FROM pv ORDER BY df DESC, token LIMIT $fixtureAutoN)
         |SELECT CAST(row_number() OVER (ORDER BY df DESC, token) AS BIGINT) AS rank, token, df
         |FROM top ORDER BY rank""".stripMargin, build = Some(FirstRun)),
    Query("search_did_you_mean_analyzed", searchDidYouMeanAnalyzed,
      s"""WITH $analyzedDictSql,
         |c AS (
         |  SELECT token, df, CAST(levenshtein(token, ${sqlLit(fixtureTypo)}) AS BIGINT) AS dist
         |  FROM v WHERE abs(length(token) - ${fixtureTypo.length}) <= $fixtureFuzzyDist),
         |f AS (
         |  SELECT token, dist, df FROM c WHERE dist <= $fixtureFuzzyDist
         |  ORDER BY dist, df DESC, token LIMIT $fixtureDymN)
         |SELECT CAST(row_number() OVER (ORDER BY dist, df DESC, token) AS BIGINT) AS rank,
         |  token, dist, df
         |FROM f ORDER BY rank""".stripMargin, build = Some(FirstRun)),
    Query("search_prefix_analyzed_index", searchPrefixAnalyzedIndex, oracleAnalyzedPrefixSearch,
      build = Some(FirstRun)),
    Query("search_fuzzy_analyzed_index", searchFuzzyAnalyzedIndex, oracleAnalyzedFuzzySearch,
      build = Some(FirstRun)),
    Query("search_bm25", searchBm25, oracleBm25),
    // BM25 served from the persisted index must land on the corpus
    // route's exact rows — sharing the oracle makes that the gate
    Query("search_bm25_index", searchBm25Index, oracleBm25, build = Some(FirstRun)),
    Query("search_batch_serve", searchBatchServe, oracleBatch),
    // index-served batch must equal the corpus-pass batch row for row
    Query("search_batch_index", searchBatchIndex, oracleBatch, build = Some(FirstRun)),
    Query("search_batch_bm25", searchBatchBm25, oracleBatchBm25, build = Some(FirstRun)),

    // facet sidebar: exact-token AND match set joined to the corpus
    // lang column — counts, not pages, so the whole match set gates
    Query("search_facets", searchFacets,
      s"""WITH ${oracleTermSearchChain(fixtureAndTerms, requireAll = true)}
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_hits
         |FROM scored s JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY n_hits DESC, d.lang""".stripMargin, build = Some(FirstRun)),
    // multi-facet sidebar: each dimension recomputed independently,
    // unioned under the facet tag
    Query("search_facets_multi", searchFacetsMulti,
      s"""WITH ${oracleTermSearchChain(fixtureAndTerms, requireAll = true)}
         |SELECT 'lang' AS facet, CAST(d.lang AS VARCHAR) AS value, CAST(count(*) AS BIGINT) AS n_hits
         |FROM scored s JOIN documents d USING (doc_id) GROUP BY d.lang
         |UNION ALL
         |SELECT 'source' AS facet, CAST(d.source AS VARCHAR) AS value, CAST(count(*) AS BIGINT) AS n_hits
         |FROM scored s JOIN documents d USING (doc_id) GROUP BY d.source
         |ORDER BY facet, value""".stripMargin),
    // keyset pagination: one global ranking, renumbered to the second
    // page — a cursor that skips or repeats a row hash-mismatches
    Query("search_page_after", searchPageAfter,
      s"""WITH $oracleBm25Chain
         |SELECT CAST(row_number() OVER (ORDER BY rank) AS BIGINT) AS rank, doc_id, score_milli
         |FROM bmranked WHERE rank > $topK AND rank <= ${2 * topK} ORDER BY rank""".stripMargin,
      build = Some(FirstRun)),
    // the ANALYZED twins of the two serving shapes above, on the
    // damaged corpus — production search is always analyzed
    Query("search_facets_analyzed", searchFacetsAnalyzed, oracleAnalyzedFacets, build = Some(FirstRun)),
    Query("search_page_after_analyzed", searchPageAfterAnalyzed, oracleAnalyzedPageAfter,
      build = Some(FirstRun)),
    // index monitoring: every engine-portable invariant recomputed
    // from the corpus; doclen = docs, positions = token occurrences
    Query("search_index_stats", searchIndexStatsQ,
      s"""WITH $postingsSql
         |SELECT
         |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents) AS n_docs,
         |  (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) FROM documents) AS total_toks,
         |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS postings_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM p0) AS positions_rows,
         |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents) AS doclen_rows,
         |  CAST(0 AS BIGINT) AS tombstone_rows,
         |  CAST(0 AS BIGINT) AS ledger_files""".stripMargin, build = Some(FirstRun)),

    // DELETE gates: the tombstoned (uncompacted) index and the
    // purged (compacted) index both serve the LIVE-corpus chain
    // exactly — scores included, because the delete decremented N
    // exactly and df comes from live rows only
    Query("search_delete_serve", searchDeleteServe, oracleDeleteServe, build = Some(FirstRun)),
    Query("search_delete_bm25", searchDeleteBm25, oracleDeleteBm25, build = Some(FirstRun)),
    Query("search_delete_compacted", searchDeleteCompacted, oracleDeleteServe, build = Some(FirstRun)),

    // the index-served route must land on the batch conjunctive's
    // exact rows — sharing the oracle makes the equality the gate
    Query("search_index_probe", searchIndexProbe, oracleTermSearch(fixtureAndTerms, requireAll = true),
      build = Some(FirstRun)),
    // build+append+compact must be indistinguishable from one build
    Query("search_index_appended", searchIndexAppended, oracleTermSearch(fixtureAndTerms, requireAll = true),
      build = Some(FirstRun)),
    // OR served from the index must equal the corpus-pass OR route
    Query("search_disjunctive_index", searchDisjunctiveIndex,
      oracleTermSearch(fixtureOrTerms, requireAll = false), build = Some(FirstRun)),
    Query("search_phrase", searchPhrase, oraclePhrase),
    // index-served phrase (through build→append→compact) must equal
    // the corpus-pass route row for row
    Query("search_phrase_index", searchPhraseIndex, oraclePhrase, build = Some(FirstRun)),
    Query("search_phrase3", searchPhrase3, oraclePhraseSql(fixturePhrase3)),
    // the n-term fold from the maintained index shares the corpus
    // trigram oracle — rarest-first equi-join chain ≡ the oracle's leads
    Query("search_phrase3_index", searchPhrase3Index, oraclePhraseSql(fixturePhrase3),
      build = Some(FirstRun)),
    Query("search_rrf_hybrid", searchRrfHybrid, oracleRrf),
    // served from the persisted search + IVF indexes (exhaustive
    // probe → exact), must equal the corpus-derived hybrid page
    Query("search_rrf_index", searchRrfIndex, oracleRrf, build = Some(FirstRun)),
    // the nProbe < nLists production configuration, vector leg replayed
    // from the ann_ivf_topk_index golden pin
    Query("search_rrf_recall", searchRrfRecall, oracleRrfRecall, build = Some(FirstRun)),
    // analyzed lexical leg ⊕ exhaustive vector leg — both recomputed
    Query("search_rrf_analyzed", searchRrfAnalyzed, oracleRrfAnalyzed, build = Some(FirstRun)),
    Query("search_dedup_results", searchDedupResults, oracleDedupResults),
    // hits from the persisted search index, labels from the persisted
    // cluster map pruned to the hits' buckets — same page, from bytes
    Query("search_dedup_results_graph", searchDedupResultsGraph, oracleDedupResults, build = Some(FirstRun)),
    Query("search_analyzed", searchAnalyzed, oracleAnalyzed),
    Query("search_phrase_analyzed", searchPhraseAnalyzed, oracleAnalyzedPhrase),
    // served from the maintained apositions relation, must land on the
    // corpus analyzed route's exact rows — shared oracle
    Query("search_phrase_analyzed_index", searchPhraseAnalyzedIndex, oracleAnalyzedPhrase,
      build = Some(FirstRun)),
    // analyzed serving from the persisted apostings relation (through
    // build→append→compact) must equal the corpus-pass analyzed route
    Query("search_analyzed_index", searchAnalyzedIndex, oracleAnalyzed, build = Some(FirstRun)),
    Query("search_analyzed_bm25", searchAnalyzedBm25, oracleAnalyzedBm25),
    // analyzed ranked serving from the persisted index (adl on posting
    // rows, ameta avgdl) must equal the corpus analyzed-BM25 pass
    Query("search_analyzed_bm25_index", searchAnalyzedBm25Index, oracleAnalyzedBm25, build = Some(FirstRun)),
    Query("search_batch_analyzed_bm25", searchBatchAnalyzedBm25, oracleBatchAnalyzedBm25,
      build = Some(FirstRun)),
    // the analyzed batch tier with per-query AND/OR modes
    Query("search_batch_analyzed_serve", searchBatchAnalyzedServe, oracleBatchAnalyzed,
      build = Some(FirstRun)),
    Query("search_kwic", searchKwic, {
      val t = sqlLit(fixturePhrase._1)
      s"""WITH pt AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE contains(text, $t)),
         |ps AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 1)) AS pos FROM pt),
         |hit AS (SELECT doc_id, pos, toks FROM ps WHERE toks[pos] = $t)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  array_to_string(toks[greatest(1, pos - 3):least(len(toks), pos + 3)], ' ') AS snippet
         |FROM hit ORDER BY doc_id, pos""".stripMargin
    }),
    // the page-served route must equal the corpus KWIC restricted to
    // the page's documents (the term-search chain re-derives the page)
    Query("search_kwic_page", searchKwicPage, oracleKwicPage, build = Some(FirstRun)),
    // multi-term page rendering: the union of the per-term page hits,
    // the matched term riding each row
    Query("search_kwic_page_multi", searchKwicPageMulti, oracleKwicPageMulti, build = Some(FirstRun)),
    // SERP filter click: corpus-level scoring model, facet-restricted
    // match set, page re-cut after the filter
    Query("search_facet_filtered", searchFacetFiltered, oracleFacetFiltered, build = Some(FirstRun)),
    // as-of page rendering: hits AND snippets replayed over the
    // generation-0 corpus (the upsert's rewrite invisible)
    Query("search_asof_page", searchAsOfPage, oracleAsOfPage, build = Some(FirstRun)),
    // fielded scoring: the exact BM25F integer rational form over the
    // deterministic title/body split
    Query("search_bm25f", searchBm25f, oracleBm25f, build = Some(FirstRun)),
    // built-then-appended ≡ one-shot-built, bit for bit
    Query("search_bm25f_appended", searchBm25fAppended, oracleBm25f),
    // BM25F through LIVE tombstones ≡ BM25F over the live corpus —
    // the whole fielded model recomputed over the filtered source
    Query("search_bm25f_deleted", searchBm25fDeleted, oracleBm25fFrom(fieldedLiveSrc)),
    // post-purge: tombstones consumed, fmeta re-derived — page frozen
    Query("search_bm25f_del_compacted", searchBm25fDelCompacted, oracleBm25fFrom(fieldedLiveSrc)),
    // field-scoped df/N over live rows only
    Query("search_field_scoped_deleted", searchFieldScopedDeleted, oracleFieldScopedFrom(fieldedLiveSrc)),
    // the same page rendered from the MERGED index + MERGED store —
    // sharing the oracle gates the whole distributed SERP stack
    Query("search_merged_kwic", searchMergedKwic, oracleKwicPage, build = Some(FirstRun)),
    // the analyzed page: the analyzed chain re-derives the page, the
    // damaged corpus provides the raw toks, the hit test analyzes the
    // raw token at each position — exactly the plan's arithmetic
    Query("search_kwic_page_analyzed", searchKwicPageAnalyzed, {
      val t = sqlLit(analyzeTerm(fixturePhrase._1))
      s"""WITH ${oracleAnalyzedChainFor(Seq(analyzeTerm(fixturePhrase._1)), requireAll = true)},
         |page AS (SELECT doc_id, rank FROM aranked WHERE rank <= $kwicPageK),
         |pt AS (
         |  SELECT p.rank, d.doc_id, string_split(d.text, ' ') AS toks
         |  FROM dd d JOIN page p ON p.doc_id = d.doc_id),
         |ps AS (SELECT rank, doc_id, toks, unnest(generate_series(1, len(toks), 1)) AS pos FROM pt),
         |hit AS (SELECT rank, doc_id, pos, toks FROM ps
         |        WHERE regexp_replace(lower(toks[pos]), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g') = $t)
         |SELECT CAST(rank AS BIGINT) AS rank, doc_id, CAST(pos AS BIGINT) AS pos,
         |  array_to_string(toks[greatest(1, pos - 3):least(len(toks), pos + 3)], ' ') AS snippet
         |FROM hit ORDER BY rank, pos""".stripMargin
    }, build = Some(FirstRun)),
    Query("search_kwic_analyzed", searchKwicAnalyzed, {
      // the damaged-corpus chain; the hit test analyzes the RAW token
      // at each position (position-aligned, no filtering), snippets
      // slice the raw damaged tokens — what a renderer displays
      val t = sqlLit(analyzeTerm(fixturePhrase._1))
      s"""WITH dd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
         |         WHEN doc_id % 11 = 0 THEN
         |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
         |         ELSE text END AS text
         |  FROM documents),
         |pt AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM dd WHERE contains(lower(text), $t)),
         |ps AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 1)) AS pos FROM pt),
         |hit AS (SELECT doc_id, pos, toks FROM ps
         |        WHERE regexp_replace(lower(toks[pos]), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g') = $t)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  array_to_string(toks[greatest(1, pos - 3):least(len(toks), pos + 3)], ' ') AS snippet
         |FROM hit ORDER BY doc_id, pos""".stripMargin
    })
  )

  /** Analyzed BM25 oracle over the damaged corpus: the analyzer chain
    * of [[oracleAnalyzed]] feeding the rational BM25 arithmetic of
    * [[oracleBm25Chain]], with the ANALYZED doc length as the
    * normalizer and analyzed-total div N as avgdl.
    */
  private lazy val oracleAnalyzedBm25: String =
    s"""$oracleAnalyzedBm25Body
       |SELECT rank, doc_id, score_milli FROM abmranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** The analyzed-BM25 chain up to `abmranked` — shared by the top-k
    * gate and the analyzed keyset-pagination gate.
    */
  private lazy val oracleAnalyzedBm25Body: String = {
    val terms = fixtureOrTerms.map(analyzeTerm)
    val termList = terms.map(sqlLit).mkString(", ")
    val containsAny = terms.map(t => s"contains(lower(text), ${sqlLit(t)})").mkString(" OR ")
    val dfArms = terms
      .map(t =>
        s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
           |    SELECT token, doc_id FROM (
           |      SELECT doc_id, unnest(atoks) AS token
           |      FROM at WHERE contains(lower(text), ${sqlLit(t)})) x
           |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
      )
      .mkString("\n  UNION ALL\n  ")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |at AS (
       |  SELECT doc_id, text,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS atoks
       |  FROM dd),
       |st AS (
       |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(sum(len(atoks)) AS BIGINT) AS total_atoks
       |  FROM at),
       |av AS (SELECT n_docs, total_atoks // n_docs AS avgdl FROM st),
       |cand AS (SELECT doc_id, atoks FROM at WHERE $containsAny),
       |cd AS (SELECT doc_id, CAST(len(atoks) AS BIGINT) AS adl FROM cand),
       |c0 AS (SELECT doc_id, unnest(atoks) AS token FROM cand),
       |cp AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM c0
       |       WHERE token IN ($termList) GROUP BY token, doc_id),
       |dfm AS (
       |  $dfArms),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM av) + 1) / CAST(df + 1 AS DOUBLE)) * 1000) AS BIGINT) AS idf_milli
       |  FROM dfm),
       |sc AS (
       |  SELECT cp.doc_id, count(*) AS n_matched,
       |    CAST(sum((44 * m.idf_milli * cp.tf * (SELECT avgdl FROM av))
       |         // (20 * (SELECT avgdl FROM av) * cp.tf + 6 * (SELECT avgdl FROM av) + 18 * d.adl)) AS BIGINT) AS score_milli
       |  FROM cp JOIN model m ON m.token = cp.token
       |  JOIN cd d ON d.doc_id = cp.doc_id
       |  GROUP BY cp.doc_id),
       |abmranked AS (
       |  SELECT doc_id, score_milli,
       |    CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM sc)""".stripMargin
  }

  /** Batched analyzed search-with-modes oracle: the damaged-corpus
    * analyzed token stream, the batch's terms pre-analyzed (the same
    * deterministic [[analyzeTerm]] the plan applies, so variants of
    * one analyzed term collapse in the VALUES relation too), df over
    * the term-restricted postings, the tf·idf_micro scoring of the raw
    * batch route, per-query AND/OR gate.
    */
  private lazy val oracleBatchAnalyzed: String = {
    val aPairs = fixtureAnalyzedBatch
      .map { case (q, t) => (q, analyzeTerm(t)) }
      .filter(_._2.nonEmpty)
      .distinct
    val valuesRows = aPairs.map { case (q, t) => s"($q, ${sqlLit(t)})" }.mkString(", ")
    val modeRows = fixtureAnalyzedModes.map { case (q, m) => s"($q, ${sqlLit(m)})" }.mkString(", ")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |at AS (
       |  SELECT doc_id,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS atoks
       |  FROM dd),
       |qs AS (
       |  SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS term
       |  FROM (VALUES $valuesRows) v(q, t)),
       |qm AS (
       |  SELECT CAST(v.q AS BIGINT) AS query_id, v.m AS mode
       |  FROM (VALUES $modeRows) v(q, m)),
       |p0 AS (SELECT doc_id, unnest(atoks) AS token FROM at),
       |p AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM p0
       |      WHERE token IN (SELECT term FROM qs) GROUP BY token, doc_id),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dd),
       |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM dfm),
       |qn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms FROM qs GROUP BY query_id),
       |sc AS (
       |  SELECT q.query_id, p.doc_id, count(*) AS n_matched,
       |    CAST(sum(p.tf * m.idf_micro) AS BIGINT) AS score_micro
       |  FROM p JOIN qs q ON q.term = p.token JOIN model m ON m.token = p.token
       |  GROUP BY q.query_id, p.doc_id),
       |f AS (
       |  SELECT s.query_id, s.doc_id, s.score_micro,
       |    CAST(row_number() OVER (PARTITION BY s.query_id
       |                            ORDER BY s.score_micro DESC, s.doc_id ASC) AS BIGINT) AS rank
       |  FROM sc s
       |  JOIN qn ON qn.query_id = s.query_id
       |  JOIN qm ON qm.query_id = s.query_id
       |    AND ((qm.mode = 'OR' AND s.n_matched >= 1)
       |         OR (qm.mode <> 'OR' AND s.n_matched = qn.n_terms)))
       |SELECT query_id, rank, doc_id, score_micro
       |FROM f WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Hybrid page with the ANALYZED lexical leg: the damaged-corpus
    * analyzed chain and the brute-force cosine leg both recomputed,
    * fused with the exact integer RRF arithmetic.
    */
  private lazy val oracleRrfAnalyzed: String =
    s"""$oracleAnalyzedBm25Body,
       |lx AS (SELECT doc_id AS id, rank AS lex_rank FROM abmranked WHERE rank <= $topK),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qe AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
       |cs AS (
       |  SELECT vec_id,
       |    round(list_dot_product(v, qv) /
       |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
       |  FROM ev, qe),
       |vr AS (
       |  SELECT vec_id AS id, vec_rank FROM (
       |    SELECT vec_id,
       |      CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS vec_rank
       |    FROM cs) WHERE vec_rank <= $topK),
       |fu AS (
       |  SELECT COALESCE(lx.id, vr.id) AS id, lx.lex_rank, vr.vec_rank
       |  FROM lx FULL OUTER JOIN vr ON vr.id = lx.id)
       |SELECT id,
       |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       |  CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
       |  CAST(COALESCE(1000000 // (60 + lex_rank), 0)
       |     + COALESCE(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_micro
       |FROM fu ORDER BY rrf_micro DESC, id""".stripMargin

  /** Analyzed keyset pagination: one global analyzed ranking,
    * renumbered to the second page.
    */
  private lazy val oracleAnalyzedPageAfter: String =
    s"""$oracleAnalyzedBm25Body
       |SELECT CAST(row_number() OVER (ORDER BY rank) AS BIGINT) AS rank, doc_id, score_milli
       |FROM abmranked WHERE rank > $topK AND rank <= ${2 * topK} ORDER BY rank""".stripMargin

  /** Analyzed facet sidebar: the all-analyzed-terms match set on the
    * DAMAGED corpus joined to the corpus lang column — the analyzer
    * must recover the damaged docs into the counts.
    */
  private lazy val oracleAnalyzedFacets: String = {
    val gates = fixtureAndTerms
      .map(analyzeTerm)
      .map(t => s"list_contains(atoks, ${sqlLit(t)})")
      .mkString(" AND ")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |at AS (
       |  SELECT doc_id,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS atoks
       |  FROM dd),
       |m AS (SELECT doc_id FROM at WHERE $gates)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_hits
       |FROM m JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY n_hits DESC, d.lang""".stripMargin
  }

  /** Batched analyzed BM25 oracle: the damaged-corpus analyzed chain,
    * the batch's terms pre-analyzed (the same deterministic
    * [[analyzeTerm]] the plan applies), df over the term-union
    * postings, the rational BM25 arithmetic with the analyzed length.
    */
  private lazy val oracleBatchAnalyzedBm25: String = {
    val aPairs = fixtureAnalyzedBatch
      .map { case (q, t) => (q, analyzeTerm(t)) }
      .filter(_._2.nonEmpty)
      .distinct
    val valuesRows = aPairs.map { case (q, t) => s"($q, ${sqlLit(t)})" }.mkString(", ")
    val termList = aPairs.map(_._2).distinct.map(sqlLit).mkString(", ")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
       |         WHEN doc_id % 11 = 0 THEN
       |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |at AS (
       |  SELECT doc_id, text,
       |    list_filter(
       |      list_transform(string_split(text, ' '),
       |                     t -> regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |      t -> t <> '') AS atoks
       |  FROM dd),
       |st AS (
       |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(sum(len(atoks)) AS BIGINT) AS total_atoks
       |  FROM at),
       |av AS (SELECT n_docs, total_atoks // n_docs AS avgdl FROM st),
       |qs AS (
       |  SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS term
       |  FROM (VALUES $valuesRows) v(q, t)),
       |cd AS (SELECT doc_id, CAST(len(atoks) AS BIGINT) AS adl FROM at),
       |c0 AS (SELECT doc_id, unnest(atoks) AS token FROM at),
       |p AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM c0
       |      WHERE token IN ($termList) GROUP BY token, doc_id),
       |dfm AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token),
       |model AS (
       |  SELECT token,
       |    CAST(floor(ln(((SELECT n_docs FROM av) + 1) / CAST(df + 1 AS DOUBLE)) * 1000) AS BIGINT) AS idf_milli
       |  FROM dfm),
       |sc AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(sum((44 * m.idf_milli * p.tf * (SELECT avgdl FROM av))
       |         // (20 * (SELECT avgdl FROM av) * p.tf + 6 * (SELECT avgdl FROM av) + 18 * d.adl)) AS BIGINT) AS score_milli
       |  FROM p JOIN qs q ON q.term = p.token
       |  JOIN model m ON m.token = p.token
       |  JOIN cd d ON d.doc_id = p.doc_id
       |  GROUP BY q.query_id, p.doc_id),
       |f AS (
       |  SELECT query_id, doc_id, score_milli,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT query_id, rank, doc_id, score_milli
       |FROM f WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private lazy val oracleAnalyzed: String =
    s"""WITH ${oracleAnalyzedChainFor(fixtureAndTerms.map(analyzeTerm), requireAll = true)}
       |SELECT rank, doc_id, score_micro FROM aranked WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** The analyzed term-search CTE chain up to `aranked` over the
    * DAMAGED corpus — reusable inside composite oracles (the analyzed
    * KWIC page re-derives its page from it). Takes the ANALYZED terms.
    */
  private def oracleAnalyzedChainFor(terms: Seq[String], requireAll: Boolean): String = {
      val termList = terms.map(sqlLit).mkString(", ")
      val containsAll =
        terms.map(t => s"contains(lower(text), ${sqlLit(t)})").mkString(if (requireAll) " AND " else " OR ")
      val matchGate = if (requireAll) s"count(*) = ${terms.size}" else "count(*) >= 1"
      val dfArms = terms
        .map(t =>
          s"""SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
             |    SELECT token, doc_id FROM (
             |      SELECT doc_id,
             |        regexp_replace(lower(raw), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g') AS token
             |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS raw
             |            FROM dd WHERE contains(lower(text), ${sqlLit(t)})) y) x
             |    WHERE token = ${sqlLit(t)} GROUP BY token, doc_id) GROUP BY token""".stripMargin
        )
        .mkString("\n  UNION ALL\n  ")
      s"""dd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
         |         WHEN doc_id % 11 = 0 THEN
         |           array_to_string(list_transform(string_split(text, ' '), t -> '[' || t || ']'), ' ')
         |         ELSE text END AS text
         |  FROM documents),
         |cand AS (SELECT doc_id, text FROM dd WHERE $containsAll),
         |c00 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS raw FROM cand),
         |c0 AS (
         |  SELECT doc_id, regexp_replace(lower(raw), '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g') AS token
         |  FROM c00),
         |cp AS (SELECT token, doc_id, count(*) AS tf FROM c0
         |       WHERE token IN ($termList) GROUP BY token, doc_id),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dd),
         |dfm AS (
         |  $dfArms),
         |model AS (
         |  SELECT token,
         |    CAST(floor(ln(((SELECT n_docs FROM nd) + 1) / CAST(df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
         |  FROM dfm),
         |scored AS (
         |  SELECT cp.doc_id, count(*) AS n_matched,
         |    CAST(sum(cp.tf * m.idf_micro) AS BIGINT) AS score_micro
         |  FROM cp JOIN model m ON m.token = cp.token
         |  GROUP BY cp.doc_id HAVING $matchGate),
         |aranked AS (
         |  SELECT doc_id, score_micro,
         |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM scored)""".stripMargin
  }
}
