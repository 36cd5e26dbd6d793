package graft.ops

import graft.SparkSpec
import graft.ops.Search.Analyzer.{Folded, Raw}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The analyzer collapse as a property: on a corpus carrying case and
  * punctuation damage, every route served under [[Search.Analyzer.Folded]]
  * must answer exactly like the same route under [[Search.Analyzer.Raw]]
  * over the corpus folded up front (each token lowercased, its
  * non-alphanumeric edges stripped, empty results dropped) with folded
  * query terms. A wrong relation name, length column or avgdl source on
  * either side breaks the equality.
  */
class SearchAnalyzerParitySpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala reference fold of one token. */
  private def fold(t: String): String = {
    val l = t.toLowerCase
    def keep(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
    l.dropWhile(!keep(_)).reverse.dropWhile(!keep(_)).reverse
  }

  private val words = Vector("cat", "dog", "hash", "join", "big", "spark")

  private def damage(w: String): Gen[String] = for {
    cased <- Gen.oneOf(w, w.toUpperCase, w.capitalize)
    (l, r) <- Gen.oneOf(("", ""), ("", ""), ("[", "]"), ("", "."), ("", "!"), ("(", "),"))
  } yield l + cased + r
  private val damaged: Gen[String] = Gen.oneOf(words).flatMap(damage)

  // pure-punctuation tokens fold to empty and must drop; every doc
  // keeps at least one real word so no document folds to nothing
  private val token: Gen[String] = Gen.frequency(8 -> damaged, 1 -> Gen.oneOf("...", "--", "!?"))
  // half the docs plant the query's leading pair in order, sometimes
  // split by a pure-punct token — adjacent once folded — so the
  // positional routes have matches to compare
  private def doc(a: String, b: String): Gen[(String, String)] = for {
    n <- Gen.choose(2, 8)
    first <- damaged
    rest <- Gen.listOfN(n, token)
    planted <- Gen.oneOf(
      Gen.const(List.empty[String]),
      for { x <- damage(a); sep <- Gen.oneOf(Nil, List("--")); y <- damage(b) } yield x :: sep ::: List(y)
    )
    lang <- Gen.oneOf("en", "de")
  } yield ((first :: rest ::: planted).mkString(" "), lang)

  private case class Trial(docs: Seq[(Long, String, String)], terms: Seq[String])

  private val trial: Gen[Trial] = for {
    picked <- Gen.pick(3, words)
    n <- Gen.choose(10, 14)
    ds <- Gen.listOfN(n, doc(picked(0), picked(1)))
    terms <- Gen.sequence[List[String], String](picked.map(damage))
  } yield Trial(ds.zipWithIndex.map { case ((t, l), i) => (i.toLong + 1, t, l) }, terms)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** (doc_id → occurrence count) — KWIC renders RAW positions and
    * snippets by design, so parity holds on which docs hit how often.
    */
  private def hitsPerDoc(df: DataFrame): Map[Long, Long] =
    df.groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Request-sized probes are driver-bound: overlap them on a small
    * pool so the property stays inside a minute.
    */
  private def inParallel[A](work: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(work.map(w => Future(w()))), 10.minutes)
    finally pool.shutdown()
  }

  private def check(t: Trial): Prop = {
    val tmp = tempDir("graft_parity").toString
    val dmg = t.docs.toDF("doc_id", "text", "lang")
    val fld = t.docs
      .map { case (id, text, lang) => (id, text.split(" ").map(fold).filter(_.nonEmpty).mkString(" "), lang) }
      .toDF("doc_id", "text", "lang")
    val (dIdx, fIdx, dStore, fStore) = (s"$tmp/didx", s"$tmp/fidx", s"$tmp/dstore", s"$tmp/fstore")
    inParallel(Seq(
      () => Search.saveSearchIndex(dmg, "doc_id", "text", dIdx, analyzed = true),
      () => Search.saveSearchIndex(fld, "doc_id", "text", fIdx),
      () => Search.saveDocStore(dmg, "doc_id", "text", dStore, metaCols = Seq("lang")),
      () => Search.saveDocStore(fld, "doc_id", "text", fStore, metaCols = Seq("lang"))
    ))
    val raw = t.terms
    val ft = raw.map(fold)
    val batch = Seq(1L -> raw(0), 1L -> raw(1), 2L -> raw(2), 2L -> raw(0)).toDF("query_id", "term")
    val fBatch = Seq(1L -> ft(0), 1L -> ft(1), 2L -> ft(2), 2L -> ft(0)).toDF("query_id", "term")
    val modes = Seq(1L -> "AND", 2L -> "OR").toDF("query_id", "mode")

    // (route, folded answer over the damaged corpus, raw answer over the folded one)
    def same(name: String)(f: (DataFrame, String, String, Seq[String], Search.Analyzer) => DataFrame) =
      () => {
        val a = rows(f(dmg, dIdx, dStore, raw, Folded))
        val b = rows(f(fld, fIdx, fStore, ft, Raw))
        (a == b) :| s"$name: folded $a vs raw-over-folded $b"
      }
    // page-2 cursor: the raw page-1 tail (a cursor past everything when empty)
    val cursor = Search.bm25FromIndex(spark, fIdx, ft, 2).orderBy(desc("rank")).take(1).headOption
      .fold((Long.MaxValue, -1L))(r => (r.getAs[Long]("score_milli"), r.getAs[Long]("doc_id")))
    val qs = (ts: Seq[String]) => s"+${ts(0)} ${ts(1)}^2 -${ts(2)}"
    val kwicHits = (idx: String, ts: Seq[String], a: Search.Analyzer) =>
      Search.conjunctiveFromIndex(spark, idx, ts.take(1), 3, a).select("rank", "doc_id")
    val props = Seq(
      same("conjunctiveSearch")((d, _, _, ts, a) =>
        Search.conjunctiveSearch(d, "doc_id", "text", ts.take(2), 10, a)),
      same("disjunctiveSearch")((d, _, _, ts, a) => Search.disjunctiveSearch(d, "doc_id", "text", ts, 10, a)),
      same("minShouldMatchSearch")((d, _, _, ts, a) =>
        Search.minShouldMatchSearch(d, "doc_id", "text", ts, 2, 10, a)),
      same("bm25Search")((d, _, _, ts, a) => Search.bm25Search(d, "doc_id", "text", ts, 10, a)),
      same("phraseSearch")((d, _, _, ts, a) => Search.phraseSearch(d, "doc_id", "text", ts.take(2), a)),
      same("conjunctiveFromIndex")((_, i, _, ts, a) => Search.conjunctiveFromIndex(spark, i, ts.take(2), 10, a)),
      same("disjunctiveFromIndex")((_, i, _, ts, a) => Search.disjunctiveFromIndex(spark, i, ts, 10, a)),
      same("minShouldMatchFromIndex")((_, i, _, ts, a) => Search.minShouldMatchFromIndex(spark, i, ts, 2, 10, a)),
      same("bm25FromIndex")((_, i, _, ts, a) => Search.bm25FromIndex(spark, i, ts, 10, a)),
      same("bm25PageAfter")((_, i, _, ts, a) => Search.bm25PageAfter(spark, i, ts, 2, cursor._1, cursor._2, a)),
      same("bm25BatchFromIndex")((_, i, _, _, a) =>
        Search.bm25BatchFromIndex(spark, i, if (a == Raw) fBatch else batch, 3, a)),
      same("batchedSearchFromIndex")((_, i, _, _, a) =>
        Search.batchedSearchFromIndex(spark, i, if (a == Raw) fBatch else batch, 3, Some(modes), a)),
      same("phraseFromIndex")((_, i, _, ts, a) => Search.phraseFromIndex(spark, i, ts.take(2), a)),
      same("orderedSlopFromIndex")((_, i, _, ts, a) => Search.orderedSlopFromIndex(spark, i, ts(0), ts(1), 3, a)),
      same("facetCounts")((_, i, st, ts, a) => Search.facetCounts(spark, i, st, ts.take(1), "lang", a)),
      same("rangeFacetCounts")((_, i, _, ts, a) => Search.rangeFacetCounts(spark, i, ts.take(1), 3L, a)),
      same("groupedTopKFromIndex")((_, i, st, ts, a) =>
        Search.groupedTopKFromIndex(spark, i, st, ts, "lang", 2, 5, a)),
      same("bestPassages")((_, i, st, ts, a) => Search.bestPassages(spark, i, st, ts.take(2), 3, 5, a)),
      same("searchQueryString")((_, i, _, ts, a) => Search.searchQueryString(spark, i, qs(ts), 10, a = a)),
      same("autocomplete")((_, i, _, ts, a) => Search.autocomplete(spark, i, ts(0), 5, a)),
      same("fuzzySearchFromIndex")((_, i, _, ts, a) => Search.fuzzySearchFromIndex(spark, i, ts(0), 1, 4, 10, a)),
      () => {
        val a = hitsPerDoc(Search.kwicSnippets(dmg, "doc_id", "text", raw(0), 2, Folded))
        val b = hitsPerDoc(Search.kwicSnippets(fld, "doc_id", "text", ft(0), 2, Raw))
        (a == b) :| s"kwicSnippets: folded $a vs raw-over-folded $b"
      },
      () => {
        val a = hitsPerDoc(Search.kwicPage(spark, dIdx, dStore, kwicHits(dIdx, raw, Folded), raw(0), 2, Folded))
        val b = hitsPerDoc(Search.kwicPage(spark, fIdx, fStore, kwicHits(fIdx, ft, Raw), ft(0), 2, Raw))
        (a == b) :| s"kwicPage: folded $a vs raw-over-folded $b"
      }
    )
    Prop.all(inParallel(props): _*) :| s"docs=${t.docs} terms=${t.terms}"
  }

  test("every collapsed route: Folded over damaged docs equals Raw over the folded docs") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(2)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val res = Test.check(params, Prop.forAllNoShrink(trial)(check))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res, org.scalacheck.util.Pretty.Params(2)))
  }
}
