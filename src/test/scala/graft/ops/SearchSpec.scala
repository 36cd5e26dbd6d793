package graft.ops

import graft.{SparkEntry, SparkSpec}
import graft.ops.Search.Analyzer.Folded
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  test("invertedPostings: hand-computed df/tf/head; fingerprint is partitioning-invariant") {
    val docs = Seq(
      (3L, "x y x"),
      (1L, "x z"),
      (2L, "y")
    ).toDF("doc_id", "text")
    val got = Search
      .invertedPostings(docs, "doc_id", "text")
      .collect()
      .map(r =>
        r.getAs[String]("token") ->
          ((r.getAs[Long]("df"), r.getAs[Long]("tf_total"), r.getAs[String]("postings_head")))
      )
      .toMap
    assert(got("x") == ((2L, 3L, "1,3")), got.toString)
    assert(got("y") == ((2L, 2L, "2,3")))
    assert(got("z") == ((1L, 1L, "1")))
    // same corpus, different physical layout → identical fingerprints
    // (bit_xor is order- and partitioning-insensitive)
    val fpA = Search.invertedPostings(docs.repartition(7), "doc_id", "text")
      .select("token", "postings_fp").as[(String, Long)].collect().toMap
    val fpB = Search.invertedPostings(docs.coalesce(1), "doc_id", "text")
      .select("token", "postings_fp").as[(String, Long)].collect().toMap
    assert(fpA == fpB)
    // and a changed posting set flips the token's fingerprint
    val fpC = Search
      .invertedPostings(docs.union(Seq((9L, "z")).toDF("doc_id", "text")), "doc_id", "text")
      .select("token", "postings_fp").as[(String, Long)].collect().toMap
    assert(fpC("z") != fpA("z") && fpC("x") == fpA("x"))
  }

  test("posting head stays K-bounded on a high-df synthetic corpus") {
    val docs = (1L to 400L).map(i => (i, s"common tail$i")).toDF("doc_id", "text")
    val row = Search
      .invertedPostings(docs, "doc_id", "text")
      .filter(col("token") === "common")
      .collect()
      .head
    assert(row.getAs[Long]("df") == 400L)
    assert(row.getAs[String]("postings_head") == (1L to 16L).mkString(","))
    // the head build must group-limit, not materialize 400-element lists
    val plan = Search
      .invertedPostings(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
  }

  test("conjunctiveSearch: AND semantics, substring false positives re-checked exactly") {
    val docs = Seq(
      (1L, "cat dog bird"), // both terms
      (2L, "cat cat dog"),  // both, higher tf
      (3L, "cat only here"),          // one term
      (4L, "catalog dogma"),          // substrings only — coarse prune passes, exact match must reject
      (5L, "dog bird")                // one term
    ).toDF("doc_id", "text")
    val got = Search
      .conjunctiveSearch(Search.Corpus(docs), Seq("cat", "dog"), 10)
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
    assert(got.map(_._2).toSet == Set(1L, 2L), got.mkString(","))
    assert(got.head._2 == 2L, "higher combined tf-idf must rank first")
  }

  test("disjunctiveSearch: OR admits single-term docs; multi-term docs accumulate score") {
    val docs = Seq(
      (1L, "cat dog"),      // both
      (2L, "cat only"),     // one
      (3L, "dog only"),     // one
      (4L, "bird")          // neither
    ).toDF("doc_id", "text")
    val got = Search
      .disjunctiveSearch(Search.Corpus(docs), Seq("cat", "dog"), 10)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("rank"), r.getAs[Long]("score_micro"))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), got.toString)
    assert(got(1L)._1 == 1L, "the both-terms doc must rank first")
    assert(got(1L)._2 > got(2L)._2 && got(1L)._2 > got(3L)._2)
  }

  test("minShouldMatchSearch: ≥m gate between AND and OR; ends collapse to the named routes; index route equal") {
    val docs = Seq(
      (1L, "cat dog bird"), // 3 of 3
      (2L, "cat dog"),      // 2 of 3
      (3L, "cat only"),     // 1 of 3
      (4L, "dog bird"),     // 2 of 3
      (5L, "fish")          // 0 of 3
    ).toDF("doc_id", "text")
    val terms = Seq("cat", "dog", "bird")
    def ids(m: Int) = Search
      .minShouldMatchSearch(Search.Corpus(docs), terms, m, 10)
      .collect()
      .map(_.getAs[Long]("doc_id"))
      .toSet
    assert(ids(2) == Set(1L, 2L, 4L), "m=2 admits exactly the ≥2-term docs")
    // m = 1 IS disjunctive, m = |terms| IS conjunctive — rows included
    val dis = Search.disjunctiveSearch(Search.Corpus(docs), terms, 10).collect().toSeq
    val m1 = Search.minShouldMatchSearch(Search.Corpus(docs), terms, 1, 10).collect().toSeq
    assert(m1 == dis)
    val con = Search.conjunctiveSearch(Search.Corpus(docs), terms, 10).collect().toSeq
    val m3 = Search.minShouldMatchSearch(Search.Corpus(docs), terms, 3, 10).collect().toSeq
    assert(m3 == con)
    // index-served twin equals the corpus route on the fixture corpus
    val d = "/root/testdata/sf0.001"
    val corpus = SparkEntry.queries("search_min_match")(spark, d).collect().toSeq
    val index = SparkEntry.queries("search_min_match_index")(spark, d).collect().toSeq
    assert(corpus.nonEmpty && corpus == index)
    // out-of-range gates fail loudly
    intercept[IllegalArgumentException] {
      Search.minShouldMatchSearch(Search.Corpus(docs), terms, 4, 10).collect()
    }
  }

  test("vocab lifecycle: append increments fold exactly, replayed batch idempotent, delete stales UP, compaction heals") {
    val docs = Seq(
      (1L, "alpha beta beta"),
      (2L, "alpha gamma"),
      (3L, "beta delta"),
      (4L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    def vocabOf(dir: String): Map[String, (Long, Long)] = {
      // the folded dictionary as the autocomplete route reads it —
      // a prefix broad enough to cover every fixture token
      Seq("a", "b", "g", "d").flatMap { p =>
        Search.autocomplete(spark, dir, p, 100).collect()
      }.map(r => r.getAs[String]("token") -> ((r.getAs[Long]("df"), 0L))).toMap
    }
    val full = tempDir("graft_vocab_full").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", full)
    val appended = tempDir("graft_vocab_app").toString + "/idx"
    Search.saveSearchIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text", appended)
    Search.appendToSearchIndex(docs.filter(col("doc_id") > 2), "doc_id", "text", appended)
    // base ⊕ increment fold equals the one-shot dictionary
    assert(vocabOf(appended) == vocabOf(full))
    assert(vocabOf(full)("beta")._1 == 3L && vocabOf(full)("alpha")._1 == 3L)
    // a REPLAYED batch apply overwrites its own increment (no double count)
    val streamed = tempDir("graft_vocab_str").toString + "/idx"
    Search.saveSearchIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text", streamed)
    Search.applySearchIndexBatch(docs.filter(col("doc_id") > 2), "doc_id", "text", streamed, 0L)
    val once = vocabOf(streamed)
    Search.applySearchIndexBatch(docs.filter(col("doc_id") > 2), "doc_id", "text", streamed, 0L)
    assert(vocabOf(streamed) == once && once == vocabOf(full))
    // tombstoned delete leaves the vocab an UPPER BOUND (Lucene's
    // deleted-docs window) — candidates only; compaction heals exact
    Search.deleteFromSearchIndex(spark, full, Seq(3L))
    assert(vocabOf(full)("delta")._1 == 1L, "dead doc still counted before compaction")
    Search.compactSearchIndex(spark, full)
    val healed = vocabOf(full)
    assert(!healed.contains("delta"), "fully-deleted term drops out at compaction")
    assert(healed("beta")._1 == 2L, "df healed to live count")
  }

  test("autocomplete/didYouMean/fuzzy: ordering, caps, empty expansion; prefix pushes to the vocab scan") {
    val docs = Seq(
      (1L, "car card card cart dog"),
      (2L, "car card care"),
      (3L, "car dog dig dug")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_vocab_ac").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    // df-desc, token-asc: car(3) card(2) then care/cart(1 each, alpha)
    val ac = Search.autocomplete(spark, dir, "car", 3).collect()
    assert(ac.map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"), r.getAs[Long]("df"))).toSeq ==
      Seq((1L, "car", 3L), (2L, "card", 2L), (3L, "care", 1L)))
    // the prefix filter reaches the vocab parquet scan as a pushed filter
    val plan = Search.autocomplete(spark, dir, "car", 3).queryExecution.executedPlan.toString
    assert(plan.contains("StartsWith"), plan.take(2000))
    // did-you-mean: dist primary, df breaks ties, term itself at dist 0
    val dym = Search.didYouMean(spark, dir, "dob", 2, 10).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("dist"))).toSeq
    assert(dym.head == ("dog", 1L), dym.toString)
    assert(dym.contains(("dig", 2L)) && dym.contains(("dug", 2L)))
    // fuzzy search: expansion scores standard disjunctive over pruned buckets
    val hits = Search.fuzzySearchFromIndex(spark, dir, "dob", 1, 8, 10).collect()
    assert(hits.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L), "docs holding 'dog'")
    // no dictionary term within reach → the empty page, not an error
    assert(Search.fuzzySearchFromIndex(spark, dir, "zzzzzz", 1, 8, 10).collect().isEmpty)
    assert(Search.prefixSearch(Search.Index(spark, dir), "zz", 4, 10).collect().isEmpty)
    // prefix cap binds: maxExpand=1 keeps only the highest-df term
    val capped = Search.prefixSearch(Search.Index(spark, dir), "d", 1, 10).collect()
    assert(capped.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L), "only 'dog' expands")
  }

  test("analyzed dictionary: damaged raw inputs fold, avocab rides append+compact, raw/analyzed dictionaries separate") {
    val docs = Seq(
      (1L, "Card CARD card!"),  // analyzer folds all three to 'card'
      (2L, "[card] care"),
      (3L, "dog")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_avocab").toString + "/idx"
    Search.saveSearchIndex(docs.filter(col("doc_id") === 1L), "doc_id", "text", dir, analyzed = true)
    Search.appendToSearchIndex(docs.filter(col("doc_id") =!= 1L), "doc_id", "text", dir, analyzed = true)
    // analyzed autocomplete on a DAMAGED prefix: base ⊕ increment fold
    val ac = Search.autocomplete(spark, dir, "CAR", 10, Folded).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("df"))).toSeq
    assert(ac == Seq(("card", 2L), ("care", 1L)), ac.toString)
    // the RAW dictionary keeps the damaged forms distinct
    val raw = Search.autocomplete(spark, dir, "Car", 10).collect().map(_.getAs[String]("token")).toSeq
    assert(raw == Seq("Card"), raw.toString)
    // compaction folds the increment and the probes don't move
    Search.compactSearchIndex(spark, dir)
    val ac2 = Search.autocomplete(spark, dir, "CAR", 10, Folded).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("df"))).toSeq
    assert(ac2 == ac)
    // analyzed fuzzy: damaged term "DOB!" reaches 'dog' at dist 1
    val hits = Search.fuzzySearchFromIndex(spark, dir, "DOB!", 1, 8, 10, Folded).collect()
    assert(hits.map(_.getAs[Long]("doc_id")).toSet == Set(3L))
  }

  test("mergeSearchIndexes: parts consumed, merged ≡ one-shot, guards fail loudly, post-merge lifecycle works") {
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "cat fish"),
      (3L, "dog dog bird"),
      (4L, "cat bird")
    ).toDF("doc_id", "text")
    def freshShards(): (String, Seq[String]) = {
      val tmp = tempDir("graft_merge").toString
      val parts = (0 until 2).map { i =>
        val p = s"$tmp/shard$i"
        Search.saveSearchIndex(docs.filter(col("doc_id") % 2 === i), "doc_id", "text", p)
        p
      }
      (tmp, parts)
    }
    val (tmp, parts) = freshShards()
    val dest = s"$tmp/merged"
    Search.mergeSearchIndexes(spark, parts, dest)
    // parts are consumed (Lucene segments after a merge)
    assert(!new java.io.File(parts.head).exists() && !new java.io.File(parts(1)).exists())
    // every probe equals the one-shot index: scoring, stats, dictionary
    val oneShot = s"$tmp/oneshot"
    Search.saveSearchIndex(docs, "doc_id", "text", oneShot)
    def page(dir: String) = Search.bm25FromIndex(spark, dir, Seq("cat", "dog"), 10).collect().toSeq
    assert(page(dest) == page(oneShot) && page(dest).nonEmpty)
    def dict(dir: String) = Search.autocomplete(spark, dir, "b", 10).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("df"))).toSeq
    assert(dict(dest) == dict(oneShot) && dict(dest) == Seq(("bird", 2L)))
    // the merged dir is a live index: append then probe reflects it
    Search.appendToSearchIndex(Seq((9L, "bird bird")).toDF("doc_id", "text"), "doc_id", "text", dest)
    assert(dict(dest) == Seq(("bird", 3L)))
    // guards: < 2 parts, existing dest, tombstoned part, mixed analyzed
    intercept[IllegalArgumentException] {
      Search.mergeSearchIndexes(spark, Seq(dest), s"$tmp/x1")
    }
    val (tmp2, parts2) = freshShards()
    intercept[IllegalArgumentException] {
      Search.mergeSearchIndexes(spark, parts2, dest) // dest exists
    }
    Search.deleteFromSearchIndex(spark, parts2.head, Seq(2L))
    intercept[IllegalArgumentException] {
      Search.mergeSearchIndexes(spark, parts2, s"$tmp2/x2") // tombstones live
    }
    val (tmp3, parts3) = freshShards()
    val an = s"$tmp3/an"
    Search.saveSearchIndex(docs, "doc_id", "text", an, analyzed = true)
    intercept[IllegalArgumentException] {
      Search.mergeSearchIndexes(spark, Seq(parts3.head, an), s"$tmp3/x3") // mixed analyzed
    }
  }

  test("mergeDocStores: merged store serves every shard's docs, parts consumed, tombstoned part refused") {
    val docs = Seq((1L, "alpha one"), (2L, "beta two"), (3L, "gamma three"), (4L, "delta four"))
      .toDF("doc_id", "text")
    val tmp = tempDir("graft_smerge").toString
    val parts = (0 until 2).map { i =>
      val p = s"$tmp/s$i"
      Search.saveDocStore(docs.filter(col("doc_id") % 2 === i), "doc_id", "text", p)
      p
    }
    Search.mergeDocStores(spark, parts, s"$tmp/merged")
    assert(!new java.io.File(parts.head).exists())
    val got = spark.read.parquet(s"$tmp/merged/docs")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "alpha one", 2L -> "beta two", 3L -> "gamma three", 4L -> "delta four"))
    // a tombstoned shard is refused
    val p2 = s"$tmp/t0"; val p3 = s"$tmp/t1"
    Search.saveDocStore(docs, "doc_id", "text", p2)
    Search.saveDocStore(docs, "doc_id", "text", p3)
    Search.deleteFromDocStore(spark, p2, Seq((1L, 0)).toDF("doc_id", "x").select("doc_id"))
    intercept[IllegalArgumentException] {
      Search.mergeDocStores(spark, Seq(p2, p3), s"$tmp/x")
    }
  }

  test("moreLikeThisFromIndex: rare terms drive selection, source excluded, store read bucket-pruned") {
    val docs = Seq(
      (1L, "zebra quark common common"), // source: two rare terms + a stopword
      (2L, "zebra quark common"),        // shares both rare terms — must rank first
      (3L, "zebra filler filler common"),// shares one
      (4L, "common common common"),      // stopword only — idf 0, never selected
      (5L, "nothing here common")
    ).toDF("doc_id", "text")
    val tmp = tempDir("graft_mlt").toString
    val (idx, store) = (s"$tmp/idx", s"$tmp/store")
    Search.saveSearchIndex(docs, "doc_id", "text", idx)
    Search.saveDocStore(docs, "doc_id", "text", store)
    // maxQueryTerms = 2 keeps only the highest tf·idf terms: zebra and
    // quark (idf beats the common term's tf advantage at 5 docs)
    val got = Search.moreLikeThisFromIndex(spark, idx, store, 1L, 2, 10).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
    assert(!got.map(_._2).contains(1L), "source doc excluded")
    assert(got.head == ((1L, 2L)), s"both-rare-terms doc first: ${got.mkString(",")}")
    assert(got.map(_._2).toSet == Set(2L, 3L), "only rare-term sharers qualify")
    // an absent source doc fails loudly at request time (the term
    // selection is eager), never an empty page masquerading as one
    val e = intercept[IllegalArgumentException] {
      Search.moreLikeThisFromIndex(spark, idx, store, 999L, 2, 10)
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
  }

  test("retrievalEval: hand-computed recall/precision/MRR/nDCG; rel=0 never counts; no-rel queries dropped") {
    val runs = Seq((1L, 101L, 1L), (1L, 102L, 2L), (1L, 103L, 3L), (1L, 110L, 4L)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 101L, 3L), (1L, 102L, 0L), (1L, 103L, 1L), (1L, 110L, 2L), (9L, 5L, 0L))
      .toDF("query_id", "doc_id", "rel")
    val r = Search.retrievalEval(runs, qrels, 3).collect()
    assert(r.length == 1, "only-rel-0 query 9 dropped")
    val row = r.head
    assert(row.getAs[Long]("n_rel") == 3L)       // 101, 103, 110 (110 at rank 4 > k missed)
    assert(row.getAs[Long]("n_rel_at_k") == 2L)
    assert(row.getAs[Long]("recall_micro") == 2000000L / 3L)
    assert(row.getAs[Long]("precision_micro") == 2000000L / 3L)
    assert(row.getAs[Long]("mrr_micro") == 1000000L)
    // DCG = floor(7e6/log2(2)) + floor(1e6/log2(4)) = 7_000_000 + 500_000
    // IDCG (rels 3,2,1 at i=1,2,3) = 7_000_000 + floor(3e6/log2(3)) + 500_000
    val idcg = 7000000L + math.floor(3000000.0 / (math.log(3.0) / math.log(2.0))).toLong + 500000L
    assert(row.getAs[Long]("ndcg_micro") == 7500000L * 1000000L / idcg)
    // a judged query with zero hits reports zeros, not absence
    val r3 = Search.retrievalEval(
      Seq((7L, 1L, 1L)).toDF("query_id", "doc_id", "rank"),
      Seq((7L, 2L, 2L)).toDF("query_id", "doc_id", "rel"),
      3
    ).collect().head
    assert(r3.getAs[Long]("recall_micro") == 0L && r3.getAs[Long]("mrr_micro") == 0L &&
      r3.getAs[Long]("ndcg_micro") == 0L)
  }

  test("synonymSearch: a group scores as one term (tf summed, df = any-member docs), gate counts groups") {
    val docs = Seq(
      (1L, "fast big"),       // member 'fast' + group 2
      (2L, "quick big"),      // member 'quick' + group 2
      (3L, "fast quick big"), // both members: tf must SUM, not double-count the gate
      (4L, "fast only"),      // group 1 only — conjunctive drops it
      (5L, "big only")        // group 2 only
    ).toDF("doc_id", "text")
    val groups = Seq(Seq("fast", "quick"), Seq("big"))
    val got = Search.synonymSearch(Search.Corpus(docs), groups, 10, requireAll = true).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_micro")).toMap
    assert(got.keySet == Set(1L, 2L, 3L), got.toString)
    // group df = 4 docs contain fast OR quick; both single-member docs
    // share one idf → equal group-1 contributions
    val idf1 = math.floor(math.log(6.0 / 5.0) * 1000000L).toLong // df=4, N=5
    val idf2 = math.floor(math.log(6.0 / 5.0) * 1000000L).toLong // 'big' df=4 too
    assert(got(1L) == idf1 + idf2 && got(1L) == got(2L))
    assert(got(3L) == 2 * idf1 + idf2, "doc 3's group tf is the SUM over members")
    // a term in two groups is ambiguous — loud failure
    intercept[IllegalArgumentException] {
      Search.synonymSearch(Search.Corpus(docs), Seq(Seq("fast"), Seq("fast", "big")), 10, requireAll = true)
    }
    // index twin equals the corpus route on the fixture corpus
    val d = "/root/testdata/sf0.001"
    val corpus = SparkEntry.queries("search_synonym")(spark, d).collect().toSeq
    val index = SparkEntry.queries("search_synonym_index")(spark, d).collect().toSeq
    assert(corpus.nonEmpty && corpus == index)
  }

  test("wildcardSearchFromIndex: * and ? translate, literal % matches itself, cap binds") {
    val docs = Seq(
      (1L, "ca5t cat coat c%t"),
      (2L, "cat cut"),
      (3L, "dog")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_wild").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    def ids(pattern: String, maxExpand: Int = 8) =
      Search.wildcardSearchFromIndex(spark, dir, pattern, maxExpand, 10).collect()
        .map(_.getAs[Long]("doc_id")).toSet
    assert(ids("c?t") == Set(1L, 2L), "c?t matches cat and cut and c%t")
    assert(ids("c*t") == Set(1L, 2L), "c*t adds coat and ca5t")
    assert(ids("c%t") == Set(1L), "literal % escaped: only the c%t token's doc")
    assert(ids("zz*").isEmpty)
    // likePattern translation is exact
    assert(Search.likePattern("a*b?c%d_e\\f") == "a%b_c\\%d\\_e\\\\f")
  }

  test("booleanSearch: exact-token NOT, substring non-exclusion, rank k+1 promotion, index twin equal") {
    val docs = Seq(
      (1L, "cat dog bird"),       // must both, has the NOT term → excluded
      (2L, "cat dog"),            // kept
      (3L, "cat dog birdhouse"),  // 'birdhouse' is NOT the token 'bird' → kept
      (4L, "cat only")
    ).toDF("doc_id", "text")
    val got = Search.booleanSearch(Search.Corpus(docs), Seq("cat", "dog"), Seq("bird"), 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
    assert(got.map(_._2).toSet == Set(2L, 3L), got.mkString(","))
    assert(got.map(_._1).toSeq == Seq(1L, 2L), "ranks stay dense after exclusion")
    // rank k+1 promotion: with k = 1, excluding the top doc must let
    // the next one in, not return an empty page
    val hi = Seq(
      (1L, "cat cat cat dog nope"), // top-scored, excluded
      (2L, "cat dog")
    ).toDF("doc_id", "text")
    val page1 = Search.booleanSearch(Search.Corpus(hi), Seq("cat", "dog"), Seq("nope"), 1)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(page1.toSeq == Seq(2L), "exclusion happens BEFORE the page cut")
    intercept[IllegalArgumentException] {
      Search.booleanSearch(Search.Corpus(docs), Seq("cat"), Seq("cat"), 10)
    }
    val d = "/root/testdata/sf0.001"
    val corpus = SparkEntry.queries("search_boolean_not")(spark, d).collect().toSeq
    val index = SparkEntry.queries("search_boolean_not_index")(spark, d).collect().toSeq
    assert(corpus.nonEmpty && corpus == index)
  }

  test("proximitySearch: pair counting within slop, unordered, multiplicity; index twin equal") {
    val docs = Seq(
      (1L, "hash a b join"),        // distance 3: in at slop 3, out at slop 2
      (2L, "join x hash"),          // reversed, distance 2
      (3L, "hash a a a a join"),    // distance 5: out at slop 3
      (4L, "hash join now hash z join") // pairs within 3: (1,2)=1, (2,4)... positions 1,4 hash; 2,6 join → |1-2|=1, |1-6|=5, |4-2|=2, |4-6|=2 → 3 pairs
    ).toDF("doc_id", "text")
    def pairs(slop: Int) = Search.proximitySearch(Search.Corpus(docs), "hash", "join", slop)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pairs")).toMap
    assert(pairs(3) == Map(1L -> 1L, 2L -> 1L, 4L -> 3L), pairs(3).toString)
    assert(pairs(2) == Map(2L -> 1L, 4L -> 3L))
    val d = "/root/testdata/sf0.001"
    val corpus = SparkEntry.queries("search_proximity")(spark, d).collect().toSeq
    val index = SparkEntry.queries("search_proximity_index")(spark, d).collect().toSeq
    assert(corpus.nonEmpty && corpus == index)
    // proximity at slop 3 is strictly wider than the exact phrase
    val phrase = SparkEntry.queries("search_phrase")(spark, d).collect().map(_.getAs[Long]("doc_id")).toSet
    val prox = corpus.map(_.getAs[Long]("doc_id")).toSet
    assert(phrase.subsetOf(prox) && prox.size > phrase.size)
  }

  test("conjunctive plan: top-k is TakeOrderedAndProject; contains-prune reaches the scan") {
    val q = SparkEntry.queries("search_conjunctive")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(plan.contains("Contains"), "coarse substring prune must appear as a Contains filter")
  }

  test("phraseSearch: adjacency only, multiplicity counted, non-adjacent excluded") {
    val docs = Seq(
      (1L, "hash join now hash join"), // 2 occurrences
      (2L, "hash x join"),             // both tokens, never adjacent
      (3L, "join hash"),               // reversed order only
      (4L, "a hash join b")            // 1 occurrence
    ).toDF("doc_id", "text")
    val got = Search
      .phraseSearch(Search.Corpus(docs), Seq("hash", "join"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occurrences"))
      .toMap
    assert(got == Map(1L -> 2L, 4L -> 1L), got.toString)
  }

  test("index probe: driver and executor bucket functions agree; scan is partition-pruned") {
    // driver-side pruning is only sound if both sides hash identically
    val toks = Seq("dup", "spark", "hash", "Ünïcode", "", "a b")
    val execBuckets = toks.toDF("token")
      .withColumn("b", expr("CAST(conv(substring(md5(cast(token as binary)), 1, 12), 16, 10) AS BIGINT) % 64"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    toks.foreach(t => assert(Search.tokenBucket(t) == execBuckets(t), s"bucket mismatch for '$t'"))

    val dir = tempDir("graft_searchidx").toString
    val docs = Seq(
      (1L, "cat dog"), (2L, "cat"), (3L, "dog cat extra"), (4L, "bird")
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val probe = Search.conjunctiveFromIndex(spark, dir, Seq("cat", "dog"), 10)
    val got = probe.collect().map(_.getAs[Long]("doc_id")).toSet
    val batch = Search.conjunctiveSearch(Search.Corpus(docs), Seq("cat", "dog"), 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
    assert(got == Set(1L, 3L))
    assert(
      probe.collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))).toSeq
        == batch.toSeq,
      "index-served rows must equal the batch route bit for bit"
    )
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
  }

  test("as-of reads: every generation reconstructs its exact state; plain indexes refuse") {
    val tmp = tempDir("graft_asof").toString
    val dir = s"$tmp/idx"
    val base = Seq((2L, "anchor original two")).toDF("doc_id", "text")
    Search.saveSearchIndex(base, "doc_id", "text", dir)
    Search.applySearchIndexBatch(
      Seq((3L, "anchor original three")).toDF("doc_id", "text"), "doc_id", "text", dir, 0L)
    Search.applySearchIndexBatch(
      Seq((3L, "anchor rewritten three")).toDF("doc_id", "text"), "doc_id", "text", dir, 1L,
      upsert = true)
    def idsAsOf(term: String, g: Long) =
      Search.conjunctiveSearch(Search.Index(spark, dir, Some(g)), Seq(term), 10).collect()
        .map(_.getAs[Long]("doc_id")).toSet
    // generation 0: the original version of doc 3 serves
    assert(idsAsOf("original", 0L) == Set(2L, 3L))
    assert(idsAsOf("rewritten", 0L).isEmpty, "batch-1 rows invisible at gen 0")
    // generation 1 (and the live probe): the rewrite replaced it
    assert(idsAsOf("original", 1L) == Set(2L))
    assert(idsAsOf("rewritten", 1L) == Set(3L))
    val live = Search.conjunctiveFromIndex(spark, dir, Seq("rewritten"), 10).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(live == Set(3L))
    // ranked time travel: BM25 at gen 0 finds the original, not the
    // rewrite, and at gen 1 the inverse
    def bm25Ids(term: String, g: Long) =
      Search.bm25Search(Search.Index(spark, dir, Some(g)), Seq(term), 10).collect()
        .map(_.getAs[Long]("doc_id")).toSet
    assert(bm25Ids("original", 0L) == Set(2L, 3L) && bm25Ids("original", 1L) == Set(2L))
    assert(bm25Ids("rewritten", 1L) == Set(3L))
    // dictionary introspection: exact stats, absent term yields no row
    val ts = Search.termStats(spark, dir, Seq("anchor", "nope")).collect()
      .map(r => r.getAs[String]("token") -> ((r.getAs[Long]("df"), r.getAs[Long]("tf_total")))).toMap
    assert(ts.keySet == Set("anchor") && ts("anchor")._1 >= 2L)
    // a plain built index has no ledger history — loud refusal
    val plain = s"$tmp/plain"
    Search.saveSearchIndex(base, "doc_id", "text", plain)
    intercept[IllegalArgumentException] {
      Search.conjunctiveSearch(Search.Index(spark, plain, Some(0L)), Seq("anchor"), 10)
    }
    // compaction ends the travel horizon: the purged index serves the
    // live state at every surviving generation
    Search.compactSearchIndex(spark, dir)
    assert(Search.conjunctiveFromIndex(spark, dir, Seq("rewritten"), 10).collect()
      .map(_.getAs[Long]("doc_id")).toSet == Set(3L))
  }

  test("fielded lifecycle: append ≡ one-shot; deletes gate probes; append onto tombstones refuses") {
    val flds = Seq("title", "body")
    val docs = Seq(
      (1L, "cat alpha", "dog runs far"),
      (2L, "dog beta", "cat sits"),
      (3L, "cat gamma", "bird flies high"),
      (4L, "fish delta", "cat dog bird")
    ).toDF("doc_id", "title", "body")
    val tmp = tempDir("graft_fld_life").toString
    val oneShot = s"$tmp/one"
    val grown = s"$tmp/grown"
    Search.saveFieldedSearchIndex(docs, "doc_id", flds, oneShot)
    Search.saveFieldedSearchIndex(docs.filter(col("doc_id") <= 2), "doc_id", flds, grown)
    Search.appendToFieldedSearchIndex(docs.filter(col("doc_id") > 2), "doc_id", flds, grown)
    def page(dir: String) = Search
      .bm25fFromIndex(spark, dir, Seq("cat", "dog"), Seq("title" -> 3L, "body" -> 1L), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(page(grown) == page(oneShot), "built-then-appended must equal one-shot bit for bit")
    // field-set mismatch refuses before writing
    intercept[IllegalArgumentException] {
      Search.appendToFieldedSearchIndex(
        Seq((9L, "x", "y")).toDF("doc_id", "title", "abstract"), "doc_id",
        Seq("title", "abstract"), grown)
    }
    // delete doc 4: every probe excludes it; fmeta decremented exactly
    Search.deleteFromFieldedIndex(spark, grown, Seq(4L).toDF("doc_id"))
    val probe = Search.bm25fFromIndex(spark, grown, Seq("cat", "dog"), Seq("title" -> 3L, "body" -> 1L), 10)
    assert(!probe.collect().map(_.getAs[Long]("doc_id")).contains(4L))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    val m = spark.read.parquet(s"$grown/fmeta").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m("title") == ((3L, 6L)) && m("body") == ((3L, 8L)), m.toString)
    // double-delete moves nothing
    Search.deleteFromFieldedIndex(spark, grown, Seq(4L).toDF("doc_id"))
    val m2 = spark.read.parquet(s"$grown/fmeta").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m2 == m, "deleting an already-deleted id must move nothing")
    // append onto LIVE tombstones refuses (generation −1 files would
    // be wrongly killed); compaction purges and re-opens the path
    intercept[IllegalArgumentException] {
      Search.appendToFieldedSearchIndex(
        Seq((5L, "new cat", "late arrival")).toDF("doc_id", "title", "body"), "doc_id", flds, grown)
    }
    val before = page(grown)
    Search.compactFieldedIndex(spark, grown)
    assert(page(grown) == before, "purge must not move the page")
    Search.appendToFieldedSearchIndex(
      Seq((5L, "new cat", "late arrival")).toDF("doc_id", "title", "body"), "doc_id", flds, grown)
    assert(Search.fieldedTermSearch(spark, grown, "title", Seq("cat"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 5L))
  }

  test("round-14 index routes prune to their terms' bucket dirs (PartitionFilters pins)") {
    val d = "/root/testdata/sf0.001"
    val an = Search.demoAnalyzedIndexDir(spark, d)
    val plans = Seq(
      SparkEntry.queries("search_min_match_index")(spark, d),
      Search.minShouldMatchSearch(
        Search.Index(spark, an), Search.fixtureMinTerms.map(_.toUpperCase), Search.fixtureMinMatch, 10, Folded),
      SparkEntry.queries("search_boolean_not_index")(spark, d),
      SparkEntry.queries("search_proximity_index")(spark, d),
      SparkEntry.queries("search_synonym_index")(spark, d),
      SparkEntry.queries("search_prefix_index")(spark, d),
      SparkEntry.queries("search_prefix_analyzed_index")(spark, d),
      SparkEntry.queries("search_fuzzy_index")(spark, d),
      SparkEntry.queries("search_fuzzy_analyzed_index")(spark, d),
      SparkEntry.queries("search_wildcard_index")(spark, d),
      Search.wildcardSearchFromIndex(
        spark, an, Search.fixtureWildcard.toUpperCase, Search.fixtureWildcardExpand, 10, Folded)
    ).map(_.queryExecution.executedPlan.toString)
    plans.foreach { plan =>
      assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    }
  }

  test("round-16 routes prune to their clauses' bucket dirs (PartitionFilters pins)") {
    val d = "/root/testdata/sf0.001"
    val plans = Seq(
      SparkEntry.queries("search_query_string_fielded")(spark, d),
      SparkEntry.queries("search_query_string_fuzzy")(spark, d),
      SparkEntry.queries("search_query_string_range")(spark, d),
      SparkEntry.queries("search_query_string_analyzed")(spark, d),
      SparkEntry.queries("search_query_string_page")(spark, d),
      Search.searchQueryStringPageAfter(
        spark, Search.demoAnalyzedIndexDir(spark, d), Search.fixtureQueryStringWide.toUpperCase, 10,
        Long.MaxValue, -1L, a = Folded),
      SparkEntry.queries("search_auto_correct_multi")(spark, d),
      SparkEntry.queries("search_grouped_topk")(spark, d),
      SparkEntry.queries("search_grouped_topk_analyzed")(spark, d),
      SparkEntry.queries("search_facets_multi")(spark, d),
      SparkEntry.queries("search_bm25f_deleted")(spark, d)
    ).map(_.queryExecution.executedPlan.toString)
    plans.foreach { plan =>
      assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    }
    // the analyzed passage page's RETURNED plan is the render join —
    // its store read must prune to the page's dbucket dirs (the
    // positional tbucket prune runs inside the eager page step)
    val bpPlan = SparkEntry.queries("search_best_passage_analyzed")(spark, d)
      .queryExecution.executedPlan.toString
    assert(bpPlan.contains("PartitionFilters: [") && bpPlan.contains("dbucket"), bpPlan.take(2000))
    // the multi-facet store read column-prunes: text must never load
    val mfPlan = SparkEntry.queries("search_facets_multi")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!mfPlan.contains("text#"), "multi-facet sidebar must not read the text column")
  }

  test("bm25Search: tf saturates toward (k1+1)·idf and longer docs are penalized") {
    // docs 1/2: same length, tf 1 vs 20 — the 20x tf must NOT score 20x
    // (saturation); docs 3/4: same tf, 4x length — longer scores lower
    def pad(n: Int) = Seq.fill(n)("filler").mkString(" ")
    // docs 5-8 keep df < N so the smoothed idf stays positive
    val docs = (Seq(
      (1L, "cat " + pad(9)),
      (2L, Seq.fill(20)("cat").mkString(" ") + " " + pad(9)),
      (3L, "cat " + pad(4)),
      (4L, "cat " + pad(19))
    ) ++ (5L to 8L).map(i => (i, pad(10)))).toDF("doc_id", "text")
    val got = Search
      .bm25Search(Search.Corpus(docs), Seq("cat"), 10)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_milli"))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(2L) > got(1L), "more tf must still score higher")
    assert(got(2L) < got(1L) * 3, s"saturation: 20x tf must stay under ~(k1+1)x = 2.2x: $got")
    assert(got(3L) > got(4L), "same tf, longer doc must score lower")
  }

  test("index lifecycle: append grows N and postings; compaction leaves probes bit-identical") {
    val dir = tempDir("graft_searchidx_app").toString
    val docs = Seq(
      (2L, "cat dog"), (4L, "cat"),            // the build half
      (1L, "dog cat cat"), (3L, "cat dog")     // the appended half
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    Search.appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir)
    val meta = spark.read.parquet(s"$dir/meta").select("n_docs", "total_toks").head()
    assert(meta.getLong(0) == 4L, "meta N must grow")
    assert(meta.getLong(1) == 8L, "meta total_toks must accumulate across appends")
    def probe() = Search
      .conjunctiveFromIndex(spark, dir, Seq("cat", "dog"), 10)
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
      .toSeq
    val before = probe()
    val batch = Search.conjunctiveSearch(Search.Corpus(docs), Seq("cat", "dog"), 10)
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
      .toSeq
    assert(before == batch, "maintained index must answer like the one-shot corpus")
    Search.compactSearchIndex(spark, dir)
    assert(probe() == before, "compaction must not change a single probe bit")
  }

  test("compaction REPAIRS meta from doclen (the non-atomic append window heals)") {
    val dir = tempDir("graft_searchidx_repair").toString
    val docs = Seq((1L, "cat dog"), (2L, "cat x y")).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    // simulate the crash window: relations written, meta stale
    Seq((1L, 1L, 2L)).toDF("n_docs", "total_toks", "format_version")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    Search.compactSearchIndex(spark, dir)
    val meta = spark.read.parquet(s"$dir/meta").select("n_docs", "total_toks").head()
    assert((meta.getLong(0), meta.getLong(1)) == ((2L, 5L)), "meta must be recomputed from doclen")
  }

  test("kwicPage: page-restricted snippets from persisted artifacts; both scans partition-pruned") {
    import spark.implicits._
    // driver and executor doc-bucket functions must agree or the prune is unsound
    val ids = Seq(0L, 1L, 7L, 999999L, -3L)
    val execB = ids.toDF("doc_id")
      .withColumn("b", expr("CAST(conv(substring(md5(cast(concat('db|', CAST(doc_id AS STRING)) as binary)), 1, 12), 16, 10) AS BIGINT) % 64"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach(i => assert(Search.docBucket(i) == execB(i), s"doc bucket mismatch for $i"))

    val idxDir = tempDir("graft_kwicpage_idx").toString
    val storeDir = tempDir("graft_kwicpage_store").toString + "/docs"
    val docs = Seq(
      (1L, "a hash b hash c"), // 2 occurrences
      (2L, "hash only here"),  // 1 occurrence
      (3L, "hash hash hash"),  // highest tf → rank 1
      (4L, "no term at all"),
      (5L, "hash again")       // 1 occurrence — ranked OFF the page below
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", idxDir)
    Search.saveDocStore(docs, "doc_id", "text", storeDir)
    // a 2-hit page: ranks 1-2 by tf (doc 3 then doc 1)
    val hits = Search.conjunctiveFromIndex(spark, idxDir, Seq("hash"), 2)
      .select(col("rank"), col("doc_id"))
    val page = Search.kwicPage(spark, idxDir, storeDir, hits, "hash", 1)
    val got = page.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sorted.toSeq
    assert(
      got == Seq(
        (1L, 3L, 1L, "hash hash"), (1L, 3L, 2L, "hash hash hash"), (1L, 3L, 3L, "hash hash"),
        (2L, 1L, 2L, "a hash b"), (2L, 1L, 4L, "b hash c")
      ),
      got.toString
    )
    // off-page docs (2, 5) must emit NO snippet — page-restricted by construction
    assert(!got.exists(r => r._2 == 2L || r._2 == 5L))
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("dbucket"), plan.take(2000))
    assert(plan.contains("tbucket"), "positions read must be pruned to the term's bucket dir")
    // an EMPTY page renders an empty snippet set with the page schema
    val empty = Search.kwicPage(spark, idxDir, storeDir, hits.filter(col("rank") > 99), "hash", 1)
    assert(empty.columns.toSeq == Seq("rank", "doc_id", "pos", "snippet") && empty.count() == 0)
  }

  test("searchQueryStringAnalyzed: damaged docs recovered; raw-only clauses reject") {
    val docs = Seq(
      (1L, "DUP window alpha"), // damaged casing — analyzer must recover
      (2L, "dup beta gamma."),
      (3L, "window merge dup")  // excluded by -merge
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_qsa").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir, analyzed = true)
    val got = Search.searchQueryString(spark, dir, "+DUP Window^3 -Merge", 10, a = Folded)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(1L, 2L), got.toString)
    // raw-only clauses have no analyzed artifacts to serve — loud
    intercept[IllegalArgumentException](
      Search.searchQueryString(spark, dir, "dup title:window", 10, a = Folded)
    )
    intercept[IllegalArgumentException](
      Search.searchQueryString(spark, dir, "dup len:[1 TO 9]", 10, a = Folded)
    )
    // a clause that analyzes to pure punctuation is ill-formed
    intercept[IllegalArgumentException](
      Search.searchQueryString(spark, dir, "dup +...", 10, a = Folded)
    )
    // empty analyzed rewrite (no dictionary match) is an empty page
    val none = Search.searchQueryString(spark, dir, "zzzzzzzzzzzzzz~1", 10, a = Folded)
    assert(none.columns.toSeq == Seq("rank", "doc_id", "score_micro") && none.count() == 0)
  }

  test("analyzed page-surface twins: damaged docs recovered; probes pruned to bucket dirs") {
    val idxDir = tempDir("graft_antwin_idx").toString + "/idx"
    val storeDir = tempDir("graft_antwin_st").toString + "/docs"
    // doc 2 is 'damaged' (uppercase + bracket punctuation): the raw
    // routes would miss it, the analyzed chain must recover it
    val docs = Seq(
      (1L, "hash join cost model x y"),
      (2L, "[HASH] [JOIN] noise."),
      (3L, "unrelated words entirely present")
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", idxDir, analyzed = true)
    Search.saveDocStore(docs, "doc_id", "text", storeDir, metaCols = Seq())
    // analyzed range facet: both hash∧join docs land in their adl bins
    // (doc 1: 6 analyzed tokens; doc 2: 3 — 'noise.' folds to 'noise')
    val rf = Search.rangeFacetCounts(spark, idxDir, Seq("HASH", "join"), 4, Folded)
    val got = rf.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 1L, 4L -> 1L), got.toString)
    assert(
      rf.queryExecution.executedPlan.toString.contains("PartitionFilters: ["),
      rf.queryExecution.executedPlan.toString.take(2000)
    )
    // analyzed best passage: doc 2's snippet renders the ANALYZED
    // stream (aligned with apositions), damaged doc included
    val bp = Search.bestPassages(spark, idxDir, storeDir, Seq("HASH", "JOIN"), 2, 5, Folded)
    val snippets = bp.collect().map(r => (r.getLong(1), r.getString(4))).toMap
    assert(snippets(1L) == "hash join" && snippets(2L) == "hash join", snippets.toString)
  }

  test("chunkPageFromIndex: winners render their OWN chunk text; store read is page-pruned") {
    val idxDir = tempDir("graft_chunkpage_idx").toString + "/idx"
    val storeDir =
      tempDir("graft_chunkpage_store").toString + "/docs"
    // chunkSize 2: doc 1's SECOND chunk carries the term twice (beats
    // its first), doc 2's first chunk once, doc 3 never matches
    val docs = Seq(
      (1L, "x y hash hash"),
      (2L, "hash z a b"),
      (3L, "no term here")
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(
      Search.chunkRelation(docs, "doc_id", "text", 2).selectExpr("doc_id * 1000 + chunk_no AS cid", "ctext"),
      "cid",
      "ctext",
      idxDir
    )
    Search.saveDocStore(docs, "doc_id", "text", storeDir)
    val page = Search.chunkPageFromIndex(spark, idxDir, storeDir, Seq("hash"), 2, 10)
    val got = page.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4))).toSeq
    assert(
      got.sorted == Seq((1L, 1L, 1L, "hash hash"), (2L, 2L, 0L, "hash z")),
      got.toString
    )
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("dbucket"), plan.take(2000))
    // an empty page keeps the page schema
    val empty = Search.chunkPageFromIndex(spark, idxDir, storeDir, Seq("absentterm"), 2, 10)
    assert(
      empty.columns.toSeq == Seq("rank", "doc_id", "chunk_no", "score_milli", "chunk_text") &&
        empty.count() == 0
    )
  }

  test("pre-dl index format fails LOUDLY: no format_version marker → probes and compaction throw") {
    val dir = tempDir("graft_searchidx_v1").toString
    val docs = Seq((1L, "cat dog"), (2L, "cat x y")).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    // simulate a v1 index: meta without the marker (its postings would
    // lack dl; reading with the v2 schema yields null dl, so BM25 would
    // silently NULL every contribution instead of failing)
    Seq((2L, 5L)).toDF("n_docs", "total_toks")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e1 = intercept[IllegalArgumentException] {
      Search.bm25FromIndex(spark, dir, Seq("cat"), 10).collect()
    }
    assert(e1.getMessage.contains("format_version"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] { Search.compactSearchIndex(spark, dir) }
    assert(e2.getMessage.contains("format_version"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Search.appendToSearchIndex(docs, "doc_id", "text", dir)
    }
    assert(e3.getMessage.contains("format_version"), e3.getMessage)
  }

  test("maintaining an ANALYZED index with analyzed=false fails loudly (stale-twin guard)") {
    val dir = tempDir("graft_searchidx_antwin").toString
    val docs = Seq((1L, "cat dog"), (2L, "cat x")).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir, analyzed = true)
    val more = Seq((3L, "dog y")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Search.appendToSearchIndex(more, "doc_id", "text", dir) // analyzed defaulted false
    }
    assert(e1.getMessage.contains("apostings"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Search.applySearchIndexBatch(more, "doc_id", "text", dir, 0L)
    }
    assert(e2.getMessage.contains("apostings"), e2.getMessage)
    // analyzed = true still appends fine, and the analyzed probe sees the increment
    Search.appendToSearchIndex(more, "doc_id", "text", dir, analyzed = true)
    val got = Search
      .conjunctiveFromIndex(spark, dir, Seq("DOG"), 10, Folded)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(1L, 3L), got.toString)
    // the reverse: an analyzed append onto a RAW index would give the
    // folded tier the appended documents only — refused before writing
    val raw = tempDir("graft_searchidx_rawtwin").toString
    Search.saveSearchIndex(docs, "doc_id", "text", raw)
    val e3 = intercept[IllegalArgumentException] {
      Search.appendToSearchIndex(more, "doc_id", "text", raw, analyzed = true)
    }
    assert(e3.getMessage.contains("apostings"), e3.getMessage)
    assert(!new java.io.File(s"$raw/apostings").exists, "nothing may be written before the refusal")
  }

  test("bm25FromIndex: equals the corpus route bit for bit; scan is partition-pruned; appends accumulate") {
    val dir = tempDir("graft_searchidx_bm25").toString
    val dirApp = tempDir("graft_searchidx_bm25app").toString
    def pad(n: Int) = Seq.fill(n)("filler").mkString(" ")
    val docs = (Seq(
      (1L, "cat " + pad(9)),
      (2L, Seq.fill(20)("cat").mkString(" ") + " dog " + pad(8)),
      (3L, "cat dog " + pad(3)),
      (4L, "dog " + pad(19))
    ) ++ (5L to 8L).map(i => (i, pad(10)))).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    Search.saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dirApp)
    Search.appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dirApp)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
    val corpus = rows(Search.bm25Search(Search.Corpus(docs), Seq("cat", "dog"), 10))
    val probe = Search.bm25FromIndex(spark, dir, Seq("cat", "dog"), 10)
    assert(rows(probe) == corpus, "index-served BM25 must equal the corpus pass")
    // the maintained index's meta (N, total_toks) must accumulate to
    // the one-shot build's, or avgdl/idf silently skew
    assert(rows(Search.bm25FromIndex(spark, dirApp, Seq("cat", "dog"), 10)) == corpus)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    // dl is denormalized onto the posting rows: the probe must NOT
    // join the doc-keyed doclen relation (a corpus-cardinality read
    // per probe at scale) — only the postings dir may appear
    assert(!plan.contains("doclen"), "index BM25 must read no doclen relation:\n" + plan.take(2000))
  }

  test("phraseFromIndex: equals the corpus window route; positions scan partition-pruned") {
    val dir = tempDir("graft_searchidx_phrase").toString
    val docs = Seq(
      (1L, "hash join now hash join"), // 2 occurrences
      (2L, "hash x join"),             // both tokens, never adjacent
      (3L, "join hash"),               // reversed order only
      (4L, "a hash join b")            // 1 occurrence
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text", dir)
    Search.appendToSearchIndex(docs.filter(col("doc_id") > 2), "doc_id", "text", dir)
    Search.compactSearchIndex(spark, dir)
    val probe = Search.phraseFromIndex(spark, dir, Seq("hash", "join"))
    val got = probe.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occurrences")).toMap
    assert(got == Map(1L -> 2L, 4L -> 1L), got.toString)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
  }

  test("n-term phraseFromIndex: overlapping + repeated-term phrases equal the corpus window route; scan pruned") {
    val dir = tempDir("graft_searchidx_phrase3").toString
    val docs = Seq(
      (1L, "a b c a b c a b c"), // 3 overlapping "a b c"
      (2L, "a b x c"),           // terms present, never consecutive
      (3L, "c b a"),             // reversed
      (4L, "x a b c y"),         // 1 interior occurrence
      (5L, "a a a a"),           // repeated-term phrase fodder
      (6L, "b c a b")            // wraps but one "a b" at the end? a@3 b@4 -> no c
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs.filter(col("doc_id") <= 3), "doc_id", "text", dir)
    Search.appendToSearchIndex(docs.filter(col("doc_id") > 3), "doc_id", "text", dir)
    Search.compactSearchIndex(spark, dir)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occurrences")).toMap
    val probe = Search.phraseFromIndex(spark, dir, Seq("a", "b", "c"))
    assert(m(probe) == Map(1L -> 3L, 4L -> 1L), m(probe).toString)
    assert(m(probe) == m(Search.phraseSearch(Search.Corpus(docs), Seq("a", "b", "c"))))
    // repeated-term phrase: "a a a" occurs twice in doc 5 (pos 1-3, 2-4)
    val rep = Search.phraseFromIndex(spark, dir, Seq("a", "a", "a"))
    assert(m(rep) == Map(5L -> 2L), m(rep).toString)
    assert(m(rep) == m(Search.phraseSearch(Search.Corpus(docs), Seq("a", "a", "a"))))
    // 4-term
    val four = Search.phraseFromIndex(spark, dir, Seq("c", "a", "b", "c"))
    assert(m(four) == Map(1L -> 2L), m(four).toString)
    assert(m(four) == m(Search.phraseSearch(Search.Corpus(docs), Seq("c", "a", "b", "c"))))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
  }

  test("bm25BatchFromIndex: each query's rows equal its single-query index route; group-limited") {
    val dir = tempDir("graft_searchidx_bm25b").toString
    def pad(n: Int) = Seq.fill(n)("filler").mkString(" ")
    val docs = (Seq(
      (1L, "cat " + pad(9)),
      (2L, "cat dog cat " + pad(7)),
      (3L, "dog bird " + pad(3)),
      (4L, "bird " + pad(19))
    ) ++ (5L to 8L).map(i => (i, pad(10)))).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val queries = Seq((10L, "cat"), (10L, "dog"), (20L, "bird")).toDF("query_id", "term")
    val out = Search.bm25BatchSearch(Search.Index(spark, dir), queries, k = 5)
    val byQuery = out.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).sorted.toSeq)
      .toMap
    def single(terms: Seq[String]) = Search.bm25FromIndex(spark, dir, terms, 5)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).sorted.toSeq
    assert(byQuery(10L) == single(Seq("cat", "dog")), "batch must equal the per-query route")
    assert(byQuery(20L) == single(Seq("bird")))
    out.collect()
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("batched OR mode: relaxed gate admits single-term docs, missing mode row defaults to AND") {
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "cat"),
      (3L, "dog bird"),
      (4L, "bird fox cat dog")
    ).toDF("doc_id", "text")
    val queries = Seq(
      (10L, "cat"), (10L, "dog"), // OR query
      (20L, "cat"), (20L, "dog")  // no mode row → AND
    ).toDF("query_id", "term")
    val modes = Seq((10L, "OR")).toDF("query_id", "mode")
    val got = Search.batchedSearch(Search.Corpus(docs), queries, k = 5, Some(modes))
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(got(10L) == Set(1L, 2L, 3L, 4L), s"OR admits any-term docs: $got")
    assert(got(20L) == Set(1L, 4L), s"default gate stays AND: $got")
  }

  test("batchedSearch: one pass serves every query; per-query AND gates; WindowGroupLimit") {
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "cat"),
      (3L, "dog bird"),
      (4L, "bird fox cat dog")
    ).toDF("doc_id", "text")
    val queries = Seq(
      (10L, "cat"), (10L, "dog"), // AND query
      (20L, "bird")               // single-term query
    ).toDF("query_id", "term")
    val out = Search.batchedSearch(Search.Corpus(docs), queries, k = 5)
    val got = out.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(got(10L) == Set(1L, 4L), s"AND gate per query: $got")
    assert(got(20L) == Set(3L, 4L))
    // per-query top-k must group-limit, not globally sort
    out.collect()
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    // a query's terms in another query must not cross-contaminate:
    // doc 2 has 'cat' but query 10 needs both terms — already asserted;
    // and query 20 must not see tf('cat') in its score
    val q20 = out.collect().filter(_.getAs[Long]("query_id") == 20L)
    assert(q20.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L))
  }

  test("batched index route: bucket-union pruning, rows equal the corpus-pass batch") {
    val dir = tempDir("graft_searchidx_batch").toString
    val docs = Seq(
      (1L, "cat dog"), (2L, "cat"), (3L, "dog bird"), (4L, "bird fox cat dog")
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val queries = Seq((10L, "cat"), (10L, "dog"), (20L, "bird")).toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("query_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val fromIndex = Search.batchedSearch(Search.Index(spark, dir), queries, 5)
    assert(rows(fromIndex) == rows(Search.batchedSearch(Search.Corpus(docs), queries, 5)))
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
  }

  test("batchedSearch long-tail: 5000-token vocab, 50 queries, sound and exactly ranked") {
    // the fixture corpus has ~31 distinct tokens — cardinality
    // behavior must be proven synthetically. Deterministic corpus:
    // doc i holds 10 tokens tok$((i*7+j*13) % 5000).
    val docs = (1L to 2000L)
      .map(i => (i, (0 until 10).map(j => s"tok${(i * 7 + j * 13) % 5000}").mkString(" ")))
      .toDF("doc_id", "text")
    val qTerms = (0 until 50).map(q => (q.toLong, Seq(s"tok${(q * 97) % 5000}", s"tok${(q * 97 + 13) % 5000}")))
    val queries = qTerms.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
    val out = Search.batchedSearch(Search.Corpus(docs), queries, k = 5).collect()
    // soundness: every hit really contains ALL its query's terms
    val corpus = (1L to 2000L)
      .map(i => i -> (0 until 10).map(j => s"tok${(i * 7 + j * 13) % 5000}"))
      .toMap
    val terms = qTerms.toMap
    out.foreach { r =>
      val (q, doc) = (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
      assert(terms(q).forall(corpus(doc).contains), s"query $q hit $doc missing a term")
    }
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      assert(rows.length <= 5)
    }
    // completeness + exact ranking for one query, recomputed driver-side
    val (q0, ts0) = qTerms.find { case (q, ts) => out.exists(_.getAs[Long]("query_id") == q) }.get
    val n = 2000L
    def df(t: String) = corpus.count(_._2.contains(t)).toLong
    val idf = ts0.map(t => t -> math.floor(math.log((n + 1).toDouble / (df(t) + 1)) * 1e6).toLong).toMap
    val expected = corpus.toSeq
      .filter { case (_, toks) => ts0.forall(toks.contains) }
      .map { case (id, toks) => (id, ts0.map(t => toks.count(_ == t).toLong * idf(t)).sum) }
      .sortBy { case (id, sc) => (-sc, id) }
      .take(5)
    val got = out
      .filter(_.getAs[Long]("query_id") == q0)
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
      .toSeq
    assert(got == expected, s"query $q0: got $got want $expected")
  }

  test("analyzedSearch: case and edge punctuation fold on BOTH sides; pure-punct tokens drop; raw route misses what analysis recovers") {
    val docs = Seq(
      (1L, "CAT dog"),          // case-damaged, both terms
      (2L, "[cat] (dog)"),      // punctuation-wrapped, both terms
      (3L, "cat dog"),          // clean
      (4L, "!!! ??? cat"),      // pure-punct tokens must drop, one term
      (5L, "scatter dogma")     // substrings only — exact analyzed match rejects
    ).toDF("doc_id", "text")
    val got = Search.conjunctiveSearch(Search.Corpus(docs), Seq("Cat", "DOG!"), 10, Folded)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(1L, 2L, 3L), got.toString)
    // the UNanalyzed route misses the damaged docs — the analyzer is
    // load-bearing, not cosmetic
    val raw = Search.conjunctiveSearch(Search.Corpus(docs), Seq("cat", "dog"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(raw == Set(3L), raw.toString)
    // identical damage must score identically to the clean twin: docs
    // 1-3 carry the same analyzed token multiset, so scores tie and
    // rank falls back to doc_id
    val ranked = Search.conjunctiveSearch(Search.Corpus(docs), Seq("cat", "dog"), 10, Folded)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"))).toSeq
    assert(ranked == Seq((1L, 1L), (2L, 2L), (3L, 3L)), ranked.toString)
  }

  test("analyzedFromIndex: equals the corpus analyzed route through append+compact; apostings scan partition-pruned") {
    val dir = tempDir("graft_searchidx_an").toString
    val docs = Seq(
      (1L, "CAT dog"),
      (2L, "[cat] (dog)"),
      (3L, "cat dog"),
      (4L, "!!! ??? cat"),
      (5L, "scatter dogma"),
      (6L, "Dog. cat, dog")
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, analyzed = true)
    Search.appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir, analyzed = true)
    Search.compactSearchIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))).toSeq
    val corpus = rows(Search.conjunctiveSearch(Search.Corpus(docs), Seq("Cat", "DOG!"), 10, Folded))
    val probe = Search.conjunctiveFromIndex(spark, dir, Seq("Cat", "DOG!"), 10, Folded)
    assert(rows(probe) == corpus, "index-served analyzed search must equal the corpus analyzed pass")
    assert(corpus.map(_._2).toSet == Set(1L, 2L, 3L, 6L), corpus.toString)
    // OR gate from the index too
    val orCorpus = rows(Search.disjunctiveSearch(Search.Corpus(docs), Seq("Cat"), 10, Folded))
    assert(rows(Search.disjunctiveSearch(Search.Index(spark, dir), Seq("Cat"), 10, Folded)) == orCorpus)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    assert(plan.contains("apostings"), "the analyzed probe must serve from the apostings relation")
  }

  test("analyzedBm25FromIndex: equals the corpus analyzed-BM25 route through append+compact; adl is the ANALYZED length") {
    val dir = tempDir("graft_searchidx_abm").toString
    def pad(n: Int) = Seq.fill(n)("filler").mkString(" ")
    val docs = (Seq(
      (1L, "CAT " + pad(9)),                               // case-damaged, short
      (2L, Seq.fill(20)("[cat]").mkString(" ") + " Dog. " + pad(8)), // punct-damaged, high tf
      (3L, "cat dog " + pad(3)),                           // clean, short
      (4L, "dog!!! " + pad(19)),                           // long
      (5L, "!!! ??? cat " + pad(5))                        // pure-punct tokens must NOT count in adl
    ) ++ (6L to 9L).map(i => (i, pad(10)))).toDF("doc_id", "text")
    Search.saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, analyzed = true)
    Search.appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir, analyzed = true)
    Search.compactSearchIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
    val corpus = rows(Search.bm25Search(Search.Corpus(docs), Seq("Cat", "DOG!"), 10, Folded))
    val probe = Search.bm25FromIndex(spark, dir, Seq("Cat", "DOG!"), 10, Folded)
    assert(rows(probe) == corpus, "index-served analyzed BM25 must equal the corpus analyzed pass")
    assert(corpus.map(_._2).toSet == Set(1L, 2L, 3L, 4L, 5L), corpus.toString)
    // ameta repaired by compaction equals the corpus analyzed total
    val spark2 = spark
    import spark2.implicits._
    val ametaV = spark.read.parquet(s"$dir/ameta").as[Long].head()
    // doc5 contributes 6 analyzed tokens (the two pure-punct drop)
    val expectTotal = Seq(10L, 29L, 5L, 20L, 6L).sum + 4 * 10L
    assert(ametaV == expectTotal, s"ameta $ametaV != $expectTotal")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    assert(!plan.contains("doclen"), "analyzed BM25 probe must read nothing doc-keyed")
  }

  test("analyzedBm25BatchFromIndex: each query's rows equal its single-query route; raw variants of one analyzed term collapse") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val dir = Search.demoAnalyzedIndexDir(spark, d)
    val batch = Seq(
      10L -> "DUP", 10L -> "Spark!",
      // two raw variants of the same analyzed term must not double-count
      11L -> "[hash]", 11L -> "HASH", 11L -> "join"
    ).toDF("query_id", "term")
    val got = Search.bm25BatchSearch(Search.Index(spark, dir), batch, 5, Folded)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .view
      .mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq)
      .toMap
    def single(terms: Seq[String]) = Search.bm25FromIndex(spark, dir, terms, 5, Folded)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got(10L) == single(Seq("DUP", "Spark!")), s"q10: ${got(10L)}")
    assert(got(11L) == single(Seq("hash", "join")), s"q11: ${got(11L)}")
  }

  test("analyzedPhraseSearch: adjacency over the FILTERED analyzed stream; index route equal through append+compact; apositions scan pruned") {
    val dir = tempDir("graft_searchidx_aph").toString
    val docs = Seq(
      (1L, "HASH JOIN big"),               // case-damaged adjacency
      (2L, "[hash] [join] [big]"),         // punct-wrapped adjacency
      (3L, "hash join big"),               // clean
      (4L, "hash !!! join big"),           // pure-punct token drops BEFORE numbering — adjacency restored
      (5L, "hash filler join big"),        // real token between — no match
      (6L, "join hash big"),               // order matters
      (7L, "hash join big hash join big")  // multiplicity 2
    ).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occurrences")).toMap
    val corpus = m(Search.phraseSearch(Search.Corpus(docs), Seq("Hash", "JOIN.", "[big]"), Folded))
    assert(corpus == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 2L), corpus.toString)
    // the raw route misses every damaged form — the analyzer is
    // load-bearing for phrases exactly as for term search
    val raw = m(Search.phraseSearch(Search.Corpus(docs), Seq("hash", "join", "big")))
    assert(raw == Map(3L -> 1L, 7L -> 2L), raw.toString)
    // served from the maintained analyzed index: build-even → append-odd → compact
    Search.saveSearchIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, analyzed = true)
    Search.appendToSearchIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir, analyzed = true)
    Search.compactSearchIndex(spark, dir)
    val probe = Search.phraseFromIndex(spark, dir, Seq("Hash", "JOIN.", "[big]"), Folded)
    assert(m(probe) == corpus, "index-served analyzed phrase must equal the corpus analyzed route")
    // repeated-term analyzed phrase: bigram "join join" nowhere; "hash join" everywhere adjacency holds
    assert(
      m(Search.phraseFromIndex(spark, dir, Seq("HASH", "Join"), Folded)) ==
        m(Search.phraseSearch(Search.Corpus(docs), Seq("hash", "join"), Folded))
    )
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    assert(plan.contains("apositions"), "the analyzed phrase probe must serve from apositions")
    // a phrase term that analyzes to empty is ill-formed, not silently shorter
    intercept[IllegalArgumentException] {
      Search.phraseSearch(Search.Corpus(docs), Seq("hash", "!!!"), Folded)
    }
    intercept[IllegalArgumentException] {
      Search.phraseFromIndex(spark, dir, Seq("hash", "!!!"), Folded)
    }
  }

  test("kwicSnippets: window clamps at doc edges, every occurrence emitted, 1-based positions") {
    val docs = Seq(
      (1L, "cat a b c cat"),      // occurrence at both edges
      (2L, "x y z cat p q r"),    // interior occurrence, full window
      (3L, "no match here"),
      (4L, "concatenate only")    // substring but not a token
    ).toDF("doc_id", "text")
    val got = Search.kwicSnippets(docs, "doc_id", "text", "cat", 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"), r.getAs[String]("snippet")))
      .toSet
    assert(
      got == Set(
        (1L, 1L, "cat a b"),
        (1L, 5L, "b c cat"),
        (2L, 4L, "y z cat p q")
      ),
      got.toString
    )
  }

  test("analyzedKwicSnippets: hits found in the ANALYZED stream, positions and snippets stay RAW") {
    val docs = Seq(
      (1L, "a b CAT c d"),  // case-damaged hit at raw pos 3
      (2L, "x [cat] y"),    // punct-wrapped hit at raw pos 2
      (3L, "cat z"),        // clean hit at pos 1 (left clamp)
      (4L, "scatter only"), // substring is not a token match
      (5L, "!!! cat")       // punct token before the hit — raw positions unaffected
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id", "pos").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"), r.getAs[String]("snippet"))).toSeq
    val got = rows(Search.kwicSnippets(docs, "doc_id", "text", "CAT!", 1, Folded))
    assert(
      got == Seq(
        (1L, 3L, "b CAT c"),
        (2L, 2L, "x [cat] y"),
        (3L, 1L, "cat z"),
        (5L, 2L, "!!! cat")
      ),
      got.toString
    )
    // the raw KWIC route sees only the exact-cased unwrapped token
    val raw = rows(Search.kwicSnippets(docs, "doc_id", "text", "cat", 1))
    assert(raw == Seq((3L, 1L, "cat z"), (5L, 2L, "!!! cat")), raw.toString)
    intercept[IllegalArgumentException] {
      Search.kwicSnippets(docs, "doc_id", "text", "!!!", 1, Folded)
    }
  }

  test("rrfFuse: overlapping ids sum both contributions, absent ranks contribute zero") {
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val vec = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val got = Search.rrfFuse(Seq("lex" -> lex, "vec" -> vec))
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("lex_rank"), r.getAs[Long]("vec_rank"), r.getAs[Long]("rrf_micro"))))
      .toMap
    // 10^6 div (60 + rank), exact integers
    assert(got(2L) == ((2L, 1L, 1000000L / 62 + 1000000L / 61)), got.toString)
    assert(got(1L) == ((1L, 0L, 1000000L / 61)))
    assert(got(4L) == ((0L, 2L, 1000000L / 62)))
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    // the overlap doc must outrank every single-list doc
    val best = got.maxBy(_._2._3)._1
    assert(best == 2L, "fused doc must win")
  }

  test("dedupedResults: best-ranked member survives per cluster, re-rank is dense") {
    val hits = Seq((1L, 10L), (2L, 11L), (3L, 12L), (4L, 13L)).toDF("rank", "doc_id")
    val clusters = Seq((10L, 100L), (11L, 100L), (12L, 12L), (13L, 100L)).toDF("doc_id", "cluster_id")
    val got = Search.dedupedResults(hits, clusters)
      .orderBy("new_rank")
      .collect()
      .map(r => (r.getAs[Long]("new_rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Long]("orig_rank")))
      .toSeq
    assert(got == Seq((1L, 10L, 100L, 1L), (2L, 12L, 12L, 3L)), got.toString)
  }

  test("persisted-artifact serving: RRF and deduped pages equal the corpus-derived pages; map read pruned") {
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(
      rows(Search.searchRrfIndex(spark, d)) == rows(Search.searchRrfHybrid(spark, d)),
      "index-served hybrid page must equal the corpus-derived page (exhaustive IVF probe)"
    )
    val served = Search.searchDedupResultsGraph(spark, d)
    assert(
      rows(served) == rows(Search.searchDedupResults(spark, d)),
      "deduped page from persisted index + cluster map must equal the re-derived page"
    )
    // the cluster-map scan must be pruned to the hits' bucket dirs
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"), plan.take(2000))
  }

  test("fixture searches are non-degenerate at sf0.001") {
    val d = "/root/testdata/sf0.001"
    assert(SparkEntry.queries("search_postings")(spark, d).count() > 0)
    assert(SparkEntry.queries("search_phrase")(spark, d).count() > 0)
  }

  test("delete: tombstone serving equals a live-corpus rebuild; idempotent decrement; purge heals") {
    val dir = tempDir("graft_searchidx_tomb").toString
    val refDir = tempDir("graft_searchidx_tombref").toString
    val docs = Seq(
      (1L, "cat dog"), (2L, "cat cat filler"), (3L, "dog cat extra"), (4L, "bird"), (5L, "cat")
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    Search.deleteFromSearchIndex(spark, dir, Seq(2L, 4L))
    // the strongest form of the serving claim: tombstone-served BM25
    // must equal an index BUILT on the live corpus — proves the
    // anti-join (results), the live-row df, and the EXACT meta
    // decrement (N and avgdl feed every score) in one equality
    Search.saveSearchIndex(docs.filter(!col("doc_id").isin(2L, 4L)), "doc_id", "text", refDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(
      rows(Search.bm25FromIndex(spark, dir, Seq("cat", "dog"), 10)) ==
        rows(Search.bm25FromIndex(spark, refDir, Seq("cat", "dog"), 10)),
      "tombstoned index must serve exactly like a live-corpus rebuild"
    )
    // deleting an already-dead (and an absent) id must move nothing
    val metaBefore = spark.read.parquet(s"$dir/meta").select("n_docs", "total_toks").head()
    Search.deleteFromSearchIndex(spark, dir, Seq(2L, 99L))
    val metaAfter = spark.read.parquet(s"$dir/meta").select("n_docs", "total_toks").head()
    assert(metaBefore == metaAfter, s"double delete moved meta: $metaBefore -> $metaAfter")
    // append onto live tombstones must fail loudly (gen −1 rows would
    // be wrongly killed)
    val ex = intercept[IllegalArgumentException] {
      Search.appendToSearchIndex(Seq((6L, "cat")).toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    assert(ex.getMessage.contains("tombstones"), ex.getMessage)
    // compaction: physical purge, tombstones consumed, probes unmoved
    val pre = rows(Search.conjunctiveFromIndex(spark, dir, Seq("cat"), 10))
    Search.compactSearchIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists, "compaction must consume the tombstones")
    assert(
      spark.read.parquet(s"$dir/postings").filter(col("doc_id").isin(2L, 4L)).count() == 0,
      "purge must remove dead postings physically"
    )
    assert(
      spark.read.parquet(s"$dir/doclen").filter(col("doc_id").isin(2L, 4L)).count() == 0,
      "purge must remove dead doclen rows physically"
    )
    assert(rows(Search.conjunctiveFromIndex(spark, dir, Seq("cat"), 10)) == pre,
      "probes must be bit-identical across the purge")
    // and the index is append-maintainable again after the purge
    Search.appendToSearchIndex(Seq((6L, "cat")).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(
      Search.conjunctiveFromIndex(spark, dir, Seq("cat"), 10)
        .collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 5L, 6L)
    )
  }

  test("delete on an ANALYZED index: ameta decremented exactly, analyzed probes equal a rebuild") {
    val dir = tempDir("graft_searchidx_tomb_an").toString
    val refDir = tempDir("graft_searchidx_tomb_anref").toString
    val docs = Seq(
      (1L, "CAT dog!"), (2L, "cat [cat] filler"), (3L, "dog cat extra"), (4L, "bird"), (5L, "Cat")
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir, analyzed = true)
    Search.deleteFromSearchIndex(spark, dir, Seq(2L))
    Search.saveSearchIndex(docs.filter(col("doc_id") =!= 2L), "doc_id", "text", refDir, analyzed = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(
      rows(Search.bm25FromIndex(spark, dir, Seq("CAT", "DOG"), 10, Folded)) ==
        rows(Search.bm25FromIndex(spark, refDir, Seq("CAT", "DOG"), 10, Folded)),
      "analyzed BM25 through tombstones must equal a live-corpus rebuild (ameta exact)"
    )
  }

  test("upsert apply: old version dies, replacement serves, replay idempotent, purge converges") {
    val dir = tempDir("graft_searchidx_upsert").toString
    val refDir = tempDir("graft_searchidx_upsertref").toString
    val v1 = Seq((1L, "cat dog"), (2L, "bird seed")).toDF("doc_id", "text")
    val v2 = Seq((1L, "fish dog dog")).toDF("doc_id", "text")
    Search.applySearchIndexBatch(v1, "doc_id", "text", dir, batchId = 0L, upsert = true)
    Search.applySearchIndexBatch(v2, "doc_id", "text", dir, batchId = 1L, upsert = true)
    def ids(terms: Seq[String]) =
      Search.conjunctiveFromIndex(spark, dir, terms, 10).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids(Seq("cat")) == Set.empty[Long], "the replaced version must be dead")
    assert(ids(Seq("fish")) == Set(1L), "the replacement must serve")
    assert(ids(Seq("dog")) == Set(1L))
    // REPLAY of the applied batch must change nothing (exactly-once)
    val preRows = spark.read.parquet(s"$dir/postings").count()
    val preProbe = Search.conjunctiveFromIndex(spark, dir, Seq("dog"), 10).collect().map(_.toSeq).toSeq
    Search.applySearchIndexBatch(v2, "doc_id", "text", dir, batchId = 1L, upsert = true)
    assert(spark.read.parquet(s"$dir/postings").count() == preRows, "replay must not grow postings")
    assert(
      Search.conjunctiveFromIndex(spark, dir, Seq("dog"), 10).collect().map(_.toSeq).toSeq == preProbe,
      "replay must leave probes bit-identical"
    )
    // purge, then the maintained index must equal a one-shot build on
    // the FINAL versions — BM25 included (stale stats healed)
    Search.compactSearchIndex(spark, dir)
    Search.saveSearchIndex(
      Seq((1L, "fish dog dog"), (2L, "bird seed")).toDF("doc_id", "text"),
      "doc_id", "text", refDir
    )
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(
      rows(Search.bm25FromIndex(spark, dir, Seq("dog", "bird"), 10)) ==
        rows(Search.bm25FromIndex(spark, refDir, Seq("dog", "bird"), 10)),
      "upsert-maintained + compacted must equal the one-shot final-state build"
    )
    // a LATER upsert can still kill the compacted survivors (their
    // purge generation predates the new batch id)
    Search.applySearchIndexBatch(
      Seq((1L, "worm")).toDF("doc_id", "text"), "doc_id", "text", dir, batchId = 2L, upsert = true)
    assert(ids(Seq("fish")) == Set.empty[Long], "post-purge survivors must die under a newer upsert")
    assert(ids(Seq("worm")) == Set(1L))
    // a batch whose id column is not named doc_id upserts the same way
    Search.applySearchIndexBatch(
      Seq((2L, "bird song")).toDF("id", "text"), "id", "text", dir, batchId = 3L, upsert = true)
    assert(ids(Seq("seed")) == Set.empty[Long], "an upsert keyed by `id` must kill the old version")
    assert(ids(Seq("song")) == Set(2L))
  }

  test("facetCounts: exact-token AND match set; the store scan reads facet columns, never text") {
    val idxDir = tempDir("graft_facet_idx").toString
    val storeDir = tempDir("graft_facet_store").toString + "/docs"
    val docs = Seq(
      (1L, "cat dog", "en"),
      (2L, "cat dog cat", "en"),
      (3L, "cat dog", "de"),
      (4L, "cat only", "de"),    // one term — must not count
      (5L, "catalog dogma", "fr") // substrings — must not count
    ).toDF("doc_id", "text", "lang")
    Search.saveSearchIndex(docs, "doc_id", "text", idxDir)
    Search.saveDocStore(docs, "doc_id", "text", storeDir, metaCols = Seq("lang"))
    val f = Search.facetCounts(spark, idxDir, storeDir, Seq("cat", "dog"), "lang")
    val got = f.collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_hits")).toMap
    assert(got == Map("en" -> 2L, "de" -> 1L), got.toString)
    // parquet column pruning: the store scan must read (doc_id, lang),
    // never the text payload
    val plan = f.queryExecution.executedPlan.toString
    val storeScans = plan.linesIterator.filter(_.contains("docs")).mkString("\n")
    assert(!plan.contains("text"), "facet pass must never read the text column\n" + storeScans)
  }

  test("bm25PageAfter: pages partition the ranking exactly, ties cursor on doc_id, page plans top-k") {
    val dir = tempDir("graft_page_idx").toString
    // 9 scoring docs; 4-7 share IDENTICAL text → identical scores, so
    // the page boundary lands inside a tie run and the cursor must
    // discriminate on doc_id alone
    val docs = ((1L to 3L).map(i => (i, "cat " + Seq.fill(i.toInt)("pad").mkString(" "))) ++
      (4L to 7L).map(i => (i, "cat tied pad pad")) ++
      Seq((8L, "cat " + Seq.fill(9)("pad").mkString(" ")), (9L, "cat cat pad")) ++
      (10L to 14L).map(i => (i, "filler only here"))).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val all = Search.bm25FromIndex(spark, dir, Seq("cat"), 9)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
    val pages = Seq(3, 6).foldLeft(Seq(Search.bm25FromIndex(spark, dir, Seq("cat"), 3))) {
      case (acc, _) =>
        val last = acc.last.orderBy(col("rank").desc).limit(1).head()
        acc :+ Search.bm25PageAfter(
          Search.Index(spark, dir), Seq("cat"), 3, last.getAs[Long]("score_milli"), last.getAs[Long]("doc_id"))
    }
    val walked = pages.flatMap(
      _.orderBy("rank").collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli")))
    )
    assert(walked == all, s"3 keyset pages must equal the top-9 ranking\n$walked\nvs\n$all")
    // the tie run (docs 4-7, identical scores) must appear in doc_id order
    val tieScores = walked.groupBy(_._2).filter(_._2.size > 1)
    assert(tieScores.nonEmpty, "fixture must contain a tie run")
    tieScores.values.foreach(run => assert(run.map(_._1) == run.map(_._1).sorted))
    // a later page still plans the top-k heap, not a global sort
    val plan = Search.bm25PageAfter(Search.Index(spark, dir), Seq("cat"), 3, walked(5)._2, walked(5)._1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("analyzedFacetCounts recovers damaged docs the raw facet route misses; pages partition the analyzed ranking") {
    val idxDir = tempDir("graft_facet_an_idx").toString
    val storeDir = tempDir("graft_facet_an_store").toString
    val docs = Seq(
      (1L, "CAT DOG", "en"),     // uppercased damage
      (2L, "cat dog", "de"),     // clean
      (3L, "[cat] [dog]", "fr"), // bracket damage
      (4L, "cat only", "en")     // one term — excluded either way
    ).toDF("doc_id", "text", "lang")
    Search.saveSearchIndex(docs, "doc_id", "text", idxDir, analyzed = true)
    Search.saveDocStore(docs, "doc_id", "text", storeDir, metaCols = Seq("lang"))
    val an = Search.facetCounts(spark, idxDir, storeDir, Seq("CAT", "dog"), "lang", Folded)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_hits")).toMap
    assert(an == Map("en" -> 1L, "de" -> 1L, "fr" -> 1L), an.toString)
    val raw = Search.facetCounts(spark, idxDir, storeDir, Seq("cat", "dog"), "lang")
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_hits")).toMap
    assert(raw == Map("de" -> 1L), s"raw route must miss the damaged docs: $raw")
    // analyzed pages partition the analyzed ranking exactly
    val all = Search.bm25FromIndex(spark, idxDir, Seq("CAT"), 4, Folded)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
    val p1 = Search.bm25FromIndex(spark, idxDir, Seq("CAT"), 2, Folded)
    val last = p1.orderBy(col("rank").desc).limit(1).head()
    val p2 = Search.bm25PageAfter(
      Search.Index(spark, idxDir), Seq("CAT"), 2, last.getAs[Long]("score_milli"), last.getAs[Long]("doc_id"), Folded)
    val walked = (p1.orderBy("rank").collect() ++ p2.orderBy("rank").collect())
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
    assert(walked == all, s"$walked vs $all")
  }

  test("analyzedKwicPage: analyzed hit test over raw damaged tokens, page-pruned store scan") {
    val idxDir = tempDir("graft_akwic_idx").toString
    val storeDir = tempDir("graft_akwic_store").toString
    val docs = Seq(
      (1L, "CAT x CAT"),  // uppercase damage, two occurrences
      (2L, "[cat] y z"),  // bracket damage
      (3L, "dog only")    // no hit
    ).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", idxDir, analyzed = true)
    Search.saveDocStore(docs, "doc_id", "text", storeDir)
    val hits = Search.conjunctiveFromIndex(spark, idxDir, Seq("Cat"), 5, Folded)
      .select(col("rank"), col("doc_id"))
    val page = Search.kwicPage(spark, idxDir, storeDir, hits, "Cat", 1, Folded)
    val got = page.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"), r.getAs[String]("snippet")))
      .toSet
    assert(
      got == Set((1L, 1L, "CAT x"), (1L, 3L, "x CAT"), (2L, 1L, "[cat] y")),
      got.toString
    )
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("dbucket"), plan.take(2000))
  }

  test("doc-store upserts: kwicPage renders the NEW text, replay idempotent, purge physical") {
    val idxDir = tempDir("graft_store_up_idx").toString
    val storeDir = tempDir("graft_store_up").toString
    val v1 = Seq((1L, "alpha hash beta"), (2L, "hash gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "delta hash epsilon")).toDF("doc_id", "text")
    Search.applySearchIndexBatch(v1, "doc_id", "text", idxDir, batchId = 0L, upsert = true)
    Search.applyDocStoreBatch(v1, "doc_id", "text", storeDir, batchId = 0L, upsert = true)
    Search.applySearchIndexBatch(v2, "doc_id", "text", idxDir, batchId = 1L, upsert = true)
    Search.applyDocStoreBatch(v2, "doc_id", "text", storeDir, batchId = 1L, upsert = true)
    val hits = Search.conjunctiveFromIndex(spark, idxDir, Seq("hash"), 10)
      .select(col("rank"), col("doc_id"))
    val snippets = Search.kwicPage(spark, idxDir, storeDir, hits, "hash", 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("snippet")).toMap
    assert(snippets(1L) == "delta hash epsilon", s"snippet must come from the NEW version: $snippets")
    assert(snippets(2L) == "hash gamma")
    // replay of the store batch changes nothing
    val preRows = spark.read.parquet(s"$storeDir/docs").count()
    Search.applyDocStoreBatch(v2, "doc_id", "text", storeDir, batchId = 1L, upsert = true)
    assert(spark.read.parquet(s"$storeDir/docs").count() == preRows)
    // purge: old version physically gone, snippets unmoved
    Search.compactDocStore(spark, storeDir)
    assert(!new java.io.File(s"$storeDir/tombstones").exists)
    assert(
      spark.read.parquet(s"$storeDir/docs").filter(col("doc_id") === 1L).count() == 1,
      "exactly one physical row per doc after the purge"
    )
    val after = Search.kwicPage(spark, idxDir, storeDir, hits, "hash", 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("snippet")).toMap
    assert(after == snippets)
  }

  test("searchIndexStats: invariants hold fresh, expose purge backlog, heal after compaction") {
    val dir = tempDir("graft_stats_idx").toString
    val docs = Seq((1L, "a b c"), (2L, "a"), (3L, "b c")).toDF("doc_id", "text")
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    def stats() = Search.searchIndexStats(spark, dir).head()
    val s0 = stats()
    assert(s0.getAs[Long]("n_docs") == 3L && s0.getAs[Long]("total_toks") == 6L)
    assert(s0.getAs[Long]("doclen_rows") == 3L && s0.getAs[Long]("positions_rows") == 6L)
    assert(s0.getAs[Long]("postings_rows") == 6L) // distinct (token, doc) pairs
    assert(s0.getAs[Long]("tombstone_rows") == 0L)
    Search.deleteFromSearchIndex(spark, dir, Seq(2L))
    val s1 = stats()
    assert(s1.getAs[Long]("tombstone_rows") == 1L, "live tombstones = purge backlog")
    assert(s1.getAs[Long]("doclen_rows") == 3L, "physical rows untouched before the purge")
    assert(s1.getAs[Long]("n_docs") == 2L, "stats decremented exactly at delete")
    Search.compactSearchIndex(spark, dir)
    val s2 = stats()
    assert(s2.getAs[Long]("tombstone_rows") == 0L && s2.getAs[Long]("doclen_rows") == 2L)
    assert(s2.getAs[Long]("n_docs") == 2L && s2.getAs[Long]("total_toks") == 5L)
  }

  test("analyzedBatchFromIndex: AND queries equal their single-query analyzed route, OR member matches disjunctive") {
    val d = "/root/testdata/sf0.001"
    val dir = Search.demoAnalyzedIndexDir(spark, d)
    val served = Search
      .batchedSearch(
        Search.Index(spark, dir),
        Search.fixtureAnalyzedBatch.toDF("query_id", "term"),
        5,
        Some(Search.fixtureAnalyzedModes.toDF("query_id", "mode")), Folded)
      .orderBy("query_id", "rank")
      .collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))
      )
      .groupBy(_._1)
      .view
      .mapValues(_.map(t => (t._2, t._3, t._4)).toSeq)
      .toMap
    def single(terms: Seq[String], requireAll: Boolean) =
      (if (requireAll) Search.conjunctiveFromIndex(spark, dir, terms, 5, Folded)
       else Search.disjunctiveSearch(Search.Index(spark, dir), terms, 5, Folded))
      .orderBy("rank")
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
      .toSeq
    for (q <- Seq(1L, 2L)) {
      val terms = Search.fixtureAnalyzedBatch.filter(_._1 == q).map(_._2)
      assert(served.getOrElse(q, Nil) == single(terms, requireAll = true), s"AND query $q")
    }
    assert(
      served.getOrElse(3L, Nil) == single(Seq("Window.", "dup"), requireAll = false),
      "OR member must match the single-query disjunctive analyzed route"
    )
    assert(served.values.map(_.size).sum > 0)
  }

  test("no tombstones → probe plans untouched (zero-cost fast path)") {
    val dir = tempDir("graft_searchidx_notomb").toString
    Search.saveSearchIndex(Seq((1L, "cat dog")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val plan = Search.conjunctiveFromIndex(spark, dir, Seq("cat"), 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("tombstones"), "no-tombstone probes must not plan the anti-join")
    assert(!plan.contains("input_file_name"), "no-tombstone probes must not derive generations")
  }

  // ---- round 15: crash-safe merges, BM25F, as-of SERP, vocab repair --

  private def mergeFixtureDocs = Seq(
    (1L, "cat dog"),
    (2L, "cat fish"),
    (3L, "dog dog bird"),
    (4L, "cat bird")
  ).toDF("doc_id", "text")

  private def freshMergeShards(tag: String): (String, Seq[String]) = {
    val tmp = tempDir(tag).toString
    val parts = (0 until 2).map { i =>
      val p = s"$tmp/shard$i"
      Search.saveSearchIndex(mergeFixtureDocs.filter(col("doc_id") % 2 === i), "doc_id", "text", p)
      p
    }
    (tmp, parts)
  }

  test("merge recovery: stale artifacts-phase staging restarts clean; mid-move crash resumes") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())
    // (a) a crashed ARTIFACTS phase (staged dir, no _artifacts_done):
    // nothing has moved — the rerun discards it and completes
    val (tmpA, partsA) = freshMergeShards("graft_mrgrec_a")
    val destA = s"$tmpA/merged"
    fs.mkdirs(new Path(s"${destA}__merging/vocab"))
    Search.mergeSearchIndexes(spark, partsA, destA)
    val oneShot = s"$tmpA/oneshot"
    Search.saveSearchIndex(mergeFixtureDocs, "doc_id", "text", oneShot)
    def page(dir: String) = Search.bm25FromIndex(spark, dir, Seq("cat", "dog"), 10).collect().toSeq
    assert(page(destA) == page(oneShot) && page(destA).nonEmpty)
    // (b) a MID-MOVE crash (artifacts committed, one file already
    // renamed in under its source-derived name): the rerun must
    // RESUME — move the rest, commit, and serve identically
    val (tmpB, partsB) = freshMergeShards("graft_mrgrec_b")
    val destB = s"$tmpB/merged"
    val staged = s"${destB}__merging"
    // artifacts phase, replayed by hand exactly as the merge stages it
    val metas = partsB.map { p =>
      val r = spark.read.parquet(s"$p/meta").select("n_docs", "total_toks").head()
      (r.getLong(0), r.getLong(1))
    }
    fs.mkdirs(new Path(staged))
    spark.read.parquet(s"${partsB.head}/vocab") // vocab presence sanity
    // merged vocab = fold of the parts' vocab rows
    spark.read
      .parquet(partsB.map(p => s"$p/vocab"): _*)
      .groupBy(col("token"))
      .agg(sum(col("df")).cast("long").as("df"), sum(col("tf_total")).cast("long").as("tf_total"))
      .repartition(1)
      .write
      .parquet(s"$staged/vocab")
    Seq((metas.map(_._1).sum, metas.map(_._2).sum, 2L))
      .toDF("n_docs", "total_toks", "format_version")
      .coalesce(1).write.parquet(s"$staged/meta")
    graft.core.Compaction.writeTextFile(
      spark, s"$staged/${Search.mergedFromMarker}", ("raw" +: partsB).mkString("\n") + "\n")
    fs.create(new Path(staged, Search.artifactsDoneMarker), true).close()
    // move ONE postings file in, exactly as the merge names it
    val onePart = partsB.head
    val f = fs.globStatus(new Path(s"$onePart/postings/tbucket=*/*.parquet")).head.getPath
    val destDir = new Path(s"$staged/postings/${f.getParent.getName}")
    fs.mkdirs(destDir)
    assert(fs.rename(f, new Path(destDir, Search.mergedName(0, f.getName))))
    // the resume: same call, completes the move and commits
    Search.mergeSearchIndexes(spark, partsB, destB)
    assert(page(destB) == page(oneShot))
    assert(!fs.exists(new Path(staged)))
    // (c) crashed CLEANUP (dest committed, a husk part left behind):
    // the rerun deletes the husk and returns; dest untouched
    val huskPart = new Path(partsB.head)
    fs.mkdirs(new Path(s"${partsB.head}/postings"))
    Search.mergeSearchIndexes(spark, partsB, destB)
    assert(!fs.exists(huskPart) && page(destB) == page(oneShot))
    // (d) husk GUARD: a part that still holds data is NEVER deleted as
    // cleanup — rebuilding a consumed part and re-merging must refuse
    Search.saveSearchIndex(mergeFixtureDocs, "doc_id", "text", partsB.head)
    intercept[IllegalArgumentException] {
      Search.mergeSearchIndexes(spark, partsB, destB)
    }
    assert(fs.exists(huskPart), "a data-holding part must survive the refusal")
  }

  test("merge refuses mixed vocab states loudly (compaction backfills the missing one)") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())
    val (tmp, parts) = freshMergeShards("graft_mrgvocab")
    fs.delete(new Path(s"${parts.head}/vocab"), true)
    val e = intercept[IllegalArgumentException] {
      Search.mergeSearchIndexes(spark, parts, s"$tmp/merged")
    }
    assert(e.getMessage.contains("mixed vocab"), e.getMessage)
    // the advertised remedy works: backfill via compaction, merge runs
    Search.compactSearchIndex(spark, parts.head)
    Search.mergeSearchIndexes(spark, parts, s"$tmp/merged")
    val dict = Search.autocomplete(spark, s"$tmp/merged", "b", 10).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("df"))).toSeq
    assert(dict == Seq(("bird", 2L)))
  }

  test("bm25f: one field at boost 1 reduces algebraically to bm25FromIndex; boosts reorder") {
    val docs = Seq(
      (1L, "apple pie recipe", "flour sugar butter and a pinch of salt"),
      (2L, "weekly baking notes", "the apple harvest was heavy so apple pie again"),
      (3L, "garden log", "tomatoes and herbs no fruit this week"),
      (4L, "apple storage", "cellar stays cool apples keep till spring")
    ).toDF("doc_id", "title", "body")
    val tmp = tempDir("graft_bm25f").toString
    // 1-field degeneration: same docs as one 'text' field — scores must
    // EQUAL the unfielded BM25 integers (the rational form reduces)
    val flat = docs.select(col("doc_id"), concat_ws(" ", col("title"), col("body")).as("text"))
    Search.saveFieldedSearchIndex(flat, "doc_id", Seq("text"), s"$tmp/one")
    Search.saveSearchIndex(flat, "doc_id", "text", s"$tmp/plain")
    val fielded = Search.bm25fFromIndex(spark, s"$tmp/one", Seq("apple", "pie"), Seq("text" -> 1L), 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
    val plain = Search.bm25FromIndex(spark, s"$tmp/plain", Seq("apple", "pie"), 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("score_milli"))).toSeq
    assert(fielded == plain && fielded.nonEmpty, s"$fielded vs $plain")
    // two fields: a strong title boost must outrank title matches over
    // body matches (doc 1: 'apple' in title; doc 2: only in body)
    Search.saveFieldedSearchIndex(docs, "doc_id", Seq("title", "body"), s"$tmp/two")
    def top(boosts: Seq[(String, Long)]) =
      Search.bm25fFromIndex(spark, s"$tmp/two", Seq("apple"), boosts, 10)
        .collect().map(_.getAs[Long]("doc_id")).toSeq
    val titleHeavy = top(Seq("title" -> 20L, "body" -> 1L))
    assert(titleHeavy.take(2).toSet == Set(1L, 4L), s"title matches must lead: $titleHeavy")
    val bodyHeavy = top(Seq("title" -> 1L, "body" -> 20L))
    assert(bodyHeavy.head == 2L, s"the double body match must lead: $bodyHeavy")
    // guards: unknown field, non-positive boost, duplicate fields
    intercept[IllegalArgumentException] {
      Search.bm25fFromIndex(spark, s"$tmp/two", Seq("apple"), Seq("headline" -> 1L), 10)
    }
    intercept[IllegalArgumentException] {
      Search.bm25fFromIndex(spark, s"$tmp/two", Seq("apple"), Seq("title" -> 0L), 10)
    }
    intercept[IllegalArgumentException] {
      Search.bm25fFromIndex(spark, s"$tmp/two", Seq("apple"), Seq("title" -> 1L, "title" -> 2L), 10)
    }
  }

  test("as-of doc store: era text serves, kwicPageAsOf renders it, horizon ends travel") {
    val tmp = tempDir("graft_asofstore").toString
    val idx = s"$tmp/idx"
    val store = s"$tmp/store"
    val base = Seq((2L, "anchor original two")).toDF("doc_id", "text")
    val b0 = Seq((3L, "anchor original three")).toDF("doc_id", "text")
    val b1 = Seq((3L, "anchor rewritten three")).toDF("doc_id", "text")
    Search.saveSearchIndex(base, "doc_id", "text", idx)
    Search.applySearchIndexBatch(b0, "doc_id", "text", idx, 0L)
    Search.applySearchIndexBatch(b1, "doc_id", "text", idx, 1L, upsert = true)
    Search.saveDocStore(base, "doc_id", "text", store)
    Search.applyDocStoreBatch(b0, "doc_id", "text", store, 0L)
    Search.applyDocStoreBatch(b1, "doc_id", "text", store, 1L, upsert = true)
    // the store time-travels: gen 0 has the original, live the rewrite
    def texts(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val at0 = texts(Search.docStoreAsOf(spark, store, 0L))
    assert(at0 == Map(2L -> "anchor original two", 3L -> "anchor original three"), at0.toString)
    // the rendered as-of page shows the ERA's snippets
    val hits = Search.conjunctiveSearch(Search.Index(spark, idx, Some(0L)), Seq("original"), 10)
      .select(col("rank"), col("doc_id"))
    val snips = Search.kwicPageAsOf(spark, idx, store, hits, "original", 1, 0L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("snippet")).toMap
    assert(snips == Map(2L -> "anchor original two", 3L -> "anchor original three"), snips.toString)
    // compaction ends the store's travel horizon — loud refusal
    Search.compactDocStore(spark, store)
    val e = intercept[IllegalArgumentException] {
      Search.docStoreAsOf(spark, store, 0L).collect()
    }
    assert(e.getMessage.contains("travel horizon"), e.getMessage)
    // and the INDEX horizon guard likewise (round-14 advice: silently
    // wrong → loud): pre-compaction generations refuse after compaction
    Search.compactSearchIndex(spark, idx)
    val e2 = intercept[IllegalArgumentException] {
      Search.conjunctiveSearch(Search.Index(spark, idx, Some(0L)), Seq("anchor"), 10).collect()
    }
    assert(e2.getMessage.contains("travel horizon"), e2.getMessage)
    // at-or-above the horizon still serves (the live state)
    val live = Search.conjunctiveFromIndex(spark, idx, Seq("rewritten"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(live == Set(3L))
  }

  test("vocab increments consumed inside the committed swap: the crash window cannot double-count") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = tempDir("graft_vocabinc").toString
    val dir = s"$tmp/idx"
    Search.saveSearchIndex(Seq((1L, "bird cat")).toDF("doc_id", "text"), "doc_id", "text", dir)
    Search.appendToSearchIndex(Seq((2L, "bird bird")).toDF("doc_id", "text"), "doc_id", "text", dir)
    def birdStats() = Search.termStats(spark, dir, Seq("bird")).collect()
      .map(r => (r.getAs[Long]("df"), r.getAs[Long]("tf_total"))).head
    assert(birdStats() == ((2L, 3L)))
    // keep a copy of the increment the compaction will consume
    val inc = fs.globStatus(new Path(s"$dir/vocab_inc/*.parquet")).head.getPath
    val keep = new Path(s"$tmp/kept_${inc.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, inc, fs, keep, false, spark.sessionState.newHadoopConf())
    Search.compactSearchIndex(spark, dir)
    assert(birdStats() == ((2L, 3L)), "compaction must not move the stats")
    // simulate the crash BETWEEN the vocab swap and the increment
    // delete: the consumed file reappears on disk — the base already
    // counts it, and the marker must keep it excluded by name
    fs.mkdirs(new Path(s"$dir/vocab_inc"))
    org.apache.hadoop.fs.FileUtil.copy(fs, keep, fs, new Path(s"$dir/vocab_inc/${inc.getName}"),
      false, spark.sessionState.newHadoopConf())
    assert(birdStats() == ((2L, 3L)), "a consumed-but-undeleted increment must not double-count")
    // the next compaction is the physical repair: the stale file goes
    Search.compactSearchIndex(spark, dir)
    assert(!fs.exists(new Path(s"$dir/vocab_inc/${inc.getName}")))
    assert(birdStats() == ((2L, 3L)))
  }

  test("rocchio guards: duplicate and missing feedback ids fail loudly") {
    val d = "/root/testdata/sf0.001"
    val emb = Fixtures.embeddings(spark, d)
    intercept[IllegalArgumentException] {
      Similarity.rocchioTopK(emb, 0L, Seq(3L, 3L), Nil, 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.rocchioTopK(emb, 0L, Seq(3L, -999999L), Nil, 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.rocchioTopK(emb, 0L, Seq(3L), Seq(5L, 5L), 5)
    }
  }

  test("orderedSlopSearch: order matters, slop bounds, multiplicity; lattice phrase ⊆ slop ⊆ proximity") {
    val docs = Seq(
      (1L, "hash a b join"),        // distance 3 in order: in at slop 3
      (2L, "join x hash"),          // REVERSED only — ordered must exclude
      (3L, "hash a a a a join"),    // distance 5: out at slop 3
      (4L, "hash join now hash z join") // ordered within 3: (1,2), (4,6) → 2 pairs (|1→6|=5 out)
    ).toDF("doc_id", "text")
    def pairs(slop: Int) = Search.orderedSlopSearch(Search.Corpus(docs), "hash", "join", slop)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pairs")).toMap
    assert(pairs(3) == Map(1L -> 1L, 4L -> 2L), pairs(3).toString)
    assert(pairs(1) == Map(4L -> 1L), "slop 1 is exact adjacency")
    val d = "/root/testdata/sf0.001"
    val corpus = SparkEntry.queries("search_phrase_slop")(spark, d).collect().toSeq
    val index = SparkEntry.queries("search_phrase_slop_index")(spark, d).collect().toSeq
    assert(corpus.nonEmpty && corpus == index)
    // lattice on the shared fixture pair: exact phrase ⊆ ordered slop ⊆ unordered proximity
    val phrase = SparkEntry.queries("search_phrase")(spark, d).collect().map(_.getAs[Long]("doc_id")).toSet
    val slop = corpus.map(_.getAs[Long]("doc_id")).toSet
    val prox = SparkEntry.queries("search_proximity")(spark, d).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(phrase.subsetOf(slop) && slop.subsetOf(prox))
  }

  test("boostedSearchFromIndex: uniform boost 1 ≡ disjunctive ×1; a boost actually reorders") {
    val docs = Seq(
      (1L, "rare x"),          // rare once
      (2L, "common common common"), // common thrice
      (3L, "common rare")      // both
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_boost").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val plain = Search.disjunctiveSearch(Search.Index(spark, dir), Seq("rare", "common"), 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))).toMap
    val unit = Search.boostedSearchFromIndex(spark, dir, Seq("rare" -> 1L, "common" -> 1L), 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))).toMap
    assert(unit == plain, "boost 1 everywhere must be the plain disjunctive scores")
    // boosting the common term 100× must put the common-heavy doc first
    val boosted = Search.boostedSearchFromIndex(spark, dir, Seq("rare" -> 1L, "common" -> 100L), 10)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(boosted.head == 2L, boosted.mkString(","))
    intercept[IllegalArgumentException] {
      Search.boostedSearchFromIndex(spark, dir, Seq("a" -> 1L, "a" -> 2L), 5)
    }
    intercept[IllegalArgumentException] {
      Search.boostedSearchFromIndex(spark, dir, Seq("a" -> 0L), 5)
    }
  }

  test("rangeFacetCounts: histogram buckets and totals; empty-match set yields no rows") {
    val docs = Seq(
      (1L, "cat dog " + Seq.fill(30)("pad").mkString(" ")), // dl 32 → bucket 32
      (2L, "cat dog"),                                      // dl 2 → bucket 0
      (3L, "cat only here"),                                // not in AND match set
      (4L, "dog cat x")                                     // dl 3 → bucket 0
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_rfacet").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val got = Search.rangeFacetCounts(spark, dir, Seq("cat", "dog"), 32L)
      .collect().map(r => r.getAs[Long]("range_lo") -> r.getAs[Long]("n_hits")).toMap
    assert(got == Map(0L -> 2L, 32L -> 1L), got.toString)
    assert(Search.rangeFacetCounts(spark, dir, Seq("cat", "zzz"), 32L).collect().isEmpty)
  }

  test("groupedTopK: per-group cap binds; cap ≥ k reduces to the plain BM25 page") {
    val d = "/root/testdata/sf0.001"
    val grouped = SparkEntry.queries("search_grouped_topk")(spark, d).collect()
    assert(grouped.nonEmpty)
    val perLang = grouped.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    assert(perLang.values.forall(_ <= 3), perLang.toMap.toString)
    // ranks are 1..n dense and ordered by (score desc, doc_id asc)
    val ranks = grouped.map(_.getAs[Long]("rank")).toSeq
    assert(ranks == (1L to ranks.size).toSeq)
    val scores = grouped.map(r => (-r.getAs[Long]("score_milli"), r.getAs[Long]("doc_id"))).toSeq
    assert(scores == scores.sorted)
  }

  test("regexSearchFromIndex: vocab expansion capped, anchored pattern, no-match is empty") {
    val docs = Seq(
      (1L, "scan scan scan"),
      (2L, "spark here"),
      (3L, "small stuff"),
      (4L, "other words")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_rx").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    // ^s.a matches scan/spark/small (not stuff: s-t-u); cap 2 keeps the
    // two commonest (scan df 1, small df 1, spark df 1 — ties to token
    // asc: scan, small)
    val hits = Search.regexSearchFromIndex(spark, dir, "^s.a.*", 2, 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits == Set(1L, 3L), hits.toString)
    assert(Search.regexSearchFromIndex(spark, dir, "^zzz", 5, 10).collect().isEmpty)
  }

  test("rrfFuseWeighted: all-ones reduces to rrfFuse; a weight reorders a conflicted fusion") {
    val a = Seq((10L, 1L), (20L, 2L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (10L, 2L)).toDF("id", "rank")
    val plain = Search.rrfFuse(Seq("x" -> a, "y" -> b))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rrf_micro")).toMap
    val ones = Search.rrfFuseWeighted(Seq(("x", a, 1L), ("y", b, 1L)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rrf_micro")).toMap
    assert(plain == ones)
    // symmetric ranks → tied fusion; weighting list x must break the
    // tie toward x's winner
    assert(plain(10L) == plain(20L))
    val weighted = Search.rrfFuseWeighted(Seq(("x", a, 2L), ("y", b, 1L)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rrf_micro")).toMap
    assert(weighted(10L) > weighted(20L), weighted.toString)
    intercept[IllegalArgumentException] {
      Search.rrfFuseWeighted(Seq(("x", a, 0L)))
    }
  }

  test("fieldedTermSearch: body-only mentions neither match nor score; unknown field fails") {
    val docs = Seq(
      (1L, "hash table", "body words here"),  // hash in title
      (2L, "other title", "hash in the body"), // hash ONLY in body
      (3L, "hash hash", "more text")           // hash twice in title
    ).toDF("doc_id", "title", "body")
    val dir = tempDir("graft_fscope").toString + "/idx"
    Search.saveFieldedSearchIndex(docs, "doc_id", Seq("title", "body"), dir)
    val got = Search.fieldedTermSearch(spark, dir, "title", Seq("hash"), 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
    assert(got.map(_._1).toSet == Set(1L, 3L), got.mkString(","))
    // tf 2 in title must outscore tf 1 (same idf)
    val byDoc = got.toMap
    assert(byDoc(3L) == 2 * byDoc(1L))
    intercept[IllegalArgumentException] {
      Search.fieldedTermSearch(spark, dir, "abstract", Seq("hash"), 5)
    }
  }

  test("hitCounts: AND/OR cardinalities from one pruned read") {
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "cat only"),
      (3L, "dog only"),
      (4L, "neither")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_hc").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val r = Search.hitCounts(spark, dir, Seq("cat", "dog")).collect().head
    assert(r.getAs[Long]("n_and") == 1L && r.getAs[Long]("n_or") == 3L, r.toString)
  }

  test("searchWithAutoCorrect: hits keep the typed term; zero hits retry the top correction") {
    val docs = Seq(
      (1L, "query planner docs"),
      (2L, "query engine"),
      (3L, "other words")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_ac").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    // exact term with hits: no correction
    val exact = Search.searchWithAutoCorrect(spark, dir, "query", 2, 10).collect()
    assert(exact.nonEmpty && exact.forall(_.getAs[String]("term_used") == "query"))
    // typo: zero exact hits -> corrected to "query" (dist 1)
    val fixed = Search.searchWithAutoCorrect(spark, dir, "quer", 2, 10).collect()
    assert(fixed.nonEmpty && fixed.forall(_.getAs[String]("term_used") == "query"))
    assert(fixed.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    // hopeless typo: no correction within distance -> empty page
    assert(Search.searchWithAutoCorrect(spark, dir, "zzzzzzzzzzzz", 2, 10).collect().isEmpty)
  }

  test("searchWithAutoCorrectMulti: only dead terms correct; hopeless terms stay inert") {
    val docs = Seq(
      (1L, "query planner cost"),
      (2L, "query engine"),
      (3L, "planner only")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_acm").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    // 'planner' alive (must NOT be touched even though 'planter' would
    // be within distance); 'quer' dead -> corrects to 'query'
    val got = Search.searchWithAutoCorrectMulti(spark, dir, Seq("planner", "quer"), 2, 10)
      .collect()
    assert(got.nonEmpty && got.forall(_.getAs[String]("terms_used") == "planner query"))
    assert(got.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    // a hopeless dead term stays as-is and contributes nothing
    val inert = Search.searchWithAutoCorrectMulti(spark, dir, Seq("planner", "zzzzzzzzzzzz"), 2, 10)
      .collect()
    assert(inert.forall(_.getAs[String]("terms_used") == "planner zzzzzzzzzzzz"))
    assert(inert.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
    intercept[IllegalArgumentException](
      Search.searchWithAutoCorrectMulti(spark, dir, Seq("a", "a"), 2, 10)
    )
  }

  test("parseQueryString: every clause kind parses; malformed clauses fail loudly") {
    val pq = Search.parseQueryString("+dup window^3 -merge \"hash join\"")
    assert(pq.must == Seq("dup" -> 1L))
    assert(pq.should == Seq("window" -> 3L))
    assert(pq.mustNot == Seq("merge"))
    assert(pq.phrases == Seq(Seq("hash", "join")))
    intercept[IllegalArgumentException](Search.parseQueryString("-\"a b\""))
    intercept[IllegalArgumentException](Search.parseQueryString("term^0"))
    intercept[IllegalArgumentException](Search.parseQueryString("-merge^2"))
    intercept[IllegalArgumentException](Search.parseQueryString("\"single\""))
    // unterminated phrase: the clause regex would silently read the
    // tail as bare terms — must reject like Lucene's QueryParser
    intercept[IllegalArgumentException](Search.parseQueryString("\"hash join"))
    intercept[IllegalArgumentException](Search.parseQueryString("dup \"hash join -x"))
  }

  test("parseQueryString: field/fuzzy/wildcard/range clauses parse; subset boundary is loud") {
    val pq = Search.parseQueryString("title:spark^2 quey~1 wild*c?rd^3 len:[32 TO 63] dup~")
    assert(pq.fieldTerms == Seq(("title", "spark", 2L)))
    assert(pq.fuzzy == Seq(("quey", 1, 1L), ("dup", 2, 1L))) // bare ~ = Lucene's default 2
    assert(pq.wildcards == Seq("wild*c?rd" -> 3L))
    assert(pq.ranges == Seq(32L -> 63L))
    assert(pq.must.isEmpty && pq.should.isEmpty && pq.mustNot.isEmpty)
    // malformed / out-of-subset clauses fail loudly, never parse as bare terms
    intercept[IllegalArgumentException](Search.parseQueryString("len:[63 TO 32]")) // empty range
    intercept[IllegalArgumentException](Search.parseQueryString("len:[32 TO]")) // malformed range
    intercept[IllegalArgumentException](Search.parseQueryString("dl:[1 TO 2]")) // unknown range field
    intercept[IllegalArgumentException](Search.parseQueryString("quey~3")) // dist > 2
    intercept[IllegalArgumentException](Search.parseQueryString("+title:spark")) // +/- on field
    intercept[IllegalArgumentException](Search.parseQueryString("-quey~1")) // +/- on fuzzy
    intercept[IllegalArgumentException](Search.parseQueryString("+wi*ld")) // +/- on wildcard
    intercept[IllegalArgumentException](Search.parseQueryString("title:wi*ld")) // nested wildcard
    intercept[IllegalArgumentException](Search.parseQueryString("sp?rk~1")) // nested fuzzy
  }

  test("searchQueryString: field clause without a fielded dir and rangeless scoring guards") {
    val docs = Seq((1L, "dup alpha beta"), (2L, "window gamma")).toDF("doc_id", "text")
    val dir = tempDir("graft_qs").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val e = intercept[IllegalArgumentException](
      Search.searchQueryString(spark, dir, "dup title:window", 10)
    )
    assert(e.getMessage.contains("no fielded index dir"))
    // range/not-only queries have nothing to score — loud, not empty
    intercept[IllegalArgumentException](Search.searchQueryString(spark, dir, "len:[1 TO 9]", 10))
    // a range clause gates the scored page on the doclen relation:
    // doc 1 is 3 tokens, doc 2 is 2 tokens
    assert(Search.searchQueryString(spark, dir, "dup window len:[4 TO 9]", 10).collect().isEmpty)
    val kept3 = Search.searchQueryString(spark, dir, "dup window len:[3 TO 3]", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept3 == Set(1L))
    val keptBoth = Search.searchQueryString(spark, dir, "dup window len:[2 TO 3]", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptBoth == Set(1L, 2L))
    // a fuzzy/wildcard-only query whose expansion finds NO dictionary
    // term rewrites to nothing (Lucene's empty rewrite): empty page,
    // page schema intact — not a crash
    val none = Search.searchQueryString(spark, dir, "zzzzzzzzzzzzzz~1 qqq*zzz", 10)
    assert(none.columns.toSeq == Seq("rank", "doc_id", "score_micro") && none.count() == 0)
  }

  test("lowerRegexLiterals: literals fold, backslash escapes survive") {
    assert(Search.lowerRegexLiterals("^S.A.*") == "^s.a.*")
    assert(Search.lowerRegexLiterals("\\Wend\\S\\D") == "\\Wend\\S\\D".replace("end", "end"))
    assert(Search.lowerRegexLiterals("A\\WB\\SC\\D") == "a\\Wb\\Sc\\D")
    assert(Search.lowerRegexLiterals("X\\\\Y") == "x\\\\y")
  }

  test("regexSearchFromIndex: whole-term anchoring (RegexpQuery semantics)") {
    val docs = Seq((1L, "spa span spanner respan"), (2L, "spa xyz")).toDF("doc_id", "text")
    val dir = tempDir("graft_rx").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    // 's.a' must match ONLY the three-char token 'spa' — unanchored
    // rlike would also expand span/spanner/respan
    val hits = Search.regexSearchFromIndex(spark, dir, "s.a", 10, 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits == Set(1L, 2L))
    val wide = Search.regexSearchFromIndex(spark, dir, "s.an.*", 10, 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(wide == Set(1L)) // span, spanner — doc 1 only; respan does NOT match (anchored)
  }

  test("hitCounts: duplicate terms dedupe instead of zeroing n_and") {
    val docs = Seq((1L, "dup spark x"), (2L, "dup y")).toDF("doc_id", "text")
    val dir = tempDir("graft_hc").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val r = Search.hitCounts(spark, dir, Seq("dup", "spark", "dup")).head()
    assert(r.getAs[Long]("n_and") == 1L && r.getAs[Long]("n_or") == 2L)
    // the term routes apply the same rule: a repeated term neither
    // double-counts n_matched/score nor makes the AND gate unreachable
    val routes: Seq[(String, Seq[String] => org.apache.spark.sql.DataFrame)] = Seq(
      "conjunctiveSearch" -> (t => Search.conjunctiveSearch(Search.Corpus(docs), t, 10)),
      "disjunctiveSearch" -> (t => Search.disjunctiveSearch(Search.Corpus(docs), t, 10)),
      "conjunctiveFromIndex" -> (t => Search.conjunctiveFromIndex(spark, dir, t, 10)),
      "disjunctiveFromIndex" -> (t => Search.disjunctiveSearch(Search.Index(spark, dir), t, 10))
    )
    routes.foreach { case (name, route) =>
      def page(t: Seq[String]) = route(t).collect().map(_.toSeq).toSeq
      val once = page(Seq("dup"))
      assert(once.size == 2, s"$name: $once")
      assert(page(Seq("dup", "dup")) == once, s"$name: a repeated term must answer like the single term")
    }
  }

  test("chunk cid composition fails loudly when chunk_no would alias past chunkIdBase") {
    // 1 token per chunk × 1001 tokens -> chunk_no reaches 1000 = chunkIdBase
    val long = Seq.fill(1001)("t").mkString(" ")
    val docs = Seq((7L, long)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      val chunks = Search.Corpus(Search.chunkedDocs(docs, "doc_id", "text", 1), "cid", "ctext")
      Search.chunkBm25TopK(chunks, Seq("t"), 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("chunkIdBase")), e.toString)
  }

  test("searchQueryString: must gates, boost scores, must-not excludes, phrase filters") {
    val docs = Seq(
      (1L, "dup hash join x"),       // hit: must + phrase, no window
      (2L, "dup window hash join"),  // hit: window^3 boosts it above doc 1
      (3L, "dup hash join merge"),   // excluded: must-not
      (4L, "window hash join"),      // excluded: must term absent
      (5L, "dup window join hash")   // excluded: phrase reversed
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_qs").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir)
    val got = Search.searchQueryString(spark, dir, "+dup window^3 -merge \"hash join\"", 10)
      .orderBy("rank").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(got == Seq(2L, 1L), got.mkString(","))
    // a pure should query reduces to the boosted disjunctive route
    val plain = Search.boostedSearchFromIndex(spark, dir, Seq("dup" -> 1L, "window" -> 3L), 10)
      .collect().toSeq
    val qs = Search.searchQueryString(spark, dir, "dup window^3", 10).collect().toSeq
    assert(qs == plain)
    intercept[IllegalArgumentException] {
      Search.searchQueryString(spark, dir, "-merge", 10) // no scoring clause
    }
  }

  test("chunkBm25TopK: a doc ranks by its BEST window, not its average; corpus ≡ index") {
    val doc1 = (Seq.fill(16)("x") ++ Seq("cat", "cat", "cat") ++ Seq.fill(13)("y")).mkString(" ")
    val doc2 = (Seq("cat") ++ Seq.fill(15)("z") ++ Seq("cat") ++ Seq.fill(15)("w")).mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val chunks = Search.Corpus(Search.chunkedDocs(docs, "doc_id", "text", 16), "cid", "ctext")
    val got = Search.chunkBm25TopK(chunks, Seq("cat"), 10)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_no")))
    // doc 1's second window holds tf=3 at dl=16 — beats doc 2's best
    // (tf=1 windows); the winning chunk pointer is window 1 (0-based)
    assert(got.head == ((1L, 1L)), got.mkString(","))
    assert(got.map(_._1).toSet == Set(1L, 2L))
    // fixture corpus: the index-served route must equal the corpus pass
    val d = "/root/testdata/sf0.001"
    val corpus = SparkEntry.queries("search_chunk_bm25")(spark, d).collect().toSeq
    val index = SparkEntry.queries("search_chunk_bm25_index")(spark, d).collect().toSeq
    assert(corpus.nonEmpty && corpus == index)
  }

  test("analyzedOrderedSlopFromIndex: damaged docs match in order within slop, analyzed positions") {
    val docs = Seq(
      (1L, "HASH A B JOIN"),      // uppercased: analyzer folds, distance 3 in order
      (2L, "[join] [x] [hash]"),  // bracketed AND reversed — must be excluded
      (3L, "hash, join!")         // edge punct strips, adjacent in the analyzed stream
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_aslop").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir, analyzed = true)
    val got = Search.orderedSlopSearch(Search.Index(spark, dir), "Hash", "JOIN", 3, Folded)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pairs")).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L), got.toString)
    intercept[IllegalArgumentException] {
      Search.orderedSlopSearch(Search.Index(spark, dir), "!!!", "join", 3, Folded)
    }
  }

  test("bestPassages: anchored-window argmax, earliest-start tie, snippet slice") {
    val docs = Seq(
      // terms at 0-based 0 and 2: window 4 from start 0 holds both
      (1L, "cat a dog b e f g h"),
      // terms far apart: best window holds only one occurrence
      (2L, "cat a b c d e f g h i j dog"),
      (3L, "nothing here")
    ).toDF("doc_id", "text")
    val idxDir = tempDir("graft_bp").toString + "/idx"
    val storeDir = tempDir("graft_bp").toString + "/store"
    Search.saveSearchIndex(docs, "doc_id", "text", idxDir)
    Search.saveDocStore(docs, "doc_id", "text", storeDir)
    val got = Search.bestPassages(spark, idxDir, storeDir, Seq("cat", "dog"), 4, 5)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start"), r.getAs[String]("snippet")))
    // doc 1's best window covers both terms (score 2 idf-units) and
    // starts AT the first match (1-based 1); doc 2's best holds one
    // term — tie between the two anchors breaks to the earliest
    val byDoc = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byDoc(1L) == ((1L, "cat a dog b")), byDoc.toString)
    assert(byDoc(2L)._1 == 1L, "equal-score anchors must tie to the earliest start")
    assert(!byDoc.contains(3L))
    // rank 1 is the two-term doc (higher summed idf)
    val ranked = Search.bestPassages(spark, idxDir, storeDir, Seq("cat", "dog"), 4, 5)
      .orderBy("rank").collect()
    assert(ranked.head.getAs[Long]("doc_id") == 1L)
  }

  /** Jobs started while `body` runs on this thread, as each job's task
    * count: the job group tags them (AQE's pool threads inherit it) and
    * a marker job in the same group, seen last, flushes the listener bus.
    */
  private def jobTasks(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.add((Option(e.properties.getProperty("spark.job.description")).getOrElse(""), e.stageInfos.map(_.numTasks).sum))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.{Seconds, Span}
      eventually(timeout(Span(30, Seconds)))(assert(seen.stream().anyMatch(_._1 == "marker")))
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.filter(_._1 != "marker").map(_._2)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("index probes list only their terms' bucket dirs and run request-sized scans as one partition") {
    import Search.Analyzer.Raw
    // up to 1,200 distinct tokens: every one of the 64 token-hash buckets
    // is occupied in every tier (asserted), so a whole-root read would
    // list 64 dirs
    val docs = (1L to 400L)
      .map(i => (i, (0 until 9).map(j => (i * 37 + j * 131) % 1200).map(t => if (t % 3 == 0) s"W$t," else s"w$t").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = tempDir("graft_probe_shape").toString + "/idx"
    Search.saveSearchIndex(docs, "doc_id", "text", dir, analyzed = true)
    Seq(Raw, Folded).flatMap(a => Seq(a.postings, a.positions)).foreach { rel =>
      val n = new java.io.File(s"$dir/$rel").listFiles().count(_.getName.startsWith("tbucket="))
      assert(n == 64, s"$rel has $n bucket dirs")
    }
    val idx = Search.Index(spark, dir)
    val doc7 = docs.filter(col("doc_id") === 7L).head().getString(1).split(" ").toSeq
    val (terms, phrase) = (doc7.take(2), doc7.slice(2, 4))
    val routes: Seq[(String, Search.Analyzer, Seq[String], Int, () => org.apache.spark.sql.DataFrame)] =
      Seq(Raw, Folded).flatMap { a =>
        Seq(
          ("bm25", a, terms, 3, () => Search.bm25Search(idx, terms, 10, a)),
          ("conj", a, terms, 3, () => Search.conjunctiveSearch(idx, terms, 10, a)),
          ("phrase", a, phrase, 4, () => Search.phraseSearch(idx, phrase, a))
        )
      }
    routes.foreach { case (name, a, ts, maxJobs, route) =>
      val what = s"$name/$a"
      val buckets = ts.map(a.term).map(Search.tokenBucket).toSet
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = jobTasks { df = route(); assert(df.collect().nonEmpty, what) }
      assert(jobs.forall(_ < 32), s"$what: a job of >= 32 tasks lists the whole relation: $jobs")
      assert(jobs.size <= maxJobs, s"$what: ${jobs.size} jobs > $maxJobs: $jobs")
      val files = df.inputFiles.toSeq
      assert(files.nonEmpty, what)
      files.foreach { f =>
        val b = "/tbucket=(\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toLong)
        assert(f.contains(dir) && b.exists(buckets), s"$what read $f outside its buckets $buckets")
      }
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"), plan.take(2000))
    }
    // the one-partition path depends on input size: below the listed
    // bytes the scan keeps its splits and the route its exchanges
    val shuffle = "\\bExchange\\b".r
    def bm25Plan() = Search.bm25Search(idx, terms, 10).queryExecution.executedPlan.toString
    assert(shuffle.findFirstIn(bm25Plan()).isEmpty, bm25Plan())
    val bytes = Search.bm25Search(idx, terms, 10).inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (bytes - 1).toString)
    try assert(shuffle.findFirstIn(bm25Plan()).nonEmpty, bm25Plan())
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("index probes see every maintenance op at once; absent buckets and raw-only folded probes behave as before") {
    import Search.Analyzer.Raw
    val dir = tempDir("graft_probe_fresh").toString + "/idx"
    val base = Seq(
      (1L, "Red fox jumps over the lazy dog"),
      (2L, "the red fox sleeps"),
      (3L, "a lazy dog, a red fox.")
    )
    val baseBuckets = (for {
      a <- Seq(Raw, Folded); (_, t) <- base; w <- t.split(" ") if a.term(w).nonEmpty
    } yield Search.tokenBucket(a.term(w))).toSet
    // a term whose bucket dir no tier of the base index has
    val novel = Iterator.from(0).map(i => s"novel$i").find(t => !baseBuckets(Search.tokenBucket(t))).get
    val phrase = Seq("red", "fox")
    var docs = base
    def answers(src: Search.Source, a: Search.Analyzer) = (
      Search.phraseSearch(src, phrase, a).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      Search.conjunctiveSearch(src, Seq("lazy", novel), 100, a).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq,
      Search.bm25Search(src, Seq(novel), 100, a).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    )
    def agrees(step: String): Unit = Seq(Raw, Folded).foreach { a =>
      val want = answers(Search.Corpus(docs.toDF("doc_id", "text")), a)
      assert(answers(Search.Index(spark, dir), a) == want, s"after $step under $a")
    }
    Search.saveSearchIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir, analyzed = true)
    agrees("build")
    // absent bucket dir: empty rows with the route's schema
    val empty = Search.bm25Search(Search.Index(spark, dir), Seq(novel), 10)
    assert(empty.collect().isEmpty)
    assert(empty.schema.map(f => (f.name, f.dataType)) ==
      Search.bm25Search(Search.Index(spark, dir), Seq("fox"), 10).schema.map(f => (f.name, f.dataType)))
    assert(Search.phraseSearch(Search.Index(spark, dir), Seq(novel, novel + "x")).collect().isEmpty)
    val added = Seq((4L, s"the RED fox met $novel and a lazy cat"))
    Search.appendToSearchIndex(added.toDF("doc_id", "text"), "doc_id", "text", dir, analyzed = true)
    docs ++= added
    agrees("append")
    val batch0 = Seq((5L, s"lazy $novel red fox"))
    Search.applySearchIndexBatch(batch0.toDF("doc_id", "text"), "doc_id", "text", dir, 0L, analyzed = true)
    docs ++= batch0
    agrees("apply batch")
    val atGen0 = docs
    val upsert = Seq((2L, s"the red fox is $novel and lazy"))
    Search.applySearchIndexBatch(upsert.toDF("doc_id", "text"), "doc_id", "text", dir, 1L, analyzed = true, upsert = true)
    docs = docs.filterNot(_._1 == 2L) ++ upsert
    agrees("upsert")
    // time travel: generation 0 serves the state before the upsert
    val asOf = Search.conjunctiveSearch(Search.Index(spark, dir, Some(0L)), Seq("red", "fox"), 100)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(asOf == Search.conjunctiveSearch(Search.Corpus(atGen0.toDF("doc_id", "text")), Seq("red", "fox"), 100)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq)
    Search.deleteFromSearchIndex(spark, dir, Seq(1L, 4L))
    docs = docs.filterNot(d => d._1 == 1L || d._1 == 4L)
    agrees("delete")
    Search.compactSearchIndex(spark, dir)
    agrees("compact")
    docs = Seq((9L, s"red fox $novel lazy"), (10L, "Lazy red FOX"))
    Search.saveSearchIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir, analyzed = true)
    agrees("rebuild")
    // a folded probe on a raw-only index still fails loudly
    val raw = tempDir("graft_probe_raw").toString + "/idx"
    Search.saveSearchIndex(base.toDF("doc_id", "text"), "doc_id", "text", raw)
    intercept[IllegalStateException](Search.bm25Search(Search.Index(spark, raw), Seq("fox"), 10, Folded))
    Seq(
      Folded.postings -> (() => Search.conjunctiveSearch(Search.Index(spark, raw), Seq("fox"), 10, Folded)),
      Folded.positions -> (() => Search.phraseSearch(Search.Index(spark, raw), phrase, Folded))
    ).foreach { case (rel, route) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](route().collect())
      assert(e.getMessage.contains(s"$raw/$rel"), e.getMessage)
    }
  }
}
