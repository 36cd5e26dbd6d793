package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.EveryRun

/** Byte-pair-encoding vocabulary TRAINING (Sennrich, Haddow & Birch,
  * ACL 2016) — the tokenizer-training stage of a training-data
  * pipeline, distributed the way BPE actually distributes:
  *
  *   - The corpus collapses ONCE into a word-frequency dictionary
  *     (distinct words × counts — metadata-scale next to the corpus;
  *     the classic implementations train on exactly this dict). Every
  *     word becomes its character symbols plus a final `</w>` marker.
  *   - Each merge round is ONE distributed aggregation: adjacent
  *     symbol pairs explode out of the dict weighted by word
  *     frequency (overlapping occurrences counted, the paper's
  *     `get_stats`), and the argmax pair — ties broken (freq DESC,
  *     left ASC, right ASC) so training is deterministic — comes back
  *     as a single row. Only that 1-row argmax ever reaches the
  *     driver; the dict itself never does.
  *   - The merge applies to every word as one codegen'd higher-order
  *     `aggregate` fold (greedy left-to-right non-overlapping — the
  *     `prev` accumulator trick; a merged symbol can never re-match
  *     the same rule because `a ++ b` is textually distinct from both
  *     sides). Per-round `localCheckpoint` keeps the plan flat and
  *     the superseded round's cache is released immediately
  *     ([[GraphDedup.releaseCheckpoints]] discipline).
  *
  * Encoding with the learned table is inherently per-word imperative
  * (repeatedly merge the lowest-rank pair — the reference
  * `apply_bpe`), so it runs as `mapPartitions` over a broadcast rank
  * map with a per-partition word cache: the one place in this family
  * where imperative code genuinely beats expressions (SURVEY.md §7's
  * escape hatch), and it stays map-side — no shuffle, no driver data.
  */
object BpeTrain {
  import Fixtures._

  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** (word, freq, syms) dictionary: chars + `</w>`. */
  def wordDict(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .withColumn(
        "syms",
        expr("array_append(transform(sequence(1, length(word)), i -> substring(word, i, 1)), '</w>')")
      )

  /** Adjacent-pair frequencies over the current dict. */
  private def pairCounts(dict: DataFrame): DataFrame =
    dict
      .select(
        col("freq"),
        explode(
          when(
            size(col("syms")) >= 2,
            expr("transform(sequence(0, size(syms) - 2), i -> named_struct('l', syms[i], 'r', syms[i + 1]))")
          ).otherwise(expr("CAST(array() AS array<struct<l:string,r:string>>)"))
        ).as("p")
      )
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("freq")).cast("bigint").as("pair_freq"))

  /** One greedy left-to-right merge pass of (a,b) → a++b over a
    * symbol array, as a single `aggregate` fold.
    */
  private def mergeExpr(a: String, b: String): String = {
    val (la, lb, lab) = (sqlLit(a), sqlLit(b), sqlLit(a + b))
    s"""aggregate(
       |  syms,
       |  named_struct('o', CAST(array() AS array<string>), 'p', CAST(NULL AS string)),
       |  (acc, x) -> CASE
       |    WHEN acc.p IS NULL THEN named_struct('o', acc.o, 'p', x)
       |    WHEN acc.p = $la AND x = $lb THEN named_struct('o', acc.o, 'p', $lab)
       |    ELSE named_struct('o', array_append(acc.o, acc.p), 'p', x) END,
       |  acc -> CASE WHEN acc.p IS NULL THEN acc.o ELSE array_append(acc.o, acc.p) END)""".stripMargin
  }

  /** The training loop: merge list + the final merged dict (callers
    * must release the dict's checkpoint when done with it).
    */
  /** Checkpoint cadence of [[trainLoop]]: between checkpoints the
    * per-round merge is a LAZY projection chained onto the last pinned
    * dict, so each round runs ONE Spark job (the pair-count argmax)
    * instead of two (argmax + eager dict materialization — r16 profile:
    * 24 jobs for 12 rounds, half of them job-floor-bound dict pins).
    * The argmax job re-applies at most `cpEvery − 1` codegen'd merge
    * folds on top of the pinned dict — map-side work over the
    * word-frequency dict (distinct words: metadata-scale next to the
    * corpus at any SF), bounded by the cadence so lineage never grows
    * past a handful of projections.
    */
  private val cpEvery = 6

  private def trainLoop(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minFreq: Long
  ): (Seq[(Long, String, String, Long)], DataFrame) = {
    var pinned = wordDict(docs, textCol).localCheckpoint(true)
    var dict = pinned
    var sinceCp = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (rank <= numMerges && !done) {
      // 1-row argmax — the only data that ever reaches the driver
      val best = pairCounts(dict)
        .orderBy(desc("pair_freq"), asc("left"), asc("right"))
        .limit(1)
        .collect()
      best.headOption.filter(_.getLong(2) >= minFreq) match {
        case Some(r) =>
          val (a, b, f) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += ((rank, a, b, f))
          dict = dict.withColumn("syms", expr(mergeExpr(a, b)))
          sinceCp += 1
          if (sinceCp >= cpEvery) {
            val next = dict.localCheckpoint(true)
            GraphDedup.releaseCheckpoints(pinned)
            pinned = next
            dict = next
            sinceCp = 0
          }
          rank += 1
        case None => done = true
      }
    }
    // pin the final dict iff merges are dangling past the last
    // checkpoint, so callers aggregate bytes, not a re-run fold chain
    val finalDict =
      if (sinceCp == 0) dict
      else {
        val next = dict.localCheckpoint(true)
        GraphDedup.releaseCheckpoints(pinned)
        next
      }
    (merges.toSeq, finalDict)
  }

  /** Learn `numMerges` merges; stops early when the best pair drops
    * under `minFreq`. Returns (rank, left, right, pair_freq).
    */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int, minFreq: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, dict) = trainLoop(docs, textCol, numMerges, minFreq)
    GraphDedup.releaseCheckpoints(dict)
    merges.toDF("rank", "left", "right", "pair_freq")
  }

  /** The trained SYMBOL VOCABULARY — the artifact a tokenizer ships:
    * every surviving symbol with its corpus occurrence count (word
    * frequency × per-word occurrences). Alphabet-plus-merges-sized.
    */
  def symbolVocab(docs: DataFrame, textCol: String, numMerges: Int, minFreq: Long = 2L): DataFrame = {
    val (_, dict) = trainLoop(docs, textCol, numMerges, minFreq)
    val vocab = dict
      .select(col("freq"), explode(col("syms")).as("symbol"))
      .groupBy("symbol")
      .agg(sum(col("freq")).cast("bigint").as("n_occurrences"))
      .localCheckpoint(true)
    GraphDedup.releaseCheckpoints(dict)
    vocab
  }

  /** Reference `apply_bpe` encode: repeatedly merge the lowest-rank
    * pair present until none applies. Pure, driver-free — runs inside
    * mapPartitions against the broadcast rank map.
    */
  /** One greedy left-to-right non-overlapping merge pass of (a,b) —
    * the Scala twin of [[mergeExpr]]'s SQL fold (same prev-accumulator
    * construction; BpeProps pins their shared invariants).
    */
  private[ops] def mergePass(syms: Vector[String], a: String, b: String): Vector[String] = {
    val ab = a + b
    val out = Vector.newBuilder[String]
    var prev: String = null
    syms.foreach { x =>
      if (prev == null) prev = x
      else if (prev == a && x == b) prev = ab
      else { out += prev; prev = x }
    }
    if (prev != null) out += prev
    out.result()
  }

  private[ops] def encodeSymbols(word: String, ranks: Map[(String, String), Long]): Vector[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector :+ "</w>"
    var go = true
    while (go && syms.length >= 2) {
      var bestRank = Long.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Long.MaxValue)
        if (r < bestRank) { bestRank = r; bi = i }
        i += 1
      }
      if (bi < 0) go = false
      else syms = mergePass(syms, syms(bi), syms(bi + 1))
    }
    syms
  }

  private[ops] def encodeLen(word: String, ranks: Map[(String, String), Long]): Int =
    encodeSymbols(word, ranks).length

  /** Per-doc BPE token counts with a per-partition word cache (word
    * salad repeats heavily; production corpora even more so).
    */
  def encodeStats(docs: DataFrame, merges: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges
      .select(col("left"), col("right"), col("rank").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val bc = spark.sparkContext.broadcast(ranks)
    docs
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { iter =>
        val cache = scala.collection.mutable.HashMap.empty[String, Int]
        val rk = bc.value
        iter.map { case (id, lang, text) =>
          var ntok = 0L
          val words = text.split(" ", -1)
          words.foreach { w =>
            ntok += cache.getOrElseUpdate(w, encodeLen(w, rk))
          }
          (id, lang, ntok, text.length.toLong, words.length.toLong)
        }
      }
      .toDF("doc_id", "lang", "n_bpe_tokens", "n_chars", "n_words")
  }

  /** ENCODE TO TOKEN IDS — the serving step a training feed actually
    * consumes: id = the symbol's rank in the SORTED trained vocabulary
    * (deterministic, artifact-stable), each document's id SEQUENCE
    * pinned by an order-sensitive rolling checksum
    * h ← (h·1000003 + id + 1) mod 2⁶¹ so a transposition — invisible
    * to sums and xors — fails the gate. Vocabulary and rank maps are
    * alphabet-plus-merges-sized broadcasts; encoding is mapPartitions
    * with the per-partition word cache of [[encodeStats]]. Symbols
    * outside the vocabulary (impossible for corpus words, possible
    * for foreign input) take the sentinel id |vocab| rather than
    * failing the feed — one past the largest real rank, so an OOV
    * position still perturbs the checksum (id −1 would contribute
    * h·1000003 + 0, leaving the gate blind to leading or
    * substituted OOV runs on foreign input).
    */
  def encodeIds(docs: DataFrame, merges: DataFrame, vocab: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges
      .select(col("left"), col("right"), col("rank").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val ids = vocab
      .select(col("symbol"))
      .collect()
      .map(_.getString(0))
      .sorted
      .zipWithIndex
      .map { case (s, i) => s -> i.toLong }
      .toMap
    val bcR = spark.sparkContext.broadcast(ranks)
    val bcI = spark.sparkContext.broadcast(ids)
    val oovId = ids.size.toLong
    val mask = (1L << 61) - 1
    docs
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { iter =>
        val cache = scala.collection.mutable.HashMap.empty[String, Array[Long]]
        val rk = bcR.value
        val im = bcI.value
        iter.map { case (id, lang, text) =>
          var h = 0L
          var n = 0L
          text.split(" ", -1).foreach { w =>
            val widsArr = cache.getOrElseUpdate(
              w,
              encodeSymbols(w, rk).map(s => im.getOrElse(s, oovId)).toArray
            )
            var j = 0
            while (j < widsArr.length) {
              h = (h * 1000003L + widsArr(j) + 1L) & mask
              n += 1L
              j += 1
            }
          }
          (id, lang, n, h)
        }
      }
      .toDF("doc_id", "lang", "n_ids", "seq_hash")
  }

  /** Fixture knobs; the golden oracles pin exactly these. */
  private val fixtureMerges = 12

  val bpeMerges: Q = (s, d) =>
    learnMerges(documents(s, d), "text", fixtureMerges).orderBy("rank")

  val bpeEncodeStats: Q = (s, d) => {
    val docs = documents(s, d)
    encodeStats(docs, learnMerges(docs, "text", fixtureMerges))
      .groupBy("lang")
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_bpe_tokens")).cast("bigint").as("total_bpe_tokens"),
        sum(col("n_chars")).cast("bigint").as("total_chars")
      )
      .orderBy("lang")
  }

  val bpeVocab: Q = (s, d) =>
    symbolVocab(documents(s, d), "text", fixtureMerges).orderBy("symbol")

  /** Tokenizer FERTILITY datasheet — the per-language numbers a
    * tokenizer review reads before committing a vocab to a multilingual
    * run: BPE tokens per word (fertility — a tokenizer trained on
    * English-heavy data fragments other languages into more tokens,
    * inflating their effective cost per word) and chars per token (the
    * compression ratio). Both in exact integer micro-units over the
    * per-language totals, composed from [[encodeStats]]' exact encode —
    * so the datasheet can never disagree with the encode the training
    * feed actually pays for.
    */
  val bpeFertility: Q = (s, d) => {
    val docs = documents(s, d)
    encodeStats(docs, learnMerges(docs, "text", fixtureMerges))
      .groupBy("lang")
      .agg(
        sum(col("n_words")).cast("bigint").as("n_words"),
        sum(col("n_bpe_tokens")).cast("bigint").as("total_bpe_tokens"),
        sum(col("n_chars")).cast("bigint").as("total_chars")
      )
      .withColumn("fertility_micro", expr("total_bpe_tokens * 1000000 div n_words"))
      .withColumn("chars_per_token_micro", expr("total_chars * 1000000 div total_bpe_tokens"))
      .orderBy("lang")
  }

  /** Per-language aggregate of the id-sequence checksums: total ids +
    * xor of per-doc rolling hashes — one changed, dropped or
    * transposed token id anywhere in the corpus flips the gate.
    */
  val bpeEncodeIds: Q = (s, d) => {
    val docs = documents(s, d)
    encodeIds(
      docs,
      learnMerges(docs, "text", fixtureMerges),
      symbolVocab(docs, "text", fixtureMerges)
    )
      .groupBy("lang")
      .agg(
        sum(col("n_ids")).cast("bigint").as("total_ids"),
        expr("bit_xor(seq_hash)").as("hash_xor")
      )
      .orderBy("lang")
  }

  /** Golden oracles, pinned by an INDEPENDENT reference implementation
    * (classic dict-based BPE in Python over the same parquet — the
    * strongest check available: two implementations, one answer).
    * Like the IVF golden oracles these are sf0.01-specific by
    * construction; the driver's gate runs there.
    */
  lazy val registry: Seq[Query] = Seq(
    // every bpe query re-trains the merge table: the 12-round
    // distributed training loop is part of each run
    Query("bpe_merges", bpeMerges,
      """SELECT CAST(rank AS BIGINT) AS rank, "left", "right", CAST(pair_freq AS BIGINT) AS pair_freq
        |FROM (VALUES
        |  (1, 'e', 'r', 4568),
        |  (2, 'e', '</w>', 4473),
        |  (3, 'n', '</w>', 2834),
        |  (4, 'er', '</w>', 2779),
        |  (5, 'o', 'w', 2747),
        |  (6, 'ow', '</w>', 2747),
        |  (7, 'o', 'r', 2696),
        |  (8, 's', 't', 2676),
        |  (9, 'h', '</w>', 1884),
        |  (10, 'a', 't', 1845),
        |  (11, 'l', 'u', 1831),
        |  (12, 'i', 'n', 1796)
        |) AS t(rank, "left", "right", pair_freq) ORDER BY rank""".stripMargin, build = Some(EveryRun)),
    Query("bpe_vocab", bpeVocab,
      """SELECT symbol, CAST(n_occurrences AS BIGINT) AS n_occurrences
        |FROM (VALUES
        |  ('</w>', 12448),
        |  ('a', 10805),
        |  ('at', 1845),
        |  ('b', 2721),
        |  ('c', 4653),
        |  ('d', 2732),
        |  ('e', 2696),
        |  ('e</w>', 4473),
        |  ('er', 1789),
        |  ('er</w>', 2779),
        |  ('f', 1787),
        |  ('g', 4474),
        |  ('h', 1787),
        |  ('h</w>', 1884),
        |  ('i', 2773),
        |  ('in', 1796),
        |  ('j', 964),
        |  ('k', 1776),
        |  ('l', 5525),
        |  ('lu', 1831),
        |  ('m', 4602),
        |  ('n</w>', 2834),
        |  ('o', 3710),
        |  ('or', 2696),
        |  ('ow</w>', 2747),
        |  ('p', 2662),
        |  ('q', 871),
        |  ('r', 4467),
        |  ('s', 5481),
        |  ('st', 2676),
        |  ('t', 5343),
        |  ('u', 2709),
        |  ('v', 1809),
        |  ('w', 886),
        |  ('y', 1767)
        |) AS t(symbol, n_occurrences) ORDER BY symbol""".stripMargin, build = Some(EveryRun)),
    Query("bpe_encode_stats", bpeEncodeStats,
      s"""SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(total_bpe_tokens AS BIGINT) AS total_bpe_tokens,
        |  CAST(total_chars AS BIGINT) AS total_chars
        |FROM (VALUES
        |$encodeGoldenRows
        |) AS t(lang, n_docs, total_bpe_tokens, total_chars) ORDER BY lang""".stripMargin,
      build = Some(EveryRun)),
    // the token/char totals are the SAME golden rows the encode-stats
    // gate pins (one independent reference, one answer); word counts
    // are BPE-independent, so the oracle recomputes them live
    Query("bpe_fertility", bpeFertility,
      s"""WITH g AS (
        |  SELECT lang, CAST(total_bpe_tokens AS BIGINT) AS total_bpe_tokens,
        |    CAST(total_chars AS BIGINT) AS total_chars
        |  FROM (VALUES
        |$encodeGoldenRows
        |  ) AS t(lang, n_docs, total_bpe_tokens, total_chars)),
        |w AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words
        |  FROM documents GROUP BY lang)
        |SELECT g.lang, w.n_words, g.total_bpe_tokens, g.total_chars,
        |  CAST(g.total_bpe_tokens * 1000000 // w.n_words AS BIGINT) AS fertility_micro,
        |  CAST(g.total_chars * 1000000 // g.total_bpe_tokens AS BIGINT) AS chars_per_token_micro
        |FROM g JOIN w USING (lang) ORDER BY g.lang""".stripMargin, build = Some(EveryRun)),
    Query("bpe_encode_ids", bpeEncodeIds, encodeIdsOracle, build = Some(EveryRun))
  )

  /** Golden rows for the id-sequence gate — same independent Python
    * reference (tools/bpe_reference.py), which re-derives the sorted
    * vocab ids and the rolling checksum from its own dict-BPE encode;
    * total_ids agreeing with the encode-stats totals is a built-in
    * cross-check between the two gates.
    */
  private val encodeIdsOracle =
    """SELECT lang, CAST(total_ids AS BIGINT) AS total_ids,
      |  CAST(hash_xor AS BIGINT) AS hash_xor
      |FROM (VALUES
      |  ('de', 15248, 187256829512556178),
      |  ('en', 50460, 836540477426514088),
      |  ('es', 17049, 1573345070565228625),
      |  ('fr', 16143, 215487705073000847),
      |  ('zh', 17898, 484655438192583573)
      |) AS t(lang, total_ids, hash_xor) ORDER BY lang""".stripMargin

  private val encodeGoldenRows =
    """  ('de', 70, 15248, 19525),
      |  ('en', 218, 50460, 64437),
      |  ('es', 73, 17049, 21756),
      |  ('fr', 64, 16143, 20623),
      |  ('zh', 75, 17898, 22833)""".stripMargin
}
