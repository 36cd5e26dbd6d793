package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** CONTENT-DEFINED CHUNKING (the Rabin-boundary recipe of LBFS/
  * rsync-family dedup): split each document where the CONTENT says so
  * — after any word whose hash clears a divisor test — instead of at
  * fixed offsets. The property that matters: an insertion near the
  * start of a document shifts every fixed-size chunk after it (all
  * their digests change, dedup misses everything), but content-
  * defined boundaries re-synchronize immediately — only the chunk
  * containing the edit changes. That makes chunk-level dedup robust
  * to the boilerplate-prefix/suffix edits that defeat whole-doc
  * hashing, without any pairwise comparison.
  *
  * Shape: one token-level pass — boundary flag per word (pure hash
  * predicate, the MinHash md5 family under a `cdc|` domain), chunk id
  * = running boundary count (a doc-partitioned prefix sum — windows
  * partition by doc, so no skew beyond document length), chunk text
  * reassembled per (doc, chunk id) and digested. Chunk digests are
  * 16 bytes; chunk TEXT never shuffles beyond its reassembly
  * aggregate. Expected chunk length is `divisor` words (geometric).
  */
object Cdc {
  import Fixtures._

  /** Fixture divisor: expected chunk ≈ 8 words. */
  private[graft] val fixtureDivisor = 8

  /** (doc_id, chunk_id, n_words, chunk_digest) per content-defined
    * chunk. A word ends a chunk iff md5-48(`cdc|` ++ word) mod
    * divisor = 0 — boundary decisions depend ONLY on the word, never
    * its position, which is the whole trick.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String, divisor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
      .withColumn(
        "boundary",
        (conv(substring(md5(concat(lit("cdc|"), col("word")).cast("binary")), 1, 12), 16, 10)
          .cast("long") % divisor === 0).cast("int")
      )
    // chunk id = boundaries BEFORE this word: a word that fires the
    // divisor test is the LAST word of its chunk
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok
      .withColumn("chunk_id", (sum(col("boundary")).over(w) - col("boundary")).cast("bigint"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_words"),
        md5(
          concat_ws(" ", sort_array(collect_list(struct(col("pos"), col("word")))).getField("word"))
            .cast("binary")
        ).as("chunk_digest")
      )
  }

  /** Per-language chunk-dedup accounting: how much of the corpus is
    * duplicated at content-defined-chunk granularity (distinctness
    * measured corpus-wide — cross-language duplicate chunks count as
    * duplicates in every language holding them).
    */
  val cdcChunkStats: Q = (s, d) => {
    val docs = documents(s, d)
    val chunks = cdcChunks(docs, "doc_id", "text", fixtureDivisor)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    // keeper per digest (min occurrence) — digest-keyed partial agg +
    // digest-keyed equi-join, the exactDedup shape; the keeper
    // relation is chunk-cardinality-sized, so it joins, never
    // broadcasts
    val keeper = chunks
      .groupBy(col("chunk_digest"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("k"))
      .select(col("chunk_digest"), col("k.doc_id").as("kdoc"), col("k.chunk_id").as("kchunk"))
    chunks
      .join(keeper, "chunk_digest")
      .withColumn("is_dup", (col("doc_id") =!= col("kdoc") || col("chunk_id") =!= col("kchunk")).cast("int"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("bigint").as("n_chunks"),
        sum(col("is_dup")).cast("bigint").as("n_dup_chunks"),
        sum(col("n_words")).cast("bigint").as("n_words"),
        sum(col("is_dup") * col("n_words")).cast("bigint").as("dup_words")
      )
      .withColumn("dup_chunk_micro", expr("n_dup_chunks * 1000000 div n_chunks"))
      .orderBy("lang")
  }

  /** CONTAINMENT detection over chunk digests — the superset/quote
    * duplicates Jaccard-LSH structurally misses: a short doc quoted
    * whole inside a long one has LOW Jaccard (union is the long doc)
    * but containment |A∩B| / |A| ≈ 1. CDC chunks make the test
    * cheap and shift-robust: boundaries are positionless, so the
    * contained doc's chunks reappear in the container verbatim
    * wherever the quote sits (only the junction chunks differ).
    *
    * Scale guards mirror the blocked-Jaccard route: chunk digests
    * shared by more than `maxDocsPerChunk` docs are BOILERPLATE
    * (headers, licence blocks) and are dropped from pair generation —
    * they would fan out quadratically and say nothing about
    * containment; the remaining digest join is occurrence-bounded.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int,
      minContainmentMicro: Long,
      maxDocsPerChunk: Int
  ): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, divisor)
      .select(col("doc_id"), col("chunk_digest")).distinct()
    val sizes = chunks.groupBy(col("doc_id")).agg(count(lit(1)).cast("bigint").as("n_chunks"))
    val rare = chunks
      .groupBy(col("chunk_digest"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxDocsPerChunk)
      .select("chunk_digest")
    val kept = chunks.join(rare, "chunk_digest")
    val shared = kept
      .select(col("doc_id").as("contained"), col("chunk_digest"))
      .join(kept.select(col("doc_id").as("container"), col("chunk_digest")), "chunk_digest")
      .filter(col("contained") =!= col("container"))
      .groupBy(col("contained"), col("container"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "contained"), "contained")
      .withColumn("containment_micro", expr("n_shared * 1000000 div n_chunks"))
      .filter(col("containment_micro") >= minContainmentMicro)
      .select(col("contained"), col("container"), col("n_shared"), col("n_chunks"), col("containment_micro"))
  }

  /** Fixture seeding (the clone-seeding precedent): every 100th doc
    * gains a synthetic QUOTER concatenating it with its successor —
    * both originals are then contained in the quoter at ≈1.0 while
    * Jaccard against either is ≈0.5.
    */
  private val quoterBase = 4000001L

  val cdcContainment: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val quoters = docs
      .filter(col("doc_id") % 100 === 0)
      .join(
        docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("text2")),
        "doc_id"
      )
      .select(
        (col("doc_id") + lit(quoterBase)).as("doc_id"),
        concat_ws(" ", col("text"), col("text2")).as("text")
      )
    containmentPairs(
      docs.unionByName(quoters),
      "doc_id",
      "text",
      fixtureDivisor,
      minContainmentMicro = 800000L,
      maxDocsPerChunk = 8
    ).orderBy("contained", "container")
  }

  /** The persistable CHUNK-DIGEST INDEX of a collected corpus — the
    * artifact the streaming containment probe loads once and probes
    * forever (the benchDigests/minhash-index precedent, chunk
    * granularity). Distinct (doc_id, chunk_digest); sizes and
    * occurrence caps derive from it at probe time, so the artifact
    * stays one relation.
    */
  def chunkIndex(docs: DataFrame, idCol: String, textCol: String, divisor: Int): DataFrame =
    cdcChunks(docs, idCol, textCol, divisor)
      .select(col("doc_id"), col("chunk_digest"))
      .distinct()

  /** Containment of ARRIVING documents against a frozen corpus index —
    * both directions at once: a new doc that quotes an indexed doc
    * whole flags via `containment_idx_micro` (the indexed doc is
    * inside it), and a new doc that IS mostly a quote of indexed
    * content flags via `containment_new_micro`. Per-doc output is a
    * pure function of (doc, index) — no new×new pairs, no index
    * mutation — which is what lets the streaming route share the
    * batch oracle bit for bit.
    *
    * Scale: the index-side boilerplate cap bounds the digest join's
    * fan-out exactly like [[containmentPairs]]; digests are 16 bytes
    * and chunk text never shuffles. The join keys on the digest hash
    * (no pruning possible — an arriving doc's digests are arbitrary),
    * linear shuffle both sides, AQE broadcasting a small index.
    */
  def containmentAgainstIndex(
      newDocs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int,
      minContainmentMicro: Long,
      maxDocsPerChunk: Int
  ): DataFrame = {
    val probe = cdcChunks(newDocs, idCol, textCol, divisor)
      .select(col("doc_id").as("new_id"), col("chunk_digest"))
      .distinct()
    val probeSizes =
      probe.groupBy(col("new_id")).agg(count(lit(1)).cast("bigint").as("n_chunks_new"))
    val idxSizes =
      index.groupBy(col("doc_id")).agg(count(lit(1)).cast("bigint").as("n_chunks_idx"))
    val rare = index
      .groupBy(col("chunk_digest"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxDocsPerChunk)
      .select("chunk_digest")
    val keptIdx = index.join(rare, "chunk_digest").withColumnRenamed("doc_id", "idx_id")
    probe
      .join(keptIdx, "chunk_digest")
      .groupBy(col("new_id"), col("idx_id"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .join(probeSizes, "new_id")
      .join(idxSizes.withColumnRenamed("doc_id", "idx_id"), "idx_id")
      .withColumn("containment_new_micro", expr("n_shared * 1000000 div n_chunks_new"))
      .withColumn("containment_idx_micro", expr("n_shared * 1000000 div n_chunks_idx"))
      .filter(
        col("containment_new_micro") >= minContainmentMicro ||
          col("containment_idx_micro") >= minContainmentMicro
      )
      .select(
        col("new_id"), col("idx_id"), col("n_shared"), col("n_chunks_new"),
        col("n_chunks_idx"), col("containment_new_micro"), col("containment_idx_micro")
      )
  }

  /** Fixture split for the index-probe queries: docs with id % 3 ≠ 0
    * are "the collected corpus"; the rest arrive. Seeded arrivals
    * exercise both directions: QUOTERS (an index pair concatenated —
    * the indexed docs are contained in the arrival) and COPIES (an
    * index doc verbatim — the arrival is contained in the indexed
    * doc, and vice versa).
    */
  private[ops] val idxPred = "doc_id % 3 <> 0"
  private[ops] val quoterBase2 = 5000001L
  private[ops] val copyBase = 6000001L

  private[graft] def indexProbeInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val idx = docs.filter(idxPred)
    val quoters = idx
      .filter(col("doc_id") % 150 === 1)
      .join(idx.select((col("doc_id") - 1).as("doc_id"), col("text").as("text2")), "doc_id")
      .select(
        (col("doc_id") + lit(quoterBase2)).as("doc_id"),
        concat_ws(" ", col("text"), col("text2")).as("text")
      )
    val copies = idx
      .filter(col("doc_id") % 150 === 4)
      .select((col("doc_id") + lit(copyBase)).as("doc_id"), col("text"))
    val arrivals = docs.filter(s"NOT ($idxPred)").unionByName(quoters).unionByName(copies)
    (idx, arrivals)
  }

  val cdcContainmentIndex: Q = (s, d) => {
    val (idx, arrivals) = indexProbeInputs(s, d)
    containmentAgainstIndex(
      arrivals,
      chunkIndex(idx, "doc_id", "text", fixtureDivisor),
      "doc_id",
      "text",
      fixtureDivisor,
      minContainmentMicro = 800000L,
      maxDocsPerChunk = 8
    ).orderBy("new_id", "idx_id")
  }

  /** The tok→chunk-id→digest CTE block under a name prefix, for
    * oracles that chunk two relations.
    */
  private def chunkCtes(p: String, src: String): String = {
    val bhash =
      "CAST(" + Dedup.hex12ValSql("md5('cdc|' || w[i])", 1) + s" AS BIGINT) % $fixtureDivisor"
    s"""${p}tok AS (
       |  SELECT doc_id, i - 1 AS pos, w[i] AS word,
       |    CASE WHEN $bhash = 0 THEN 1 ELSE 0 END AS boundary
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
       |${p}cid AS (
       |  SELECT doc_id, pos, word,
       |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) - boundary AS chunk_id
       |  FROM ${p}tok),
       |${p}chunks AS (
       |  SELECT DISTINCT doc_id, md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_digest
       |  FROM ${p}cid GROUP BY doc_id, chunk_id)""".stripMargin
  }

  private[graft] lazy val containmentIndexOracle: String =
    s"""WITH idx_docs AS (SELECT doc_id, text FROM documents WHERE $idxPred),
       |arr AS (
       |  SELECT doc_id, text FROM documents WHERE NOT ($idxPred)
       |  UNION ALL
       |  SELECT d.doc_id + $quoterBase2, d.text || ' ' || d2.text
       |  FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
       |  WHERE d.doc_id % 150 = 1
       |  UNION ALL
       |  SELECT doc_id + $copyBase, text FROM documents WHERE doc_id % 150 = 4),
       |${chunkCtes("p_", "arr")},
       |${chunkCtes("i_", "idx_docs")},
       |psz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks_new FROM p_chunks GROUP BY doc_id),
       |isz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks_idx FROM i_chunks GROUP BY doc_id),
       |rare AS (SELECT chunk_digest FROM i_chunks GROUP BY chunk_digest HAVING count(*) <= 8),
       |kept AS (SELECT c.* FROM i_chunks c JOIN rare USING (chunk_digest)),
       |shared AS (
       |  SELECT p.doc_id AS new_id, k.doc_id AS idx_id, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM p_chunks p JOIN kept k ON p.chunk_digest = k.chunk_digest
       |  GROUP BY p.doc_id, k.doc_id)
       |SELECT s.new_id, s.idx_id, s.n_shared, pz.n_chunks_new, iz.n_chunks_idx,
       |  CAST(s.n_shared * 1000000 // pz.n_chunks_new AS BIGINT) AS containment_new_micro,
       |  CAST(s.n_shared * 1000000 // iz.n_chunks_idx AS BIGINT) AS containment_idx_micro
       |FROM shared s
       |JOIN psz pz ON pz.doc_id = s.new_id
       |JOIN isz iz ON iz.doc_id = s.idx_id
       |WHERE s.n_shared * 1000000 // pz.n_chunks_new >= 800000
       |   OR s.n_shared * 1000000 // iz.n_chunks_idx >= 800000
       |ORDER BY s.new_id, s.idx_id""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("cdc_containment_index", cdcContainmentIndex, containmentIndexOracle),
    Query("cdc_containment", cdcContainment, {
      val bhash =
        "CAST(" + Dedup.hex12ValSql("md5('cdc|' || w[i])", 1) + s" AS BIGINT) % $fixtureDivisor"
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT d.doc_id + $quoterBase, d.text || ' ' || d2.text
         |  FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
         |  WHERE d.doc_id % 100 = 0),
         |tok AS (
         |  SELECT doc_id, i - 1 AS pos, w[i] AS word,
         |    CASE WHEN $bhash = 0 THEN 1 ELSE 0 END AS boundary
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
         |cid AS (
         |  SELECT doc_id, pos, word,
         |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) - boundary AS chunk_id
         |  FROM tok),
         |chunks AS (
         |  SELECT DISTINCT doc_id, md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_digest
         |  FROM cid GROUP BY doc_id, chunk_id),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM chunks GROUP BY doc_id),
         |rare AS (SELECT chunk_digest FROM chunks GROUP BY chunk_digest HAVING count(*) <= 8),
         |kept AS (SELECT c.* FROM chunks c JOIN rare USING (chunk_digest)),
         |shared AS (
         |  SELECT a.doc_id AS contained, b.doc_id AS container, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept a JOIN kept b ON a.chunk_digest = b.chunk_digest AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT s.contained, s.container, s.n_shared, z.n_chunks,
         |  CAST(s.n_shared * 1000000 // z.n_chunks AS BIGINT) AS containment_micro
         |FROM shared s JOIN sizes z ON z.doc_id = s.contained
         |WHERE s.n_shared * 1000000 // z.n_chunks >= 800000
         |ORDER BY contained, container""".stripMargin
    }),
    Query("cdc_chunk_stats", cdcChunkStats, {
      val bhash = "CAST(" + Dedup.hex12ValSql("md5('cdc|' || word)", 1) + s" AS BIGINT) % $fixtureDivisor"
      s"""WITH tok AS (
         |  SELECT doc_id, lang, i - 1 AS pos, w[i] AS word,
         |    CASE WHEN ${bhash.replace("word", "w[i]")} = 0 THEN 1 ELSE 0 END AS boundary
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
         |cid AS (
         |  SELECT doc_id, lang, pos, word,
         |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) - boundary AS chunk_id
         |  FROM tok),
         |chunks AS (
         |  SELECT doc_id, lang, chunk_id,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_digest
         |  FROM cid GROUP BY doc_id, lang, chunk_id),
         |keeper AS (
         |  SELECT chunk_digest, min(doc_id * 1000000 + chunk_id) AS kkey
         |  FROM chunks GROUP BY chunk_digest),
         |marked AS (
         |  SELECT c.lang, c.n_words,
         |    CASE WHEN c.doc_id * 1000000 + c.chunk_id <> k.kkey THEN 1 ELSE 0 END AS is_dup
         |  FROM chunks c JOIN keeper k USING (chunk_digest))
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(is_dup) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(is_dup * n_words) AS BIGINT) AS dup_words,
         |  CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_chunk_micro
         |FROM marked GROUP BY lang ORDER BY lang""".stripMargin
    })
  )
}
