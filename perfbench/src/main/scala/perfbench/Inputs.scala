package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, key), so one seed always yields the same tables,
  * whatever the partitioning or the number of cores. Row counts are
  * fixed per workload; only values depend on the seed.
  */
object Inputs {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, n) for (seed, stream, key). */
  def draw(seed: Long, stream: Int, key: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(mix(seed * 1000003L + stream) ^ key), n.toLong).toInt

  /** A price-like double with two decimals: exact sums stay on the
    * cent grid, so rounded validation metrics cannot flip on the
    * order of a floating-point sum.
    */
  private def cents(seed: Long, stream: Int, key: Long, lo: Int, span: Int): Double =
    (lo * 100L + draw(seed, stream, key, span * 100)) / 100.0

  // ---------------------------------------------------------------- lake

  /** Sizes of the TPC-H-shaped source. lineitem has exactly
    * 4 × orders rows: orders come in pairs whose line counts add to 8.
    */
  final case class LakeSize(customers: Int, suppliers: Int, parts: Int, orders: Int) {
    require(orders % 2 == 0, "orders must be even")
    def lineitems: Int = orders * 4
    def rows: Map[String, Long] = Map(
      "region" -> 5L,
      "nation" -> 25L,
      "customer" -> customers.toLong,
      "supplier" -> suppliers.toLong,
      "part" -> parts.toLong,
      "orders" -> orders.toLong,
      "lineitem" -> lineitems.toLong
    )
  }

  val lakeTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val day = 86400000L
  private val epoch1992 = 694224000000L // 1992-01-01T00:00:00Z

  /** Lines of order `k` (1-based): the pair (2j-1, 2j) splits 8 lines. */
  private def linesOf(seed: Long, k: Long): Int = {
    val first = 1 + draw(seed, 20, (k + 1) / 2, 7)
    if (k % 2 == 1) first else 8 - first
  }

  private def orderDate(seed: Long, k: Long): Long = epoch1992 + draw(seed, 21, k, 2405) * day

  /** Customer segment — shared by the lake and the CDC dimension. */
  def segment(seed: Long, k: Long): String = segments(draw(seed, 12, k, segments.length))

  /** Writes the seven-table source lake under `dir` as `<table>.parquet`
    * directories. Every declared key holds: PKs are unique (including
    * lineitem's (l_orderkey, l_linenumber)) and every FK value exists
    * in its parent.
    */
  def writeLake(
      spark: SparkSession,
      dir: String,
      seed: Long,
      size: LakeSize,
      tables: Set[String] = lakeTables.toSet
  ): Unit = {
    val L = LongType; val I = IntegerType; val D = DoubleType; val S = StringType; val T = TimestampType
    def schema(cols: (String, DataType)*) = StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })
    def write(name: String, n: Long, parts: Int, st: StructType)(row: Long => Seq[Row]): Unit = if (tables(name)) {
      val per = (n + parts - 1) / parts
      val rdd = spark.sparkContext
        .parallelize(0 until parts, parts)
        .flatMap(p => (p * per + 1 to math.min(n, (p + 1) * per)).iterator.flatMap(k => row(k)))
      spark.createDataFrame(rdd, st).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val sd = seed
    val sz = size
    write("region", 5, 1, schema("r_regionkey" -> I, "r_name" -> S)) { k =>
      Seq(Row((k - 1).toInt, regions((k - 1).toInt)))
    }
    write("nation", 25, 1, schema("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I)) { k =>
      Seq(Row((k - 1).toInt, f"NATION$k%02d", draw(sd, 1, k, 5)))
    }
    write(
      "customer", sz.customers, 2,
      schema("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I, "c_acctbal" -> D, "c_mktsegment" -> S)
    ) { k =>
      Seq(Row(k, f"Customer#$k%09d", draw(sd, 11, k, 25), cents(sd, 13, k, -999, 10999), segment(sd, k)))
    }
    write("supplier", sz.suppliers, 1, schema("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I, "s_acctbal" -> D)) {
      k => Seq(Row(k, f"Supplier#$k%09d", draw(sd, 31, k, 25), cents(sd, 32, k, -999, 10999)))
    }
    write(
      "part", sz.parts, 2,
      schema("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S, "p_size" -> I, "p_retailprice" -> D)
    ) { k =>
      Seq(
        Row(
          k,
          s"part ${draw(sd, 41, k, 1000)} ${draw(sd, 42, k, 1000)}",
          s"Brand#${1 + draw(sd, 43, k, 5)}${1 + draw(sd, 44, k, 5)}",
          s"TYPE ${draw(sd, 45, k, 150)}",
          1 + draw(sd, 46, k, 50),
          cents(sd, 47, k, 900, 1200)
        )
      )
    }
    write(
      "orders", sz.orders, 4,
      schema(
        "o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S, "o_totalprice" -> D,
        "o_orderdate" -> T, "o_orderpriority" -> S
      )
    ) { k =>
      Seq(
        Row(
          k,
          1L + draw(sd, 22, k, sz.customers),
          "FOP".substring(draw(sd, 23, k, 3)).take(1),
          cents(sd, 24, k, 800, 500000),
          new Timestamp(orderDate(sd, k)),
          priorities(draw(sd, 25, k, 5))
        )
      )
    }
    write(
      "lineitem", sz.orders, 4,
      schema(
        "l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L, "l_linenumber" -> I, "l_quantity" -> D,
        "l_extendedprice" -> D, "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S,
        "l_shipdate" -> T
      )
    ) { k =>
      (1 to linesOf(sd, k)).map { ln =>
        val key = k * 8 + ln
        Row(
          k,
          1L + draw(sd, 51, key, sz.parts),
          1L + draw(sd, 52, key, sz.suppliers),
          ln,
          (1 + draw(sd, 53, key, 50)).toDouble,
          cents(sd, 54, key, 900, 100000),
          draw(sd, 55, key, 11) / 100.0,
          draw(sd, 56, key, 9) / 100.0,
          "RAN".substring(draw(sd, 57, key, 3)).take(1),
          "OF".substring(draw(sd, 58, key, 2)).take(1),
          new Timestamp(orderDate(sd, k) + (1 + draw(sd, 59, key, 121)) * day)
        )
      }
    }
  }

  // ---------------------------------------------------------------- CDC

  /** The `customer` dimension the CDC feed is built from. */
  def writeCdcCustomers(spark: SparkSession, dir: String, seed: Long, customers: Int): Unit =
    writeLake(spark, dir, seed, LakeSize(customers, 1, 1, 2), Set("customer"))

  /** Plain-Scala fold of the documented CDC feed over keys 1..n: the
    * full insert load (seq = key), a segment update for every 5th key
    * (seq = key + 10^7) and a tombstone for every 11th (seq = key +
    * 2·10^7). The merged state keeps each key's max-seq row and drops
    * tombstones. Returns (key, segment, seq) sorted by key.
    */
  def cdcExpected(seed: Long, customers: Int): Seq[(Long, String, Long)] =
    (1L to customers).flatMap { k =>
      if (k % 11 == 0) None
      else if (k % 5 == 0) Some((k, segment(seed, k) + "_u", k + 10000000L))
      else Some((k, segment(seed, k), k))
    }

  /** Change rows in the feed over keys 1..n. */
  def cdcFeedRows(customers: Int): Long = customers + customers / 5 + customers / 11

  // ---------------------------------------------------------------- search

  /** Vocabulary word `i`: lowercase letters, distinct per index. */
  def word(seed: Long, i: Int): String = {
    val consonants = "bcdfghjklmnprstvz"; val vowels = "aeiou"
    val sb = new StringBuilder
    var x = i.toLong
    var j = 0
    do {
      sb += consonants(draw(seed, 60, i * 8L + j, consonants.length))
      sb += vowels((x % 5).toInt)
      x /= 5
      j += 1
    } while (x > 0 || j < 2)
    sb.toString
  }

  /** Zipf(1) rank for a uniform draw `u` in [0, 1): inverse CDF over
    * `vocab` ranks, by binary search in the cumulative weights.
    */
  private def zipfCdf(vocab: Int): Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  final case class CorpusSize(docs: Int, vocab: Int, minLen: Int, maxLen: Int)

  /** Raw token `pos` of document `d`: a Zipf-ranked word, sometimes
    * capitalised or wrapped in punctuation so that the analyzed routes
    * (lowercase, punctuation-stripped) differ from the raw ones.
    */
  def rawToken(seed: Long, cdf: Array[Double], d: Long, pos: Int): String = {
    val key = d * 1024 + pos
    val u = draw(seed, 61, key, 1 << 30) / (1 << 30).toDouble
    val rank = math.min(java.util.Arrays.binarySearch(cdf, u) match { case i if i >= 0 => i; case i => -i - 1 }, cdf.length - 1)
    val w = word(seed, rank)
    draw(seed, 62, key, 100) match {
      case n if n < 8 => w.capitalize
      case n if n < 12 => w + ","
      case n if n < 14 => w + "."
      case n if n < 15 => "\"" + w + "\""
      case _ => w
    }
  }

  def docLength(seed: Long, size: CorpusSize, d: Long): Int =
    size.minLen + draw(seed, 63, d, size.maxLen - size.minLen + 1)

  def docTokens(seed: Long, size: CorpusSize, cdf: Array[Double], d: Long): Seq[String] =
    (0 until docLength(seed, size, d)).map(p => rawToken(seed, cdf, d, p))

  /** Every document's raw tokens, in memory (the reference answers). */
  def corpusDocs(seed: Long, size: CorpusSize): Seq[(Long, Seq[String])] = {
    val cdf = zipfCdf(size.vocab)
    (0L until size.docs).map(d => d -> docTokens(seed, size, cdf, d))
  }

  /** Writes the corpus `documents.parquet` (doc_id, text) under `dir`. */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long, size: CorpusSize): Unit = {
    val cdf = zipfCdf(size.vocab)
    val sd = seed; val sz = size
    val parts = 4
    val per = (size.docs + parts - 1) / parts
    val rdd = spark.sparkContext
      .parallelize(0 until parts, parts)
      .flatMap { p =>
        (p.toLong * per until math.min(sz.docs.toLong, (p + 1L) * per)).iterator
          .map(d => Row(d, docTokens(sd, sz, cdf, d).mkString(" ")))
      }
    val st = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(rdd, st).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** One probe: a route name and its query terms. */
  final case class Probe(route: String, terms: Seq[String])

  val routes: Seq[String] = Seq("bm25", "abm25", "conj", "aconj", "phrase", "aphrase")

  private def analyze(t: String): String = t.toLowerCase.replaceAll("^[^a-z0-9]+|[^a-z0-9]+$", "")

  /** `perRoute` distinct probes for each route. Term probes draw
    * mid-frequency words (bm25) or frequent words (conjunctive, so the
    * AND has matches); analyzed probes present them capitalised or
    * punctuated. Phrase probes copy 2–3 consecutive tokens from a
    * document, so every phrase matches at least once.
    */
  def probes(seed: Long, size: CorpusSize, perRoute: Int): Seq[Probe] = {
    val cdf = zipfCdf(size.vocab)
    def w(stream: Int, i: Int, lo: Int, hi: Int) = word(seed, lo + draw(seed, stream, i, hi - lo))
    def phraseAt(stream: Int, i: Int): Seq[String] = {
      val d = draw(seed, stream, i, size.docs).toLong
      val toks = docTokens(seed, size, cdf, d)
      val len = 2 + draw(seed, stream + 1, i, 2)
      val start = draw(seed, stream + 2, i, toks.length - len + 1)
      toks.slice(start, start + len)
    }
    (0 until perRoute).flatMap { i =>
      Seq(
        Probe("bm25", Seq(w(70, i, 20, 400), w(71, i, 20, 400), w(72, i, 100, 1000))),
        Probe("abm25", Seq(w(73, i, 20, 400).capitalize, w(74, i, 20, 400) + ",", w(75, i, 100, 1000).toUpperCase)),
        Probe("conj", Seq(w(76, i, 0, 6), w(77, i, 6, 14))),
        Probe("aconj", Seq(w(78, i, 0, 6).toUpperCase, w(79, i, 6, 14) + ".")),
        Probe("phrase", phraseAt(80, i)),
        Probe("aphrase", phraseAt(90, i).map(t => analyze(t).toUpperCase))
      )
    }
  }
}
