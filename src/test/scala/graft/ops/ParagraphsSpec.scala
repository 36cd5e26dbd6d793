package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class ParagraphsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  import Paragraphs.Segmenter

  test("paragraphs: 10-word chunking preserves order and every word") {
    val d = docs((1L, (1 to 25).map(i => s"w$i").mkString(" ")))
    val p = Paragraphs
      .paragraphs(d, "doc_id", "text", Segmenter.WordChunks())
      .orderBy("para_idx")
      .collect()
    assert(p.length == 3)
    assert(p(0).getString(2) == (1 to 10).map(i => s"w$i").mkString(" "))
    assert(p(1).getString(2) == (11 to 20).map(i => s"w$i").mkString(" "))
    assert(p(2).getString(2) == (21 to 25).map(i => s"w$i").mkString(" "))
  }

  test("paragraphDedup keeps the earliest occurrence across and within docs") {
    val para = (1 to 10).map(i => s"p$i").mkString(" ") // one shared chunk
    val uniqA = (11 to 20).map(i => s"a$i").mkString(" ")
    val uniqB = (11 to 20).map(i => s"b$i").mkString(" ")
    val d = docs(
      (1L, s"$para $uniqA"), // first occurrence: keeps both chunks
      (2L, s"$para $uniqB"), // shared chunk already seen → dropped
      (3L, s"$para $para")   // both copies dropped (cross-doc earlier)
    )
    val out = Paragraphs
      .paragraphDedup(d, "doc_id", "text", Segmenter.WordChunks())
      .orderBy("doc_id")
      .collect()
    assert(out(0).getAs[String]("kept_text") == s"$para $uniqA")
    assert(out(0).getAs[Long]("n_dropped") == 0L)
    assert(out(1).getAs[String]("kept_text") == uniqB)
    assert(out(1).getAs[Long]("n_dropped") == 1L)
    assert(out(2).getAs[String]("kept_text") == "")
    assert(out(2).getAs[Long]("n_kept") == 0L)
  }

  test("paragraphDedup never loses or invents words corpus-wide") {
    val d = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val before = Paragraphs
      .paragraphs(d, "doc_id", "text", Segmenter.WordChunks())
      .select(explode(split(col("para"), " ")).as("w"))
      .count()
    val after = Paragraphs
      .paragraphDedup(d, "doc_id", "text", Segmenter.WordChunks())
      .filter(col("kept_text") =!= "")
      .select(explode(split(col("kept_text"), " ")).as("w"))
      .count()
    val dropped = Paragraphs
      .paragraphs(d, "doc_id", "text", Segmenter.WordChunks())
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("para").cast("binary")))
            .orderBy(col("doc_id"), col("para_idx"))
        )
      )
      .filter(col("rn") > 1)
      .select(explode(split(col("para"), " ")).as("w"))
      .count()
    assert(before == after + dropped)
  }

  test("qualityRepetition flags a looping document and passes a clean one") {
    val loop = ((1 to 10).map(i => s"x$i").mkString(" ") + " ") * 4 // 4 identical chunks
    val clean = (1 to 40).map(i => s"u$i").mkString(" ")
    val d = docs((1L, loop.trim), (2L, clean))
    // qualityRepetition reads the fixture table; test the signal math
    // on crafted docs through the same chunk expression
    val sig = d
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn(
        "paras",
        expr(
          "transform(sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1), i -> concat_ws(' ', slice(w, i * 10 + 1, 10)))"
        )
      )
      .select(
        col("doc_id"),
        (size(col("paras")) - size(array_distinct(col("paras")))).cast("double")
          ./(size(col("paras"))).as("dup_line_frac")
      )
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(sig(1L) == 0.75) // 4 chunks, 1 distinct
    assert(sig(2L) == 0.0)
  }

  test("repetitionSignals survives 1- and 2-word documents (ANSI array bounds)") {
    // sequence(0, size(w)-2) on a 1-word doc is the DESCENDING [0,-1];
    // the unguarded lambda then reads w[1] out of bounds and throws
    // under ANSI mode — the guard must yield empty gram sets instead
    val out = Paragraphs
      .repetitionSignals(
        docs((1L, "solo"), (2L, "two words"), (3L, (1 to 12).map(i => s"t$i").mkString(" "))),
        "doc_id",
        "text",
        Segmenter.WordChunks()
      )
      .orderBy("doc_id")
      .collect()
    assert(out.length == 3)
    // no 2-grams → empty top_2gram with zero coverage; no 3-grams → 0.0
    assert(out(0).getAs[String]("top_2gram") == "")
    assert(out(0).getAs[Double]("top_2gram_char_frac") == 0.0)
    assert(out(0).getAs[Double]("dup_3gram_char_frac") == 0.0)
    // a 2-word doc has one 2-gram but still no 3-gram
    assert(out(1).getAs[String]("top_2gram") == "two words")
    assert(out(1).getAs[Double]("dup_3gram_char_frac") == 0.0)
    assert(out(2).getAs[String]("top_2gram").nonEmpty)
  }

  test("Delimiter segmentation: blank-line paragraphs, empty segments dropped") {
    val d = docs(
      (1L, "alpha beta\n\ngamma delta\n\n\n\nepsilon"),
      (2L, "alpha beta\n\nzeta")
    )
    val p = Paragraphs
      .paragraphs(d, "doc_id", "text") // public default = Delimiter("\n\n")
      .orderBy("doc_id", "para_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(
      p.toSeq == Seq(
        (1L, 0L, "alpha beta"),
        (1L, 1L, "gamma delta"),
        (1L, 2L, "epsilon"),
        (2L, 0L, "alpha beta"),
        (2L, 1L, "zeta")
      )
    )
    // keep-earliest dedup across docs on the real-paragraph path;
    // survivors re-join as blank-line blocks (the segmenter's joiner)
    val out = Paragraphs.paragraphDedup(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("kept_text") == "alpha beta\n\ngamma delta\n\nepsilon")
    assert(out(1).getAs[String]("kept_text") == "zeta")
    assert(out(1).getAs[Long]("n_dropped") == 1L)
  }

  test("Delimiter patterns with quotes/metacharacters cannot break expression parsing") {
    import spark.implicits._
    // a single quote in the pattern used to be interpolated into a SQL
    // expr string — parse failure at best, expression injection at
    // worst; the Column API path takes it as an inert regex
    val d = Seq((1L, "alpha'beta'gamma")).toDF("doc_id", "text")
    val paras = Paragraphs
      .paragraphs(d, "doc_id", "text", Paragraphs.Segmenter.Delimiter("'", "'"))
      .orderBy("para_idx")
      .collect()
      .map(_.getAs[String]("para"))
    assert(paras.toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("custom Delimiter joiner round-trips document structure") {
    import spark.implicits._
    val d = Seq(
      (1L, "a|b|a"), // within-doc duplicate: second 'a' dropped
      (2L, "c|d")    // untouched: must round-trip byte-identically
    ).toDF("doc_id", "text")
    val out = Paragraphs
      .paragraphDedup(d, "doc_id", "text", Paragraphs.Segmenter.Delimiter("\\|", "|"))
      .orderBy("doc_id")
      .collect()
    assert(out(0).getAs[String]("kept_text") == "a|b")
    assert(out(0).getAs[Long]("n_dropped") == 1L)
    assert(out(1).getAs[String]("kept_text") == "c|d")
    assert(out(1).getAs[Long]("n_dropped") == 0L)
  }

  test("quality_repetition fixture run: fractions bounded and total") {
    val out = Paragraphs.qualityRepetition(spark, "/root/testdata/sf0.001").cache()
    assert(out.count() == 500L)
    val bad = out.filter(
      col("dup_line_frac") < 0 || col("dup_line_frac") > 1 ||
        col("dup_line_char_frac") < 0 || col("dup_line_char_frac") > 1 ||
        col("top_2gram_char_frac") < 0 || col("top_2gram_char_frac") > 1 ||
        col("dup_3gram_char_frac") < 0 || col("dup_3gram_char_frac") > 1
    )
    assert(bad.count() == 0L)
    out.unpersist()
  }

  test("langSegments: switch counts and mixed flag on crafted chunk boundaries") {
    import spark.implicits._
    // WordChunks(10): each 10-word group is one paragraph
    val en = "the cat sat of the mat and then in again" // stopword-bearing
    val xx = "zorp blig quux flem drat vex nub crint wob yex" // none
    val docs = Seq(
      (1L, s"$en $xx", "en"), // en → unknown: 1 switch, mixed
      (2L, s"$en $en", "en"), // monolingual: 0 switches
      (3L, s"$en $xx $en", "en") // alternating: 2 switches, mixed
    ).toDF("doc_id", "text", "lang")
    // langSegments reads the fixture accessor; exercise the core by
    // substituting a temp view through the same expressions
    val got = SparkEntry.queries("lang_segments")(spark, "/root/testdata/sf0.001")
    assert(got.columns.toSeq == Seq("doc_id", "lang", "n_paras", "n_en_paras", "n_switches", "mixed"))
    // crafted assertion path: run the same chain over the crafted docs
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val out = docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("paras", Paragraphs.parasColumn(Paragraphs.Segmenter.WordChunks()))
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("para_idx", "para")))
      .withColumn(
        "pred",
        when(expr(s"size(filter(split(para, ' '), x -> x IN (${TextAnalysis.stopList}))) > 0"), "en")
          .otherwise("unknown")
      )
      .withColumn("prev", lag(col("pred"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("para_idx"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("prev").isNotNull && col("prev") =!= col("pred"), 1L).otherwise(0L)).as("n_switches")
      )
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ((2L, 1L)), out.toString)
    assert(out(2L) == ((2L, 0L)), out.toString)
    assert(out(3L) == ((3L, 2L)), out.toString)
  }
}
