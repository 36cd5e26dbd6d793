package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Production-shape PQ plan proofs (VERDICT r9 #1): at m=16,
  * codes=256, dim=768 the codebooks are 196k doubles — if they enter
  * the plan as SQL literal TEXT (`array(array(CAST('…' AS DOUBLE)…`)
  * the analyzed tree carries ~400k expression nodes, re-parsed and
  * re-analyzed per query and shipped in every task's serialized plan.
  * With the typed-Literal form each constant is ONE node, so the
  * analyzed expression count stays flat in the codebook size. These
  * specs pin that property and re-verify encoder/ADC arithmetic at
  * the production shape (the sf0.01 golden pins only exercise
  * m=8/codes=16/dim=64).
  */
class SimilarityPqShapeSpec extends SparkSpec {

  private val m = 16
  private val codes = 256
  private val dims = 768
  private val subDim = dims / m

  /** Expression nodes across the whole analyzed plan: a typed Literal
    * counts 1 regardless of payload size; inlined literal text counts
    * one node per element.
    */
  private def exprNodes(df: DataFrame): Long =
    df.queryExecution.analyzed
      .collect { case p =>
        p.expressions.map { e =>
          var n = 0L
          e.foreach(_ => n += 1)
          n
        }.sum
      }
      .sum

  // deterministic, integer-derived codebooks/vectors (no RNG)
  private lazy val cbs: Array[Array[Array[Double]]] =
    Array.tabulate(m, codes, subDim)((s, c, k) => ((s * 31 + c * 7 + k * 3) % 13 - 6).toDouble)

  private lazy val model = Similarity.PqModel(subDim, cbs)

  private def syntheticEmb(n: Int): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    (0L until n.toLong)
      .map(i => (i, i % 4, Array.tabulate(dims)(k => ((i * 17 + k) % 9 - 4).toFloat)))
      .toDF("vec_id", "label", "embedding")
  }

  test("production-shape encode: plan is codebook-size-flat and matches the scalar argmin") {
    val enc = Similarity.pqEncode(syntheticEmb(6), model)
    val nodes = exprNodes(enc)
    assert(
      nodes < 10000L,
      s"analyzed plan carries $nodes expression nodes at m=$m codes=$codes dim=$dims — " +
        "codebooks re-entered the plan as SQL text?"
    )
    val got = enc
      .select("vec_id", "v", "pq")
      .collect()
      .map(r =>
        (
          r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Double]]("v").toArray,
          r.getAs[scala.collection.Seq[Int]]("pq").toSeq
        )
      )
    assert(got.length == 6)
    got.foreach { case (id, v, pqCodes) =>
      val expected = model.codebooks.zipWithIndex.map { case (cb, s) =>
        val sub = v.slice(s * subDim, (s + 1) * subDim)
        val d = cb.map(c => sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
        d.indexOf(d.min)
      }.toSeq
      assert(pqCodes == expected, s"vec $id")
    }
  }

  test("production-shape batched kNN join: plan stays flat, ADC matches the scalar LUT fold") {
    val spark0 = spark
    import spark0.implicits._
    val nLists = 8
    val nVecs = 64
    val dir = tempDir("graft_pq_shape").toString

    // synthetic persisted index at production shape: codes assigned by
    // an integer formula (NOT by encoding — this test pins the SERVE
    // arithmetic, not the encoder, which the test above covers)
    val pqOf: Long => Seq[Int] = id => (0 until m).map(s => ((id * 13 + s * 5) % codes).toInt)
    val assignments = (0L until nVecs.toLong)
      .map { i =>
        (i, i % 4, pqOf(i), 1.0 + (i % 7) * 0.25, (i % nLists).toInt)
      }
      .toDF("vec_id", "label", "pq", "vnorm", "list_id")
    assignments
      .repartition(col("list_id"))
      .write
      .partitionBy("list_id")
      .parquet(s"$dir/assignments")
    (0 until nLists)
      .map(l => (l, Array.tabulate(dims)(k => ((l * 29 + k) % 11 - 5).toDouble)))
      .toDF("list_id", "centroid")
      .coalesce(1)
      .write
      .parquet(s"$dir/centroids")
    cbs.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, i) => (s, i, c) } }
      .toSeq
      .toDF("sub_id", "code_id", "centroid")
      .coalesce(1)
      .write
      .parquet(s"$dir/pq_codebooks")

    val qvOf: Long => Array[Double] = q => Array.tabulate(dims)(k => ((q * 23 + k) % 7 - 3).toDouble)
    val qs = Seq(0L, 1L).map(q => (q, qvOf(q))).toDF("qid", "qv")
    val res = Similarity.pqKnnJoin(spark, dir, qs, k = 5, nProbe = 3)

    val nodes = exprNodes(res)
    assert(
      nodes < 10000L,
      s"analyzed kNN-join plan carries $nodes expression nodes — codebooks as SQL text?"
    )

    val rows = res.collect()
    assert(rows.length == 10, s"expected 2 qids × k=5, got ${rows.length}")
    Seq(0L, 1L).foreach { q =>
      val mine = rows.filter(_.getAs[Long]("qid") == q)
      assert(mine.map(_.getAs[Long]("rank")).toSeq == (1L to 5L), s"qid $q ranks")
      val cos = mine.map(_.getAs[Double]("adc_cos")).toSeq
      assert(cos == cos.sorted.reverse, s"qid $q adc_cos not descending")
      // scalar ADC reference for every returned row
      val qv = qvOf(q)
      val qnorm = math.sqrt(qv.map(x => x * x).sum)
      mine.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        val vnorm = 1.0 + (id % 7) * 0.25
        val dot = (0 until m).map { s =>
          val cb = cbs(s)(pqOf(id)(s))
          (0 until subDim).map(j => qv(s * subDim + j) * cb(j)).sum
        }.sum
        val expected = BigDecimal(dot / (vnorm * qnorm))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        assert(
          math.abs(r.getAs[Double]("adc_cos") - expected) < 2e-6,
          s"qid $q vec $id adc_cos ${r.getAs[Double]("adc_cos")} != scalar $expected"
        )
      }
    }
  }
}
