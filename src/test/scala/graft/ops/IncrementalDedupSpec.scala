package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted-index incremental dedup route (Dedup.saveMinhashIndex
  * + incrementalDedup): the serve-side shape a 100 TB pipeline runs —
  * sign the corpus once, probe each arriving batch.
  */
class IncrementalDedupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def buildIndex(): String = {
    val idx = tempDir("graft_mh_spec").toString
    val docs = Fixtures.documents(spark, sfDir)
    Dedup.saveMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    idx
  }

  test("routes partition by parity and increment refs keep ref < new") {
    val idx = buildIndex()
    val inc = Fixtures.documents(spark, sfDir).filter(col("doc_id") % 2 =!= 0)
    val out = Dedup.incrementalDedup(inc, "doc_id", "text", idx, minMatches = 4).collect()
    assert(out.nonEmpty, "fixture corpus should contain near-dups across the parity split")
    out.foreach { r =>
      val (newId, refId, src) = (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"), r.getAs[String]("src"))
      assert(newId % 2 != 0, s"new_id $newId must come from the increment")
      if (src == "index") assert(refId % 2 == 0, s"index ref $refId must be an indexed doc")
      else { assert(refId % 2 != 0 && refId < newId, s"increment ref $refId vs $newId") }
      assert(r.getAs[Double]("est_jaccard") == r.getAs[Long]("n_match").toDouble / 8.0)
    }
  }

  test("incremental flags equal the full-corpus LSH agreement pairs touching the increment") {
    val idx = buildIndex()
    val docs = Fixtures.documents(spark, sfDir)
    val inc = docs.filter(col("doc_id") % 2 =!= 0)
    val out = Dedup
      .incrementalDedup(inc, "doc_id", "text", idx, minMatches = 4)
      .collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"), r.getAs[Long]("n_match")))
      .toSet
    // full-corpus reference: band-join candidates over ALL docs, scored
    // by the same k-of-8 agreement, restricted to pairs with >= 1 odd
    // member, re-keyed to the incremental (new, ref) orientation
    val sig = Dedup.minhashSignature(Dedup.shingles(docs, "doc_id", "text")).cache()
    val bands = Dedup.bandKeys(sig)
    val cand = bands
      .select(col("doc_id").as("a"), col("band_id"), col("band_key"))
      .join(
        bands.select(col("doc_id").as("b"), col("band_id").as("bi"), col("band_key").as("bk")),
        col("band_id") === col("bi") && col("band_key") === col("bk") && col("a") < col("b")
      )
      .select("a", "b")
      .distinct()
    val hMatch = (0 until 8).map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    val scored = cand
      .join(sig.as("sa"), col("a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("b") === col("sb.doc_id"))
      .withColumn("n_match", expr(hMatch).cast("bigint"))
      .filter(col("n_match") >= 4)
      .select("a", "b", "n_match")
      .collect()
      .flatMap { r =>
        val (a, b, m) = (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("n_match"))
        (a % 2, b % 2) match {
          case (1, 1) => Some((b.max(a), a.min(b), m)) // increment pair: new = larger
          case (1, 0) => Some((a, b, m)) // new = the odd member
          case (0, 1) => Some((b, a, m))
          case _ => None // both indexed: not the increment's concern
        }
      }
      .toSet
    assert(out == scored, s"incremental=${out.size} full=${scored.size} diff=${(out diff scored) ++ (scored diff out)}")
  }

  test("probe-then-append loop: batch 2 sees batch 1 as indexed history") {
    val idx = buildIndex()
    val docs = Fixtures.documents(spark, sfDir)
    // two arriving batches partition the odd docs by doc_id % 4
    val batch1 = docs.filter(col("doc_id") % 4 === 1)
    val batch2 = docs.filter(col("doc_id") % 4 === 3)
    val out1 = Dedup.incrementalDedup(batch1, "doc_id", "text", idx, minMatches = 4).collect()
    Dedup.appendToMinhashIndex(batch1, "doc_id", "text", idx)
    val out2 = Dedup.incrementalDedup(batch2, "doc_id", "text", idx, minMatches = 4).collect()
    // batch 1 probes only the original even-id index
    out1.foreach(r => assert(r.getAs[String]("src") == "increment" || r.getAs[Long]("ref_id") % 2 == 0))
    // batch 2's 'index' refs now include batch-1 (doc_id % 4 == 1) docs
    val refs2 = out2.filter(_.getAs[String]("src") == "index").map(_.getAs[Long]("ref_id"))
    assert(refs2.exists(_ % 4 == 1), s"batch 2 should match appended batch-1 history: ${refs2.toSeq}")
    // and the two-batch union equals a one-shot dedup of all odd docs
    // (every pair reports exactly once, whichever batch surfaced it)
    val oneShot = Dedup
      .incrementalDedup(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", buildIndex(), minMatches = 4)
      .collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"), r.getAs[Long]("n_match")))
      .toSet
    val batched = (out1 ++ out2).map { r =>
      val (n, ref) = (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"))
      // one-shot keys increment pairs as (larger, smaller); a cross-
      // batch pair surfaces with batch-2's doc as new_id regardless of
      // id order, so re-key to the same orientation before comparing
      (n.max(ref), n.min(ref), r.getAs[Long]("n_match"))
    }.toSet
    val oneShotKeyed = oneShot.map { case (n, ref, m) => (n.max(ref), n.min(ref), m) }
    assert(batched == oneShotKeyed, s"batched=${batched.size} oneShot=${oneShotKeyed.size}")
  }

  test("cold start: probing a never-seeded index flags increment self-pairs only") {
    val idx = tempDir("graft_mh_cold").toString + "/never_written"
    val inc = Fixtures.documents(spark, sfDir).filter(col("doc_id") % 2 =!= 0)
    val out = Dedup.incrementalDedup(inc, "doc_id", "text", idx, minMatches = 4).collect()
    assert(out.nonEmpty, "self-pairs among the odd docs should still flag")
    assert(out.forall(_.getAs[String]("src") == "increment"), "an empty index contributes no refs")
    // and the self-pairs equal the increment route of a seeded probe
    val seeded = Dedup
      .incrementalDedup(inc, "doc_id", "text", buildIndex(), minMatches = 4)
      .filter(col("src") === "increment")
      .collect()
      .map(_.toSeq)
      .toSet
    assert(out.map(_.toSeq).toSet == seeded)
  }

  test("a replayed append (at-least-once retry) does not fan out later batches' flags") {
    val idx = buildIndex()
    val docs = Fixtures.documents(spark, sfDir)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
    val b2 = docs.filter(col("doc_id") % 4 === 3)
    Dedup.appendToMinhashIndex(b1, "doc_id", "text", idx)
    val once = Dedup.incrementalDedup(b2, "doc_id", "text", idx, minMatches = 4).collect().map(_.toSeq)
    Dedup.appendToMinhashIndex(b1, "doc_id", "text", idx) // the replay
    val twice = Dedup.incrementalDedup(b2, "doc_id", "text", idx, minMatches = 4).collect().map(_.toSeq)
    assert(once.toSeq == twice.toSeq, "duplicate signature rows must collapse at output size")
  }

  private def dataFileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.startsWith("part-")) 1
      else 0
    walk(new java.io.File(dir))
  }

  test("compaction bounds index file counts and probes are bit-identical pre/post") {
    val idx = buildIndex()
    val docs = Fixtures.documents(spark, sfDir)
    // K appends accrete one file per append per band partition
    (1L to 3L).foreach { r =>
      Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 8 === r * 2 - 1), "doc_id", "text", idx)
    }
    val probe = docs.filter(col("doc_id") % 8 === 7)
    val before = Dedup.incrementalDedup(probe, "doc_id", "text", idx, minMatches = 4).collect().map(_.toSeq)
    val filesBefore = dataFileCount(idx)
    Dedup.compactMinhashIndex(spark, idx, sigPartitions = 2)
    val filesAfter = dataFileCount(idx)
    // bands: 4 partitions × 1 file; signatures: sigPartitions files
    assert(filesAfter == 4 + 2, s"expected compacted layout, got $filesAfter files")
    assert(filesAfter < filesBefore, s"compaction must shrink file count ($filesBefore -> $filesAfter)")
    val after = Dedup.incrementalDedup(probe, "doc_id", "text", idx, minMatches = 4).collect().map(_.toSeq)
    assert(before.toSeq == after.toSeq, "compaction must not change probe results")
  }

  test("a saved index serves repeated increments deterministically") {
    val idx = buildIndex()
    val inc = Fixtures.documents(spark, sfDir).filter(col("doc_id") % 2 =!= 0)
    def run() =
      Dedup.incrementalDedup(inc, "doc_id", "text", idx, minMatches = 4).collect().map(_.toSeq).toSeq
    assert(run() == run())
  }

  test("an index rebuilt from scratch equals one grown by appends — probes bit-identical") {
    // disaster-recovery contract: signatures are pure functions of the
    // documents, so a full rebuild and an append-grown index must be
    // interchangeable for every future probe
    val docs = Fixtures.documents(spark, sfDir)
    val base = tempDir("graft_mh_rebuild")
    val rebuilt = base.resolve("rebuilt").toString
    val grown = base.resolve("grown").toString
    Dedup.saveMinhashIndex(docs, "doc_id", "text", rebuilt)
    Dedup.saveMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", grown)
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", grown)
    // probe with an id-shifted copy of a fixture slice so ids cannot
    // collide with indexed history
    val probe = docs
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    def flags(idx: String) =
      Dedup
        .incrementalDedup(probe, "doc_id", "text", idx, minMatches = 4)
        .collect()
        .map(_.toSeq)
        .toSeq
    assert(flags(rebuilt) == flags(grown))
  }
}
