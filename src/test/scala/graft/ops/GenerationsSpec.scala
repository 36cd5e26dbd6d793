package graft.ops

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class GenerationsSpec extends SparkSpec {
  import Search.Analyzer.Folded

  /** One index kind under the shared protocol: `build` applies batch 0
    * onto an empty dir, `replay` applies batch 1 (the batch a crash
    * interrupted), `probe` is its serving answer. `rels` are the dirs
    * a crashed attempt writes `gbatch-<gen>-*` files into (relations,
    * increments, ledger); `victim` is an id batch 1 leaves alone.
    * `meta` reads (meta rows, ledger sums) for the ledgered kinds.
    */
  private case class KindCase(
      name: String,
      keyCol: String,
      rels: Seq[String],
      victim: Long,
      build: String => Unit,
      replay: String => Unit,
      probe: String => Seq[Seq[Any]],
      meta: Option[(String => Set[Seq[Any]], String => Set[Seq[Any]])],
      delete: String => Unit,
      compact: String => Unit,
      saved: Saved
  )

  /** A kind's save* entry point `save` over the doc set `d`, its batch
    * apply `apply0` of batch 0 with `b` (ids disjoint from `d`'s), the
    * doc-keyed relation `ids` whose live keys are compared, and
    * whether the probe must equal a one-shot save of d ∪ b (IVF refits
    * its centroids, so only its live ids compare).
    */
  private case class Saved(
      save: (DataFrame, String) => Unit,
      apply0: (DataFrame, String) => Unit,
      d: DataFrame,
      b: DataFrame,
      ids: String,
      sameProbe: Boolean = true
  )

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private def sorted(df: DataFrame): Seq[Seq[Any]] = rows(df).sortBy(_.mkString("|"))

  private def cases: Seq[KindCase] = {
    val s = spark
    import s.implicits._
    val base = Seq((10L, "Cat base"), (11L, "dog base")).toDF("doc_id", "text")
    val b0 = Seq((1L, "cat dog"), (2L, "Bird seed"), (3L, "cat tail")).toDF("doc_id", "text")
    val b1 = Seq((3L, "fish tail!"), (4L, "dog days cat")).toDF("doc_id", "text")
    val fields = Seq("title", "body")
    val f0 = Seq((1L, "big cat", "dog runs"), (2L, "small dog", "cat naps"), (5L, "bird", "seed"))
      .toDF("doc_id", "title", "body")
    val f1 = Seq((2L, "bird song", "cat dog bird")).toDF("doc_id", "title", "body")
    val s0 = Seq((1L, "cat dog", "en"), (2L, "bird seed", "de")).toDF("doc_id", "text", "lang")
    val s1 = Seq((2L, "fish tail", "fr"), (3L, "new doc", "en")).toDF("doc_id", "text", "lang")
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    Seq(
      KindCase(
        "postings with the folded tier",
        "doc_id",
        Seq("postings", "positions", "apostings", "apositions", "doclen", "vocab_inc", "avocab_inc", "meta_inc"),
        victim = 1L,
        build = dir => {
          Search.saveSearchIndex(base, "doc_id", "text", dir, analyzed = true)
          Search.applySearchIndexBatch(b0, "doc_id", "text", dir, 0L, analyzed = true)
        },
        replay = Search.applySearchIndexBatch(b1, "doc_id", "text", _, 1L, analyzed = true, upsert = true),
        probe = dir =>
          rows(Search.bm25FromIndex(s, dir, Seq("cat", "dog", "seed"), 10, Folded)) ++
            rows(Search.bm25FromIndex(s, dir, Seq("cat", "dog", "seed"), 10)) ++
            rows(Search.phraseFromIndex(s, dir, Seq("cat", "dog"), Folded)) ++
            rows(Search.autocomplete(s, dir, "d", 5, Folded)),
        meta = Some(
          (
            dir =>
              rows(
                s.read.parquet(s"$dir/meta").select("n_docs", "total_toks")
                  .crossJoin(s.read.parquet(s"$dir/ameta").select("total_atoks"))
              ).toSet,
            dir =>
              rows(
                s.read.parquet(s"$dir/meta_inc")
                  .agg(sum("n_docs"), sum("total_toks"), sum(coalesce(col("total_atoks"), lit(0L))))
              ).toSet
          )
        ),
        delete = Search.deleteFromSearchIndex(s, _, Seq(2L)),
        compact = Search.compactSearchIndex(s, _),
        saved = Saved(
          Search.saveSearchIndex(_, "doc_id", "text", _, analyzed = true),
          Search.applySearchIndexBatch(_, "doc_id", "text", _, 0L, analyzed = true),
          base,
          b0,
          "doclen"
        )
      ),
      KindCase(
        "fielded",
        "doc_id",
        Seq("fpostings", "fdoclen", "fmeta_inc"),
        victim = 1L,
        build = Search.applyFieldedIndexBatch(f0, "doc_id", fields, _, 0L),
        replay = Search.applyFieldedIndexBatch(f1, "doc_id", fields, _, 1L, upsert = true),
        probe = dir =>
          rows(Search.bm25fFromIndex(s, dir, Seq("cat", "dog", "bird"), Seq("title" -> 2L, "body" -> 1L), 10)),
        meta = Some(
          (
            dir => rows(s.read.parquet(s"$dir/fmeta")).toSet,
            dir => rows(s.read.parquet(s"$dir/fmeta_inc").groupBy("field").agg(sum("n_docs"), sum("total_toks"))).toSet
          )
        ),
        delete = dir => Search.deleteFromFieldedIndex(s, dir, Seq(5L).toDF("doc_id")),
        compact = Search.compactFieldedIndex(s, _),
        saved = Saved(
          Search.saveFieldedSearchIndex(_, "doc_id", fields, _),
          Search.applyFieldedIndexBatch(_, "doc_id", fields, _, 0L),
          f0,
          Seq((7L, "cat bird", "dog days"), (8L, "title", "cat")).toDF("doc_id", "title", "body"),
          "fdoclen"
        )
      ),
      KindCase(
        "doc store",
        "doc_id",
        Seq("docs"),
        victim = 1L,
        build = Search.applyDocStoreBatch(s0, "doc_id", "text", _, 0L, Seq("lang")),
        replay = Search.applyDocStoreBatch(s1, "doc_id", "text", _, 1L, Seq("lang"), upsert = true),
        probe = dir => sorted(Generations.liveRows(s, dir, s.read.parquet(s"$dir/docs")).select("doc_id", "text", "lang")),
        meta = None,
        delete = dir => Search.deleteFromDocStore(s, dir, Seq(3L).toDF("doc_id")),
        compact = Search.compactDocStore(s, _),
        saved = Saved(
          Search.saveDocStore(_, "doc_id", "text", _, Seq("lang")),
          Search.applyDocStoreBatch(_, "doc_id", "text", _, 0L, Seq("lang")),
          s0,
          s1.filter(col("doc_id") =!= 2L),
          "docs"
        )
      ),
      KindCase(
        "IVF",
        "vec_id",
        Seq("assignments"),
        victim = 3L,
        build = dir => {
          Similarity.saveIvfIndex(emb.filter(col("vec_id") % 2 === 0), 8, dir)
          Similarity.applyIvfIndexBatch(emb.filter(col("vec_id") % 2 =!= 0 && col("vec_id") < 40), dir, 0L)
        },
        replay = Similarity.applyIvfIndexBatch(emb.filter(col("vec_id") % 5 === 1 && col("vec_id") < 80), _, 1L, upsert = true),
        probe = dir =>
          sorted(
            Generations.liveRows(s, dir, s.read.parquet(s"$dir/assignments"), keyCol = "vec_id")
              .select("vec_id", "list_id")
          ) ++ rows(Similarity.ivfTopKFromIndex(s, dir, queryId = 0L, k = 10, nProbe = 8)),
        meta = None,
        delete = Similarity.deleteFromIvfIndex(s, _, Seq(7L)),
        compact = Similarity.compactIvfIndex(s, _),
        saved = Saved(
          Similarity.saveIvfIndex(_, 8, _),
          Similarity.applyIvfIndexBatch(_, _, 0L),
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0 && col("vec_id") < 40),
          "assignments",
          sameProbe = false
        )
      )
    )
  }

  /** Plant what a crashed attempt of the generation-`gen` batch leaves:
    * a stale `gbatch-<gen>-*` copy of a live file in every relation, a
    * tombstone at asof = gen for an id the batch does not touch, and a
    * half-written staged dir.
    */
  private def plantCrash(dir: String, k: KindCase, gen: Long): Unit = {
    import spark.implicits._
    k.rels.foreach { r =>
      val live = Files.walk(Paths.get(dir, r)).iterator.asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
        .toSeq
      assert(live.nonEmpty, s"${k.name}: no live file under $r to copy")
      Files.copy(live.head, live.head.resolveSibling(s"gbatch-$gen-9.parquet"))
    }
    val t = tempDir("graft_gen_tomb").resolve("t").toString
    Seq((k.victim, gen)).toDF(k.keyCol, "asof").coalesce(1).write.parquet(t)
    val part = Files.list(Paths.get(t)).iterator.asScala.find(_.getFileName.toString.startsWith("part-")).get
    Files.createDirectories(Paths.get(dir, "tombstones"))
    Files.copy(part, Paths.get(dir, "tombstones", s"gbatch-$gen-9.parquet"))
    val staged = Paths.get(dir, "_stage_1", k.rels.head)
    Files.createDirectories(staged)
    Files.copy(part, staged.resolve("part-00000-junk.parquet"))
  }

  test("a crashed attempt's files are cleaned on replay: same answer, meta = ledger sum, delete+compact drains tombstones") {
    cases.foreach { k =>
      def fresh(): String = tempDir("graft_gen_crash").resolve("idx").toString
      val clean = fresh()
      val crashed = fresh()
      Seq(clean, crashed).foreach(k.build)
      k.replay(clean)
      val gen = graft.core.Compaction.readTextFile(spark, s"$crashed/_gen_base").get.trim.toLong + 1L
      plantCrash(crashed, k, gen)
      k.replay(crashed)
      assert(k.probe(crashed) == k.probe(clean), s"${k.name}: the replay must answer like a clean apply")
      assert(!Files.exists(Paths.get(crashed, "_stage_1")), s"${k.name}: the stale staged dir must be gone")
      k.meta.foreach { case (meta, ledger) =>
        assert(meta(crashed) == ledger(crashed), s"${k.name}: meta must equal the ledger sum")
        assert(meta(crashed) == meta(clean), s"${k.name}: meta must equal a clean apply's")
      }
      k.delete(crashed)
      assert(Files.exists(Paths.get(crashed, "tombstones")))
      k.compact(crashed)
      assert(!Files.exists(Paths.get(crashed, "tombstones")), s"${k.name}: compaction must consume the tombstones")
    }
  }

  test("a built index is generation −1: adopting it keeps every built row and equals a one-shot build") {
    import spark.implicits._
    cases.foreach { k =>
      val c = k.saved
      val dir = tempDir("graft_gen_built").resolve("idx").toString
      val oneShot = tempDir("graft_gen_oneshot").resolve("idx").toString
      c.save(c.d, dir)
      val names = Files.walk(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSeq
      assert(!names.exists(_.startsWith("gbatch-")), s"${k.name}: a build writes no gbatch file")
      assert(!names.exists(_.endsWith("meta_inc")), s"${k.name}: a build writes no ledger")
      assert(!Files.exists(Paths.get(dir, "_gen_base")), s"${k.name}: a build records no generation base")
      c.apply0(c.b, dir)
      assert(
        graft.core.Compaction.readTextFile(spark, s"$dir/_gen_base").map(_.trim).contains("0"),
        s"${k.name}: adopting a built index starts at generation 0"
      )
      c.save(c.d.unionByName(c.b), oneShot)
      def liveIds(d: String): Set[Long] =
        Generations.liveRows(spark, d, spark.read.parquet(s"$d/${c.ids}"), keyCol = k.keyCol)
          .select(col(k.keyCol).cast("long")).as[Long].collect().toSet
      val want = c.d.unionByName(c.b).select(col(k.keyCol).cast("long")).as[Long].collect().toSet
      assert(liveIds(dir) == want, s"${k.name}: no built row may be lost to the batch's generation")
      assert(liveIds(oneShot) == want, s"${k.name}: the one-shot build holds d ∪ b")
      if (c.sameProbe) assert(k.probe(dir) == k.probe(oneShot), s"${k.name}: adopted ≡ one-shot")
      k.meta.foreach { case (meta, _) =>
        assert(meta(dir) == meta(oneShot), s"${k.name}: adopted meta must equal a one-shot build's")
      }
    }
  }

  test("a rebuild onto a used index dir inherits none of its generation state") {
    import spark.implicits._
    val dir = tempDir("graft_gen_rebuild").resolve("idx").toString
    Search.saveSearchIndex(Seq((1L, "cat dog"), (2L, "cat")).toDF("doc_id", "text"), "doc_id", "text", dir)
    Search.deleteFromSearchIndex(spark, dir, Seq(2L))
    Search.saveSearchIndex(Seq((2L, "cat bird"), (3L, "cat")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val got = Search.conjunctiveFromIndex(spark, dir, Seq("cat"), 10).select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L), "the old tombstone of doc 2 must not kill its rebuilt rows")
    assert(!Files.exists(Paths.get(dir, "tombstones")))
  }
}
