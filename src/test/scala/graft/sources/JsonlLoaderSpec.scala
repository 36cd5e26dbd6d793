package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class JsonlLoaderSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType()
    .add("doc_id", "long")
    .add("lang", "string")
    .add("text", "string")

  test("quarantine catches non-JSON, truncated JSON and type mismatches verbatim") {
    val dir = tempDir("graft_jsonl_spec").resolve("src").toString
    Seq((1L, "en", "good one"), (2L, "de", "gut zwei"))
      .toDF("doc_id", "lang", "text")
      .coalesce(1)
      .write
      .json(dir)
    val badLines = Seq(
      "garbage line",
      "{\"doc_id\": 3, \"lang\": \"en\", \"text\": \"truncat",
      "{\"doc_id\": \"NaN\", \"lang\": \"xx\", \"text\": \"mismatch\"}"
    )
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bad.txt"),
      scala.jdk.CollectionConverters.SeqHasAsJava(badLines).asJava
    )
    val (good, corrupt, raw) = JsonlLoader.readWithQuarantine(spark, dir, schema)
    try {
      val g = good.orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      assert(g == Seq((1L, "en", "good one"), (2L, "de", "gut zwei")), g.toString)
      val c = corrupt.as[String].collect().sorted.toSeq
      assert(c == badLines.sorted, "quarantine must hold the raw lines verbatim")
      // nothing in the good side carries a null-parse shadow of a bad line
      assert(good.filter(col("doc_id").isNull).count() == 0)
    } finally JsonlLoader.release(raw)
  }

  test("repair loop: fixable lines land in good, unfixable stay quarantined verbatim, counts reconcile") {
    // three quarantined lines: a BOM-prefixed valid object (the fix
    // strips it), a trailing-comma object (unfixed by THIS fix), and
    // plain garbage (unfixable by any fix)
    val quarantined = Seq(
      "﻿{\"doc_id\": 7, \"lang\": \"en\", \"text\": \"bom line\"}",
      "{\"doc_id\": 8, \"lang\": \"de\", \"text\": \"comma\",}",
      "total garbage"
    ).toDF("raw_line")
    val stripBom: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => regexp_replace(c, "^﻿", "")
    val (repaired, residue) = JsonlLoader.repairQuarantine(quarantined, schema, stripBom)
    val g = repaired.as[(Long, String, String)].collect().toSeq
    assert(g == Seq((7L, "en", "bom line")), g.toString)
    val r = residue.as[String].collect().sorted.toSeq
    assert(
      r == Seq("total garbage", "{\"doc_id\": 8, \"lang\": \"de\", \"text\": \"comma\",}").sorted,
      s"residue must hold the ORIGINAL raw lines: $r"
    )
    assert(repaired.count() + residue.count() == quarantined.count(), "every line lands on one side")

    // a second round with a trailing-comma fix drains the residue
    // further — the fixed-point loop shape
    val cutComma: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => regexp_replace(c, ",\\s*}", "}")
    val (repaired2, residue2) = JsonlLoader.repairQuarantine(residue, schema, cutComma)
    assert(repaired2.as[(Long, String, String)].collect().toSeq == Seq((8L, "de", "comma")))
    assert(residue2.as[String].collect().toSeq == Seq("total garbage"))

    // a type-mismatch after the fix stays quarantined (reader parity)
    val mismatch = Seq("{\"doc_id\": \"NaN\", \"lang\": \"xx\", \"text\": \"m\"}").toDF("raw_line")
    val (g3, r3) = JsonlLoader.repairQuarantine(mismatch, schema, identity)
    assert(g3.count() == 0 && r3.count() == 1, "type mismatch must not sneak into good")
  }

  test("clean input quarantines nothing and round-trips exactly") {
    val dir = tempDir("graft_jsonl_clean").resolve("src").toString
    val docs = (1L to 50L).map(i => (i, if (i % 2 == 0) "en" else "de", s"text $i"))
    docs.toDF("doc_id", "lang", "text").repartition(3).write.json(dir)
    val (good, corrupt, raw) = JsonlLoader.readWithQuarantine(spark, dir, schema)
    try {
      assert(corrupt.count() == 0)
      assert(good.as[(Long, String, String)].collect().sorted.toSeq == docs.sorted)
    } finally JsonlLoader.release(raw)
  }
}
