package graft

import java.nio.file.{Files, Paths}

/** Pins the correctness gate's abort-proofing: a retried Verify over a
  * half-populated outDir must run ONLY the missing queries and still
  * converge to a manifest covering everything (the driver artifact has
  * zeroed twice; any partial/retried invocation must make progress,
  * never restart).
  */
class VerifySpec extends SparkSpec {

  private def rmTree(p: String): Unit = {
    val f = new java.io.File(p)
    Option(f.listFiles()).getOrElse(Array.empty).foreach(c => rmTree(c.getPath))
    f.delete()
  }

  test("manifest parsing: ok entries round-trip, failed entries are not 'completed'") {
    val m = """{"a_q": {"ok": true, "rows": 3},"b_q": {"ok": false, "error": "boom \"x\""},"c_q": {"ok": true, "rows": 0}}"""
    assert(Verify.manifestEntries(m).map(_._1) == Seq("a_q", "b_q", "c_q"))
    assert(Verify.completedInManifest(m) == Set("a_q", "c_q"))
  }

  test("resume-from-manifest: a second Verify over a half-populated outDir runs only the missing queries") {
    val out = tempDir("graft_verify_resume").toString
    val names = Set("search_kwic", "sketch_distinct")
    val sf = "/root/testdata/sf0.001"
    // first invocation: both queries execute
    val r1 = Verify.run(spark, sf, out, Some(names), threads = 2)
    assert(r1.toSet == names, r1.toString)
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")))
    val m1 = Files.readString(Paths.get(s"$out/MANIFEST.json"))
    assert(Verify.completedInManifest(m1) == names, m1)
    // second invocation over the completed dir: nothing re-runs
    val r2 = Verify.run(spark, sf, out, Some(names), threads = 2)
    assert(r2.isEmpty, s"a completed dir must be a no-op, ran: $r2")
    // simulate the abort: one dump dir lost — ONLY that query re-runs
    rmTree(s"$out/search_kwic")
    val r3 = Verify.run(spark, sf, out, Some(names), threads = 2)
    assert(r3 == Seq("search_kwic"), r3.toString)
    assert(Files.exists(Paths.get(s"$out/search_kwic")))
    // the converged manifest still covers BOTH queries as ok
    val m3 = Files.readString(Paths.get(s"$out/MANIFEST.json"))
    assert(Verify.completedInManifest(m3) == names, m3)
    // a manifest entry without its dump dir is not trusted either:
    // rewrite the manifest claiming a ghost dump and drop the dir
    rmTree(s"$out/sketch_distinct")
    val r4 = Verify.run(spark, sf, out, Some(names), threads = 1)
    assert(r4 == Seq("sketch_distinct"), r4.toString)
    rmTree(out)
  }
}
