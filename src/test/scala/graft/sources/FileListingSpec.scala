package graft.sources

import java.nio.file.Files
import graft.SparkSpec

class FileListingSpec extends SparkSpec {

  private def mkFiles(n: Int): java.nio.file.Path = {
    val dir = tempDir("graft_listing")
    (0 until n).foreach { i =>
      Files.writeString(dir.resolve(f"data_$i%03d.csv"), "x,y\n1,2\n")
    }
    Files.writeString(dir.resolve("ignore.txt"), "not a csv\n")
    dir
  }

  test("paged listing: bounded pages, complete union, glob filter") {
    val dir = mkFiles(10)
    val pages = FileListing
      .listPaged(spark, dir.toString, pattern = "*.csv", pageSize = 3)
      .toSeq
    // every page respects the bound — the continuation-token analog
    assert(pages.forall(_.size <= 3))
    assert(pages.exists(_.size == 3))
    // the union is exactly the matching files, none lost or duplicated
    val names = pages.flatten.map(_.file_name).sorted
    assert(names == (0 until 10).map(i => f"data_$i%03d.csv"))
    // and matches the one-shot glob listing
    val oneShot = FileListing.list(spark, s"$dir/*.csv").map(_.file_name)
    assert(names == oneShot)
  }

  test("paged listing: URL mode emits fully-qualified URIs") {
    val dir = mkFiles(2)
    val urls = FileListing
      .listPaged(spark, dir.toString, pattern = "*.csv", pageSize = 10, generateUrls = true)
      .flatten
      .map(_.file_name)
      .toSeq
    assert(urls.nonEmpty && urls.forall(u => u.startsWith("file:") && u.endsWith(".csv")))
  }
}
