package graft.suite

import java.nio.file.Files

import graft.SparkSpec

class BigramCountsSpec extends SparkSpec {
  import spark.implicits._

  /** A directory holding only a `documents` table with these texts. */
  private def documentsDir(texts: Seq[Option[String]]): String = {
    val dir = Files.createTempDirectory("graft_bigrams").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("sharedBigramCounts drops empty, null and 1-token documents without failing") {
    val texts = Seq(Some("a b c"), Some("b c d a b"))
    val withShort = documentsDir(texts ++ Seq(Some(""), Some("solo"), None))
    val plain = documentsDir(texts)
    try {
      val got = TextQueries.sharedBigramCounts(spark, withShort)
      val want = TextQueries.sharedBigramCounts(spark, plain)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      assert(want.as[(String, String, Long)].collect().toSet ===
        Set(("a", "b", 2L), ("b", "c", 2L), ("c", "d", 1L), ("d", "a", 1L)))
    } finally Seq(withShort, plain).foreach(Artifacts.wipeSpill(spark, _))
  }
}
