package graft.af3

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import graft.SparkSpec

/** A local filesystem under its own scheme whose rename of the final
  * report file reports failure the way Hadoop does: `false`, no
  * exception. Every other rename (Spark's own output commit) succeeds.
  */
class ReportRenameFailsFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("renamefails:///")
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.startsWith("interaction_analysis_") && super.rename(src, dst)
}

/** A local filesystem under a scheme that only the session's Hadoop conf
  * maps to an implementation.
  */
class SessionOnlyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("sessiononly:///")
}

class CifWriterSpec extends SparkSpec {
  import spark.implicits._

  test("writeKeyedText writes through a filesystem known only to the session's Hadoop conf") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.sessiononly.impl", classOf[SessionOnlyFs].getName)
    // no cached instance to fall back on: each task must resolve the
    // scheme from the conf it was shipped
    hc.set("fs.sessiononly.impl.disable.cache", "true")
    val out = Files.createTempDirectory("graft_keyed_text").toFile
    val rendered = Seq(("job_a", 2, "a2"), ("job_a", 1, "a1"), ("job_b/model_0", 1, "b1"))
      .toDF("file_key", "ord", "line")

    CifWriter.writeKeyedText(rendered, s"sessiononly://${out.getPath}", ".txt")

    def read(name: String): Seq[String] =
      Files.readAllLines(new File(out, name).toPath).toArray.toSeq.map(_.toString)
    assert(read("job_a.txt") === Seq("a1", "a2"))
    assert(read("job_b/model_0.txt") === Seq("b1"))
    // every task-attempt temp file was renamed into place
    assert(out.list().toSet === Set("job_a.txt", "job_b"))
  }

  test("writeReportCsv fails on a rename that returns false and keeps the report") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.renamefails.impl", classOf[ReportRenameFailsFs].getName)
    val out = Files.createTempDirectory("graft_report_rename").toFile
    val p = Af3Params()
    val report = spark.createDataFrame(Seq(("job_binder", "2-8", "CDEFGHI", "2-6", "RSTVW")))
      .toDF("folder_name", "contact_residues_poi", "contact_sequence",
        "interacting_residues_partner", "interacting_sequence")

    val err = intercept[RuntimeException] {
      CifWriter.writeReportCsv(report, s"renamefails://${out.getPath}", p)
    }
    assert(err.getMessage.contains("rename"))
    val name = s"interaction_analysis_PAE_${p.maxPaeCutoff}_max_dist_${p.maxDist}"
    assert(!new File(out, s"$name.csv").exists())
    // the part file is still on disk, in the temp dir the failure left
    val parts = Option(new File(out, s".$name.tmp").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.size === 1)
    assert(Files.readAllLines(parts.head.toPath).contains("job_binder,2-8,CDEFGHI,2-6,RSTVW"))
  }
}
