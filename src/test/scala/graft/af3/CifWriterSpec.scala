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

class CifWriterSpec extends SparkSpec {

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
