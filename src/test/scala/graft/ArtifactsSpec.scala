package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.suite.Artifacts

/** A local filesystem whose delete fails the two ways Hadoop reports a
  * failure: by throwing (names ending `_throws`) and by returning `false`
  * (names ending `_refuses`).
  */
class DeleteFailsFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("deletefails:///")
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (p.getName.endsWith("_throws")) throw new java.io.IOException("stub refuses to delete")
    else !p.getName.endsWith("_refuses") && super.delete(p, recursive)
}

/** Pins the artifact spill tier's two deletion rules (both were live
  * bugs in round 7's prefix-matched, dir-agnostic form):
  *
  * 1. EXACT-KEY stale deletion — building key "k" must not delete key
  *    "k_sibling"'s spill (a startsWith prefix test did exactly that:
  *    "ivf_dists" claimed "ivf_dists_scaled", and "labels" claimed
  *    "labels_old").
  * 2. DIR-SCOPED stale deletion — building the same (table, key) from a
  *    DIFFERENT input dir (another scale of the same corpus) must leave
  *    the first dir's spill in place; only the same dir's superseded
  *    fingerprint is a stale generation. This is what lets a verify at
  *    sf0.01 and a bench at sf0.1 keep their reload tiers side by side.
  *
  * The spills land in the shared tmp/artifacts root (same as the
  * harness); probe keys are namespaced "spec_probe*" and removed after.
  */
class ArtifactsSpec extends SparkSpec {

  private val dirA = "/root/testdata/sf0.001"
  private val dirB = "/root/testdata/sf0.01"

  private def spillNames(): Seq[String] = {
    val root = new java.io.File("tmp/artifacts")
    Option(root.listFiles()).getOrElse(Array.empty).toSeq.map(_.getName)
  }

  private def cleanupProbes(): Unit = {
    val root = new java.io.File("tmp/artifacts")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains("spec_probe"))
      .foreach { f =>
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete(); ()
        }
        rm(f)
      }
  }

  override def afterAll(): Unit = { cleanupProbes(); super.afterAll() }

  test("sibling keys and sibling dirs survive a build; same-dir rebuild reloads") {
    cleanupProbes()
    val probe = spark.range(3).select(col("id"))

    // sibling key first (the prefix-match victim: its name extends ours)
    Artifacts.memo(spark, dirA, "region", "spec_probe_sibling")(probe)
    assert(spillNames().exists(n =>
      n.startsWith("region_spec_probe_sibling_")), "sibling spill written")

    // now the shorter key — must NOT delete the sibling's spill
    Artifacts.memo(spark, dirA, "region", "spec_probe")(probe)
    assert(spillNames().exists(n =>
      n.startsWith("region_spec_probe_sibling_")),
      "exact-key rule: building key 'spec_probe' must not delete " +
        "'spec_probe_sibling''s spill")

    // same (table, key) from another dir — must coexist, not supersede
    Artifacts.memo(spark, dirB, "region", "spec_probe")(probe)
    val probeSpills = spillNames().filter { n =>
      val cut = n.lastIndexOf('_')
      cut > 0 && n.substring(0, cut).startsWith("region_spec_probe") &&
        !n.contains("sibling")
    }
    assert(probeSpills.size == 2,
      s"dir-scope rule: sf0.001 and sf0.01 spills of the same (table, key) " +
        s"must coexist, found: $probeSpills")

    // a fresh memo after the in-memory cache is dropped must come from
    // the SPILL (reload, not rebuild): the by-name build errors if
    // evaluated, so surviving proves the disk tier — the cross-JVM
    // reload path, exercised in-process
    Artifacts.clear(spark)
    val reloaded = Artifacts.memo(spark, dirA, "region", "spec_probe")(
      sys.error("spill reload expected — build must not re-run"))
    assert(reloaded.count() == 3)
  }

  test("wipeSpill logs the path and cause of each failed delete and wipes the rest") {
    val root = Files.createTempDirectory("graft_wipe").toFile
    val names = Seq("t_k_cafe0001_1", "t_k_cafe0001_throws", "t_k_cafe0001_refuses",
      "t_k_beef0002_1")
    names.foreach(n => new File(root, n).mkdir())
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.deletefails.impl", classOf[DeleteFailsFs].getName)
    conf.set("fs.deletefails.impl.disable.cache", "true")
    val rootPath = new Path(s"deletefails://${root.getPath}")
    val err = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(err, true))
    try Artifacts.wipeSpillUnder(rootPath.getFileSystem(conf), rootPath, "_cafe0001_")
    finally System.setErr(saved)

    assert(root.list().toSet === names.tail.toSet)
    val log = err.toString
    assert(log.contains("t_k_cafe0001_throws: java.io.IOException: stub refuses to delete"))
    assert(log.contains("t_k_cafe0001_refuses: delete returned false"))
    assert(!log.contains("t_k_cafe0001_1") && !log.contains("beef0002"))
  }
}
