package graft.af3

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{JsonFileReader, PaeBlockHitsExpr}
import org.apache.spark.util.SerializableConfiguration

import graft.functions.Scalars

/** One chain of a job's model 0 (agg_chain_info, py:152-176). */
final case class ChainRow(chain: String, residue_length: Long, sequence: String)

/** Where [[graft.Af3Run]] writes the per-job structure outputs (py:555-558). */
final case class Af3Outputs(interactionDir: String, overlayDir: String)

/** One binder job's analysis rows, as its task returns them, and the
  * task's [[Af3Jobs.Counters]] in that order.
  */
final case class JobResult(job_dir: String, info: Seq[ChainRow], interacting: Seq[Int],
    contacts: Seq[(Int, Int)], islands: Seq[PartnerIsland], counters: Seq[Long])

/** The fused per-job executor: one Spark task per binder job reads the
  * job's bytes and runs every per-job rule of [[Af3Pipeline]] in memory
  * (the reference's per-folder loop, py:543-579).
  */
object Af3Jobs {

  /** The task counters: counts, then nanoseconds of task time per stage. */
  val Counters: Seq[String] = Seq("models", "atoms", "pae_cells", "interacting", "contacts",
    "islands", "files", "parse_ns", "pae_ns", "contacts_ns", "islands_ns", "sinks_ns")

  /** One job's model files as (model_idx, path) and `full_data` paths. */
  private final case class JobFiles(job: String, models: Seq[(Int, String)], fullData: Seq[String])

  /** Run the `binders` under `inputDir` as one Spark job of one task per
    * binder, results in `binders` order, over the files [[CifParser.modelFiles]] and
    * [[Af3Io.fullDataFiles]] list. With `out`, each task also writes its
    * job's structure outputs ([[CifWriter.writeJob]]).
    */
  private[af3] def run(spark: SparkSession, inputDir: String, binders: Seq[String], p: Af3Params,
      out: Option[Af3Outputs]): Seq[JobResult] = {
    val models = CifParser.modelFiles(spark, inputDir).groupMap(_._1)(f => (f._2, f._3))
    val fullData = Af3Io.fullDataFiles(spark, inputDir).groupBy(Scalars.parentDirName)
    val jobs = binders.map(j => JobFiles(j, models.getOrElse(j, Nil).sorted,
      fullData.getOrElse(j, Nil).sorted))
    if (jobs.isEmpty) return Nil
    val reader = Af3Io.fullDataReader(spark)
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    JsonFileReader.withSessionConf(spark) {
      spark.sparkContext.parallelize(jobs, jobs.size)
        .map(runJob(_, p, reader, conf, out))
        .collect().toSeq
    }
  }

  private def runJob(f: JobFiles, p: Af3Params, reader: JsonFileReader,
      conf: SerializableConfiguration, out: Option[Af3Outputs]): JobResult = {
    val counters = scala.collection.mutable.LinkedHashMap(Counters.map(_ -> 0L): _*)
    def add(k: String, n: Long): Unit = counters(k) += n
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally add(k, System.nanoTime() - t0)
    }
    def parse(m: Int): Seq[CifAtom] = timed("parse_ns") {
      f.models.filter(_._1 == m).flatMap { case (_, url) =>
        val path = SparkPath.fromUrlString(url).toPath
        val in = path.getFileSystem(conf.value).open(path)
        val bytes = try in.readAllBytes() finally in.close()
        val atoms = CifParser.parseAtomSite(f.job, m, CifParser.decodeText(bytes)).toSeq
        add("models", 1); add("atoms", atoms.size)
        atoms
      }
    }

    val model0 = parse(0)
    val info = Af3Pipeline.chainInfoOf(model0)
    val interacting = timed("pae_ns") {
      Af3Pipeline.paeBlock(info.map(c => (c.chain, c.residue_length)), p).toSeq.flatMap {
        case (a, b, c, d) =>
          f.fullData.flatMap(url => Af3Io.paeMatrices(reader.read(url))).flatMap { pae =>
            add("pae_cells", (0 until pae.numElements()).map(i =>
              if (pae.isNullAt(i)) 0L else pae.getArray(i).numElements().toLong).sum)
            PaeBlockHitsExpr.hits(pae, a, b, c, d, p.maxPaeCutoff, p.minResidues).toIntArray()
          }
      }
    }
    val contacts = timed("contacts_ns")(Af3Pipeline.contactsOf(model0, interacting.toSet, p))
    val islands = timed("islands_ns")(Af3Pipeline.islandsOf(f.job, contacts.toSeq))
    add("interacting", interacting.size); add("contacts", contacts.length)
    add("islands", islands.size)

    for (o <- out) {
      val members = islands.flatMap(_.members).toSet
      val byModel = f.models.map(_._1).distinct.iterator
        .map(m => m -> (if (m == 0) model0 else parse(m)))
      val parsed = counters("parse_ns")
      val t0 = System.nanoTime()
      add("files", CifWriter.writeJob(f.job, byModel, members, p, o, conf.value))
      // the sink's time without the parses of models 1.. it pulled
      add("sinks_ns", System.nanoTime() - t0 - (counters("parse_ns") - parsed))
    }
    JobResult(f.job, info, interacting, contacts.toSeq, islands, counters.values.toSeq)
  }
}
