package graft.af3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.JsonFileReader

/** One chain of a job's model 0 (agg_chain_info, py:152-176). */
final case class ChainRow(chain: String, residue_length: Long, sequence: String)

/** Where [[graft.Af3Run]] writes the per-job structure outputs (py:555-558). */
final case class Af3Outputs(interactionDir: String, overlayDir: String)

/** One binder job's analysis rows, as its task returns them, and the
  * task's [[Af3Jobs.Counters]] in that order.
  */
final case class JobResult(job_dir: String, info: Seq[ChainRow], interacting: Seq[Int],
    contacts: Seq[(Int, Int)], islands: Seq[PartnerIsland], counters: Seq[Long])

/** The fused per-job executor: one Spark task per job directory that
  * holds a summary reads the job's bytes, applies the gate and, for a
  * binder, runs every per-job rule of [[Af3Pipeline]] in memory (the
  * reference's per-folder loop, py:543-579).
  */
object Af3Jobs {

  /** The task counters: counts, then nanoseconds of task time per stage. */
  val Counters: Seq[String] = Seq("models", "atoms", "pae_cells", "interacting", "contacts",
    "islands", "files", "parse_ns", "pae_ns", "contacts_ns", "islands_ns", "sinks_ns")

  /** One job's summaries, model files as (model_idx, path) and
    * `full_data` paths, each sorted.
    */
  private[af3] final case class JobFiles(job: String, summaries: Seq[String],
      models: Seq[(Int, String)], fullData: Seq[String])

  /** The jobs of a listing, in job-name order: every parent-directory
    * name that holds a summary, as [[Af3Io.readSummaries]] names it.
    */
  private[af3] def jobFiles(files: Af3Io.BundleFiles): Seq[JobFiles] = {
    val models = files.models.flatMap(u => CifParser.modelOf(u).map { case (j, m) => j -> (m, u) })
      .groupMap(_._1)(_._2)
    def job(url: String) = Af3Io.jobAndFile(url)._1
    val fullData = files.fullData.groupBy(job)
    files.summaries.groupBy(job).toSeq.sortBy(_._1).map { case (j, s) =>
      JobFiles(j, s.sorted, models.getOrElse(j, Nil).sorted, fullData.getOrElse(j, Nil).sorted)
    }
  }

  /** Run `jobs` ([[jobFiles]] of a driver-side listing) as one Spark job
    * of one task per job; results of the binders, in job-name order.
    * `state` reaches the tasks in one broadcast, destroyed when the job
    * ends ([[Af3Io.withBroadcast]]), so a task closure holds the handle,
    * `p`, `out` and its job's file list. With `out`, each binder's task
    * also writes its structure outputs ([[CifWriter.writeJob]]).
    */
  private[af3] def run(spark: SparkSession, state: Af3Io.TaskState, jobs: Seq[JobFiles],
      p: Af3Params, out: Option[Af3Outputs]): Seq[JobResult] = {
    if (jobs.isEmpty) return Nil
    Af3Io.withBroadcast(spark, state) { shared =>
      JsonFileReader.withSessionConf(spark) {
        spark.sparkContext.parallelize(jobs, jobs.size)
          .flatMap(runJob(_, p, shared.value, out))
          .collect().toSeq
      }
    }
  }

  /** One job's task: `None` unless one of its summaries passes the gate
    * ([[Af3Pipeline.passesGate]]), before any other file is opened.
    */
  private def runJob(f: JobFiles, p: Af3Params, state: Af3Io.TaskState,
      out: Option[Af3Outputs]): Option[JobResult] = {
    if (!f.summaries.exists(u =>
        state.summaries.read(state.conf, u).exists(Af3Pipeline.passesGate(_, p))))
      return None
    val counters = scala.collection.mutable.LinkedHashMap(Counters.map(_ -> 0L): _*)
    def add(k: String, n: Long): Unit = counters(k) += n
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally add(k, System.nanoTime() - t0)
    }
    def parse(m: Int): Seq[CifAtom] = timed("parse_ns") {
      f.models.filter(_._1 == m).flatMap { case (_, url) =>
        val atoms = CifParser.readModel(state.conf, url).toSeq
        add("models", 1); add("atoms", atoms.size)
        atoms
      }
    }

    val model0 = parse(0)
    val info = Af3Pipeline.chainInfoOf(model0)
    val interacting = timed("pae_ns") {
      Af3Pipeline.paeBlock(info.map(c => (c.chain, c.residue_length)), p).toSeq.flatMap { block =>
        f.fullData.flatMap { url =>
          val h = Af3Io.paeHits(state, url, block, p.maxPaeCutoff, p.minResidues)
          add("pae_cells", h.cells)
          h.hits
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
      add("files", CifWriter.writeJob(f.job, byModel, members, p, o, state.conf))
      // the sink's time without the parses of models 1.. it pulled
      add("sinks_ns", System.nanoTime() - t0 - (counters("parse_ns") - parsed))
    }
    Some(JobResult(f.job, info, interacting, contacts.toSeq, islands, counters.values.toSeq))
  }
}
