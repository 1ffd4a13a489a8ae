package graft.af3

import org.apache.spark.sql.{DataFrame, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SpatialJoin
import graft.functions.Scalars

/** Analysis parameters — the reference CLI's 8 knobs with its defaults
  * (process_af3_outputs.py:581-592).
  */
final case class Af3Params(
    poiChain: String = "A",
    partnerChain: String = "B",
    maxPaeCutoff: Double = 15.0,
    minIptmCutoff: Double = 0.0,
    minPtmCutoff: Double = 0.0,
    minResidues: Int = 5,
    maxDist: Double = 8.0)

/** One kept contact island of a partner island ([[Af3Pipeline.islandsOf]]). */
final case class ContactIsland(c_island: Long, contact_min: Int, contact_max: Int,
    c_size: Long)

/** One kept partner island of a job: its range, members and contact islands. */
final case class PartnerIsland(job_dir: String, p_island: Long, partner_min: Int,
    partner_max: Int, members: Seq[Int], contact_islands: Seq[ContactIsland])

/** The reference dataflow (py:543-579) wired once, for the CLI
  * ([[graft.Af3Run]]), the `af3_*` suite queries and the specs: [[jobs]]
  * lists the tree once and runs one Spark job of one task per job
  * directory, which applies the gate and runs a binder's analysis
  * ([[Af3Jobs]]; with `out` the tasks also write the structure outputs).
  * The analysis frames `info` .. `report` are local frames over the
  * collected results: nothing is cached or recomputed. Only `atoms`, for
  * the `sink_*` queries, reads files again: the binders' model files of
  * the same listing.
  */
final case class Af3Stages(spark: SparkSession, inputDir: String, p: Af3Params,
    out: Option[Af3Outputs] = None) {
  import spark.implicits._

  private[graft] lazy val state = Af3Io.TaskState(spark)
  private lazy val files = Af3Jobs.jobFiles(Af3Io.bundleFiles(state.conf, inputDir))
  lazy val jobs: Seq[JobResult] = Af3Jobs.run(spark, state, files, p, out)
  // in job-name order, which is the report's row order
  lazy val binderDirs: Seq[String] = jobs.map(_.job_dir)
  lazy val atoms: DataFrame = CifParser.atomsOf(spark, state,
    files.filter(f => binderDirs.contains(f.job)).flatMap(_.models.map(_._2))).toDF()
  lazy val info: DataFrame = jobs.flatMap(j => j.info.map(c => (j.job_dir, c.chain,
    c.residue_length, c.sequence))).toDF("job_dir", "chain", "residue_length", "sequence")
  lazy val interacting: DataFrame =
    jobs.flatMap(j => j.interacting.map(j.job_dir -> _)).toDF("job_dir", "partner_res")
  // model-0 contacts/islands computed once, fanned out to all models
  // (the py:449-469 reuse)
  lazy val contacts: DataFrame = jobs.flatMap(j => j.contacts.map { case (q, r) =>
    (j.job_dir, q, r) }).toDF("job_dir", "partner_res", "poi_res")
  private lazy val nested: DataFrame = jobs.flatMap(_.islands).toDF()
  lazy val members: DataFrame = Af3Pipeline.membersOf(nested)
  lazy val islands: DataFrame = Af3Pipeline.contactIslandsOf(nested)
  /** The report rows of the binders' results ([[Af3Pipeline.reportRowsOf]]). */
  private[graft] lazy val reportRows: Seq[InternalRow] = Af3Pipeline.reportRowsOf(jobs, p)
  /** A local frame of [[reportRows]]. */
  lazy val report: DataFrame = ColumnBridge.ofRows(spark,
    LocalRelation(DataTypeUtils.toAttributes(Af3Pipeline.reportSchema), reportRows))
}

/** The reference pipeline (E1-E3, SURVEY §3): each rule is one per-job
  * routine, which [[Af3Jobs]] runs in a job's task and the DataFrame
  * stages run as thin `groupByKey(job_dir)` wrappers. All thresholds
  * reproduce the reference's exact comparison directions:
  * gate iptm/ptm reject on `<` (py:86), pae gate passes on strict `<`
  * (py:102), threshold count strict `<` with `>=` min_residues (py:218),
  * islands params (1,3) then (2,3) (py:292, 299).
  */
object Af3Pipeline {

  /** The reference dataflow over the bundles under `inputDir` ([[Af3Stages]]). */
  def stages(spark: SparkSession, inputDir: String, p: Af3Params,
      out: Option[Af3Outputs] = None): Af3Stages =
    Af3Stages(spark, inputDir, p, out)

  /** filter_confidence_gate (py:66-105): keep binder jobs. Missing keys
    * default to 0 (py:82-83); unknown chain or index out of bounds drops
    * the row (try_element_at -> null ≙ return False).
    */
  def gate(summaries: DataFrame, p: Af3Params): DataFrame = {
    val poiIdx = Scalars.chainToIdx.get(p.poiChain)
    val partnerIdx = Scalars.chainToIdx.get(p.partnerChain)
    (poiIdx, partnerIdx) match {
      case (Some(pi), Some(qi)) =>
        // `get` (0-based, null-safe) not nested try_element_at — the
        // TryEval-in-TryEval nesting trips a janino codegen bug and
        // drops the projection to interpreter mode (see Scalars.matrixAt0)
        val pae = get(get(col("chain_pair_pae_min"), lit(pi)), lit(qi))
        summaries
          .filter(col("_corrupt").isNull)
          .filter(
            coalesce(col("iptm"), lit(0.0)) >= p.minIptmCutoff &&
            coalesce(col("ptm"), lit(0.0)) >= p.minPtmCutoff &&
            pae < p.maxPaeCutoff)
      case _ => summaries.limit(0) // invalid chain id: nothing passes (py:93-94)
    }
  }

  /** [[gate]]'s rule over one row of [[Af3Io.readSummaries]]' scan, in
    * [[Af3Io.summarySchema]] order, for a task that reads the summary
    * itself ([[Af3Io.TaskState]]'s `summaries`): the comparisons are Spark SQL's
    * (`SQLOrderingUtil.compareDoubles`: NaN above every number, -0.0
    * equal to 0.0), and an out-of-bounds or null PAE cell fails as the
    * null `get` does.
    */
  private[af3] def passesGate(r: InternalRow, p: Af3Params): Boolean =
    (Scalars.chainToIdx.get(p.poiChain), Scalars.chainToIdx.get(p.partnerChain)) match {
      case (Some(pi), Some(qi)) =>
        def orZero(i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
        def at(a: ArrayData, i: Int) = i < a.numElements() && !a.isNullAt(i)
        r.isNullAt(3) &&
          compareDoubles(orZero(0), p.minIptmCutoff) >= 0 &&
          compareDoubles(orZero(1), p.minPtmCutoff) >= 0 &&
          !r.isNullAt(2) && at(r.getArray(2), pi) && {
            val row = r.getArray(2).getArray(pi)
            at(row, qi) && compareDoubles(row.getDouble(qi), p.maxPaeCutoff) < 0
          }
      case _ => false
    }

  /** agg_chain_info (py:152-176), [[chainInfoOf]] per job. */
  def chainInfo(atoms: DataFrame): DataFrame = {
    import atoms.sparkSession.implicits._
    atomsByJob(atoms).flatMapGroups((job, rows) => chainInfoOf(rows.toSeq)
      .map(c => (job, c.chain, c.residue_length, c.sequence)))
      .toDF("job_dir", "chain", "residue_length", "sequence")
  }

  /** The analysis columns of an atoms frame as [[CifAtom]]s, by job. */
  private def atomsByJob(atoms: DataFrame): KeyValueGroupedDataset[String, CifAtom] = {
    import atoms.sparkSession.implicits._
    atoms.select("job_dir", "chain", "res_id", "res_name", "x", "y", "z")
      .as[(String, String, Int, String, Double, Double, Double)]
      .map { case (j, c, r, n, x, y, z) => CifAtom(j, 0, c, r, n, "", x, y, z) }
      .groupByKey(_.job_dir)
  }

  private lazy val extendedAA = Scalars.extendedAA.toSet

  /** One job's chain info, by chain: the 1-letter sequence of its
    * residues (distinct (res_id, res_name)) ordered by (res_id, letter),
    * and `residue_length`, where a residue counts 1 if it is one of the
    * 20 standard AAs (`residue_name in seq1_dict`, py:165) and its atom
    * count otherwise (modified residues such as MSE or SEP too).
    */
  private[af3] def chainInfoOf(atoms: Seq[CifAtom]): Seq[ChainRow] =
    atoms.groupMapReduce(a => (a.chain, a.res_id, a.res_name))(_ => 1L)(_ + _)
      .groupBy(_._1._1).toSeq.sortBy(_._1).map { case (chain, residues) =>
        val letters = residues.keys.toSeq
          .map { case (_, res, name) => (res, Scalars.seq1Map.getOrElse(name, "X")) }.sorted
        ChainRow(chain,
          residues.map { case ((_, _, nm), n) => if (Scalars.seq1Map.contains(nm)) 1L else n }.sum,
          letters.map(_._2).mkString)
      }

  /** agg_pae_threshold_count + project_rebase_index (py:185-224): partner
    * tokens j with `count_{i in POI}(pae[i][j] < cutoff) >= min_residues`,
    * rebased to 1-based partner residue numbers. `paePerJob` is
    * [[Af3Io.readPaeLong]]'s one row per job; each job's [[paeBlock]] is
    * broadcast-joined onto it and [[Af3Io.paeBlockHits]] counts the block
    * in place, over the join's internal rows. Out-of-bounds ranges,
    * ragged rows and missing cells count nothing (≙ py's empty returns at
    * 209-211). The count runs when this is called, as one action on the
    * join, so an `observe` on `paePerJob` completes; the result is a
    * local frame.
    */
  def interactingResidues(paePerJob: DataFrame, chainInfoDf: DataFrame, p: Af3Params): DataFrame = {
    import paePerJob.sparkSession.implicits._
    val off = chainInfoDf.select(col("job_dir"), col("chain"), col("residue_length").cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups((job, rows) => paeBlock(rows.map(r => (r._2, r._3)).toSeq, p)
        .map { case (a, b, c, d) => (job, a, b, c, d) })
      .toDF("job_dir", "start_poi", "end_poi", "start_partner", "end_partner")
    val blocks = paePerJob.join(broadcast(off), Seq("job_dir"))
      .select("job_dir", "pae", "start_poi", "end_poi", "start_partner", "end_partner")
    val (cutoff, minHits) = (p.maxPaeCutoff, p.minResidues)
    ColumnBridge.collectInternal(blocks) { r =>
      if (r.isNullAt(1)) Nil
      else {
        val job = r.getUTF8String(0).toString
        Af3Io.paeBlockHits(r.getArray(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          cutoff, minHits).toIntArray().map(job -> _)
      }
    }.toSeq.toDF("job_dir", "partner_res")
  }

  /** One job's POI and partner token ranges `(start_poi, end_poi,
    * start_partner, end_partner)` from its `(chain, residue_length)` rows.
    * They are POSITIONAL, as the reference indexes its chain_lengths list
    * (py:197-211): chain X spans `[sum(lens[:idx(X)]), sum(lens[:idx(X)+1]))`
    * with `idx` the fixed A-E map and `lens` in chain order — not a
    * lookup by chain identity. An unknown chain letter (py:93-94) or a
    * chain list shorter than the index (chains A and C, partner C) gives
    * `None`, the reference's IndexError -> [] path.
    */
  private[af3] def paeBlock(chains: Seq[(String, Long)], p: Af3Params)
      : Option[(Long, Long, Long, Long)] = {
    val lens = chains.sortBy(_._1).map(_._2)
    for {
      a <- Scalars.chainToIdx.get(p.poiChain)
      b <- Scalars.chainToIdx.get(p.partnerChain)
      if lens.size > math.max(a, b)
    } yield (lens.take(a).sum, lens.take(a + 1).sum, lens.take(b).sum, lens.take(b + 1).sum)
  }

  /** join_contact_eps_distance (py:226-251), [[contactsOf]] per job. */
  def contactPairs(atoms: DataFrame, interacting: DataFrame, p: Af3Params): DataFrame = {
    import atoms.sparkSession.implicits._
    val marks = interacting.select(col("job_dir"), col("partner_res").cast("int"))
      .as[(String, Int)].groupByKey(_._1)
    atomsByJob(atoms).cogroup(marks) { (job, rows, res) =>
      val ia = res.map(_._2).toSet
      contactsOf(rows.toSeq, ia, p).iterator.map { case (q, r) => (job, q, r) }
    }.toDF("job_dir", "partner_res", "poi_res")
  }

  /** One job's distinct (partner_res, poi_res) contacts within `maxDist`,
    * sorted: [[SpatialJoin.localPairs]] in memory, as the reference's
    * per-job KD-tree, over the POI chain's atoms and those of the
    * `interacting` partner residues; both sides keep is_aa(standard=False)
    * residues, modified ones included (py:230-231).
    */
  private[af3] def contactsOf(atoms: Seq[CifAtom], interacting: Set[Int],
      p: Af3Params): Array[(Int, Int)] = {
    def side(chain: String, keep: Int => Boolean) = atoms.filter(a =>
      a.chain == chain && extendedAA(a.res_name) && keep(a.res_id)).toArray
    val poi = side(p.poiChain, _ => true)
    val partner = side(p.partnerChain, interacting)
    def xyz(a: Array[CifAtom]) = a.flatMap(r => Array(r.x, r.y, r.z))
    val pairs = scala.collection.mutable.HashSet.empty[(Int, Int)]
    SpatialJoin.localPairs(xyz(partner), xyz(poi), p.maxDist)((l, r) =>
      pairs += ((partner(l).res_id, poi(r).res_id)))
    pairs.toArray.sorted
  }

  /** win_nested_islands (py:288-302): one row per (partner island,
    * contact island) of [[islandsOf]], with the min/max of both.
    */
  def interactionIslands(contacts: DataFrame): DataFrame =
    contactIslandsOf(nestedIslands(contacts))

  /** [[interactionIslands]] from a [[nestedIslands]] frame. */
  private[af3] def contactIslandsOf(nested: DataFrame): DataFrame =
    nested
      .select(col("job_dir"), col("p_island"), col("partner_min"), col("partner_max"),
        explode(col("contact_islands")).as("c"))
      .select(col("job_dir"), col("p_island"), col("partner_min"), col("partner_max"),
        col("c.c_island"), col("c.contact_min"), col("c.contact_max"), col("c.c_size"))

  /** The CSV report rows (py:372-380): one row per (partner island,
    * contact island) with range labels and sequence substrings.
    */
  def report(islands: DataFrame, chainInfoDf: DataFrame, p: Af3Params): DataFrame = {
    val poiSeq = chainInfoDf.filter(col("chain") === p.poiChain)
      .select(col("job_dir"), col("sequence").as("poi_sequence"))
    val partnerSeq = chainInfoDf.filter(col("chain") === p.partnerChain)
      .select(col("job_dir"), col("sequence").as("partner_sequence"))
    islands.join(poiSeq, Seq("job_dir")).join(partnerSeq, Seq("job_dir")).select(
      col("job_dir").as("folder_name"),
      Scalars.rangeLabel(col("contact_min"), col("contact_max"))
        .as("contact_residues_poi"),
      Scalars.substrRange(col("poi_sequence"), col("contact_min"), col("contact_max"))
        .as("contact_sequence"),
      Scalars.rangeLabel(col("partner_min"), col("partner_max"))
        .as("interacting_residues_partner"),
      Scalars.substrRange(col("partner_sequence"), col("partner_min"), col("partner_max"))
        .as("interacting_sequence"))
  }

  /** [[report]]'s rows over per-job results, in [[reportSchema]] and in
    * the order of `jobs`, built on the driver with the report's rules: the
    * ranges `min-max` and the sequences
    * `UTF8String.substringSQL(min, max - min + 1)`, the function
    * `Scalars.substrRange` compiles to. A job lacking the POI or the
    * partner chain has none, as the inner joins drop it.
    */
  private[graft] def reportRowsOf(jobs: Seq[JobResult], p: Af3Params): Seq[InternalRow] = {
    def range(min: Int, max: Int) = UTF8String.fromString(s"$min-$max")
    def substr(s: String, min: Int, max: Int) =
      UTF8String.fromString(s).substringSQL(min, max - min + 1)
    for {
      j <- jobs
      poi <- j.info.filter(_.chain == p.poiChain)
      partner <- j.info.filter(_.chain == p.partnerChain)
      i <- j.islands
      c <- i.contact_islands
    } yield InternalRow(UTF8String.fromString(j.job_dir), range(c.contact_min, c.contact_max),
      substr(poi.sequence, c.contact_min, c.contact_max), range(i.partner_min, i.partner_max),
      substr(partner.sequence, i.partner_min, i.partner_max))
  }

  /** The columns of [[Af3Stages.report]]: [[report]]'s, typed as its
    * projection types them over non-null ranges and nullable names and
    * sequences.
    */
  private[graft] val reportSchema: StructType = StructType(Seq(
    StructField("folder_name", StringType),
    StructField("contact_residues_poi", StringType, nullable = false),
    StructField("contact_sequence", StringType),
    StructField("interacting_residues_partner", StringType, nullable = false),
    StructField("interacting_sequence", StringType)))

  /** The relabeled chains an atom takes in the structure sinks, in
    * output order: "A" for the POI chain, "B" for a partner residue
    * inside a kept partner island (py:326-336, 409-411), both when the
    * POI and the partner chain are the same. Island membership is the
    * island member list, not a range test.
    */
  private[af3] def sinkRoles(a: CifAtom, members: Set[Int], p: Af3Params): Seq[String] = {
    val partner = a.chain == p.partnerChain && members(a.res_id)
    if (a.chain == p.poiChain) { if (partner) Seq("A", "B") else Seq("A") }
    else if (partner) Seq("B")
    else Nil
  }

  /** `emit(atom, role)` per [[sinkRoles]] role of each atom of a
    * [[CifAtom]] frame, per job.
    */
  private def withSinkRoles(atoms: DataFrame, islandMembers: DataFrame, p: Af3Params)(
      emit: (CifAtom, String) => CifAtom): DataFrame = {
    import atoms.sparkSession.implicits._
    val members = islandMembers.select(col("job_dir"), col("partner_res").cast("int"))
      .as[(String, Int)].groupByKey(_._1)
    atoms.as[CifAtom].groupByKey(_.job_dir).cogroup(members) { (_, rows, ms) =>
      val keep = ms.map(_._2).toSet
      rows.flatMap(a => sinkRoles(a, keep, p).map(emit(a, _)))
    }.toDF()
  }

  /** filter_residue_select (py:326-336): atoms of the interaction CIF —
    * the whole POI chain plus partner residues inside any kept partner
    * island, model 0 only.
    */
  def interactionCifAtoms(atoms: DataFrame, islandMembers: DataFrame, p: Af3Params): DataFrame =
    withSinkRoles(atoms.filter(col("model_idx") === 0), islandMembers, p)((a, _) => a)

  /** sink_cif_model_extract (py:389-430): for every model 0..4, POI chain
    * relabeled 'A', member partner residues relabeled 'B'. Both the auth
    * and the label chain id are relabeled, as BioPython does when it
    * writes the extracted structure's chains as 'A'/'B' (py:398-405).
    */
  def modelExtractAtoms(atoms: DataFrame, islandMembers: DataFrame, p: Af3Params): DataFrame =
    withSinkRoles(atoms, islandMembers, p)((a, id) => a.copy(chain = id, label_asym_id = id))

  /** Partner-island members (keys of consecutive_interactions, py:383,
    * 409-411): partner residues in kept (gap=1, min=3) islands with
    * contacts.
    */
  def partnerIslandMembers(contacts: DataFrame): DataFrame = membersOf(nestedIslands(contacts))

  /** [[partnerIslandMembers]] from a [[nestedIslands]] frame. */
  private[af3] def membersOf(nested: DataFrame): DataFrame =
    nested.select(col("job_dir"), explode(col("members")).as("partner_res"))

  /** [[islandsOf]] per job, one [[PartnerIsland]] row per kept island. */
  private[af3] def nestedIslands(contacts: DataFrame): DataFrame = {
    import contacts.sparkSession.implicits._
    contacts
      .select(col("job_dir"), col("partner_res").cast("int"), col("poi_res").cast("int"))
      .as[(String, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups((job, rows) => islandsOf(job, rows.map(r => (r._2, r._3)).toSeq))
      .toDF()
  }

  /** The island rule of [[interactionIslands]] and [[partnerIslandMembers]]
    * (py:292, 299, 383) over one job's (partner_res, poi_res) contacts:
    * the distinct contacted partner residues grouped into islands(gap=1),
    * islands of >= 3 residues kept; per kept island the distinct POI
    * residues its members contact, grouped into islands(gap=2), islands
    * of >= 3 kept. Island ids count every island, kept or not, ascending
    * from 0. The reference feeds `list(set(...))` to its group-finder;
    * the sorted reading is the same for CPython's small-int sets.
    */
  private[af3] def islandsOf(job: String, contacts: Seq[(Int, Int)]): Seq[PartnerIsland] = {
    val byPartner = contacts.groupMap(_._1)(_._2)
    val partners = byPartner.keys.toArray.sorted
    runs(partners, maxGap = 1).zipWithIndex.toSeq.collect {
      case ((from, until), id) if until - from >= MinIsland =>
        val members = partners.slice(from, until)
        val pois = members.flatMap(byPartner).distinct.sorted
        val contactIslands = runs(pois, maxGap = 2).zipWithIndex.collect {
          case ((f, u), cid) if u - f >= MinIsland =>
            ContactIsland(cid.toLong, pois(f), pois(u - 1), (u - f).toLong)
        }
        PartnerIsland(job, id.toLong, members.head, members.last, members.toSeq,
          contactIslands.toSeq)
    }
  }

  private val MinIsland = 3

  /** find_consecutive_groups (py:253-286) over an ascending, distinct
    * array: the `[from, until)` index ranges of its islands, a new island
    * wherever the gap to the previous value exceeds `maxGap`.
    */
  private def runs(sorted: Array[Int], maxGap: Int): Array[(Int, Int)] = {
    val starts = (0 until sorted.length).filter(k =>
      k == 0 || sorted(k).toLong - sorted(k - 1) > maxGap).toArray
    starts.zip(starts.drop(1) :+ sorted.length)
  }

  /** sink_pymol_codegen (py:477-541): one `.pml` per job
    * ([[CifWriter.pml]] over the job's models), `(job_dir, script)`.
    */
  def pymolScripts(atoms: DataFrame): DataFrame = {
    import atoms.sparkSession.implicits._
    atoms.select(col("job_dir"), col("model_idx")).distinct()
      .as[(String, Int)]
      .groupByKey(_._1)
      .mapGroups((job, rows) => (job, CifWriter.pml(job, rows.map(_._2).toSeq.sorted)))
      .toDF("job_dir", "script")
  }
}
