package graft.af3

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SpatialJoin
import graft.functions.{Scalars, VectorExpressions}

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

/** One input row of the per-job contact grid: a POI atom, a partner
  * atom, or a mark naming an interacting partner residue.
  */
private[af3] final case class ContactRow(job_dir: String, kind: Int, res: Int, x: Double, y: Double,
    z: Double)

private[af3] object ContactRow {
  val Poi = 0
  val Partner = 1
  val Mark = 2
}

/** One kept contact island of a partner island (see
  * `Af3Pipeline.nestedIslands`).
  */
private[af3] final case class ContactIsland(c_island: Long, contact_min: Int, contact_max: Int,
    c_size: Long)

/** One kept partner island of a job: its range, its member residues and
  * its kept contact islands.
  */
private[af3] final case class PartnerIsland(job_dir: String, p_island: Long, partner_min: Int,
    partner_max: Int, members: Seq[Int], contact_islands: Seq[ContactIsland])

/** The reference dataflow (py:543-579) wired once: summaries -> gate ->
  * CIF parse -> chain info -> PAE block count -> contact join -> islands
  * -> report. The CLI ([[graft.Af3Run]]), the `af3_*` suite queries and
  * the specs all take their frames from here.
  *
  * Every stage is a lazy frame, so a consumer of `info` never plans the
  * contact join. The six frames the CLI's sinks share are cached:
  * binders, atoms (read once, full fidelity, for analysis and the CIF
  * sinks alike), info, contacts, the nested islands (members and islands
  * are projections of them) and report. A stage forces its
  * inputs before it caches itself, so each cached plan reads its inputs'
  * caches instead of recomputing them.
  *
  * The analysis tail runs per job, as the reference's loop does: the PAE
  * block count, the contact grid and the nested islands each hold one
  * complex in one task — at most its N^2 PAE cells and its model-0 atoms
  * (~50k for a large complex). The work therefore scales with the number
  * of jobs; a single complex too big for one task's memory is out of
  * scope.
  */
final case class Af3Stages(spark: SparkSession, inputDir: String, p: Af3Params) {
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def keep(df: DataFrame): DataFrame = { cached += df; df.cache() }

  lazy val binders: DataFrame = keep(
    Af3Pipeline.gate(Af3Io.readSummaries(spark, inputDir), p).select("job_dir").distinct())
  lazy val atoms: DataFrame = keep(CifParser.readAtomsDf(spark, inputDir)
    .join(broadcast(binders), Seq("job_dir"), "left_semi"))
  def model0: DataFrame = atoms.filter(col("model_idx") === 0)
  lazy val info: DataFrame = keep(Af3Pipeline.chainInfo(model0))
  lazy val interacting: DataFrame = Af3Pipeline.interactingResidues(
    Af3Io.readPaeLong(spark, inputDir).join(broadcast(binders), Seq("job_dir"), "left_semi"),
    info, p)
  // model-0 contacts/islands computed once, fanned out to all models
  // (the py:449-469 reuse)
  lazy val contacts: DataFrame = keep(Af3Pipeline.contactPairs(model0, interacting, p))
  // the island rule runs once per job; members and islands project it
  private lazy val nested: DataFrame = keep(Af3Pipeline.nestedIslands(contacts))
  lazy val members: DataFrame = Af3Pipeline.membersOf(nested)
  lazy val islands: DataFrame = Af3Pipeline.contactIslandsOf(nested)
  lazy val report: DataFrame = keep(Af3Pipeline.report(islands, info, p))

  /** Release the cached stages, dependents first (uncaching an input
    * while a cached dependent still reads it would re-plan the dependent).
    */
  def unpersist(): Unit = { cached.reverseIterator.foreach(_.unpersist()); cached.clear() }
}

/** The reference pipeline (E1-E3, SURVEY §3) as composable
  * DataFrame -> DataFrame stages. Everything is keyed and partitioned by
  * `job_dir`; per-job work never crosses executors after the first shuffle.
  * All thresholds reproduce the reference's exact comparison directions:
  * gate iptm/ptm reject on `<` (py:86), pae gate passes on strict `<`
  * (py:102), threshold count strict `<` with `>=` min_residues (py:218),
  * islands params (1,3) then (2,3) (py:292, 299).
  */
object Af3Pipeline {

  /** The reference dataflow over the bundles under `inputDir`, as named
    * lazy frames (see [[Af3Stages]]).
    */
  def stages(spark: SparkSession, inputDir: String, p: Af3Params): Af3Stages =
    Af3Stages(spark, inputDir, p)

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

  /** agg_chain_info (py:152-176): per (job, chain) the 1-letter sequence in
    * residue order and the token-count approximation `residue_length`
    * (AA residues count 1, others their atom count).
    */
  def chainInfo(atoms: DataFrame): DataFrame = {
    val perResidue = atoms
      .groupBy(col("job_dir"), col("chain"), col("res_id"), col("res_name"))
      .agg(count(lit(1)).as("atom_count"))
    // residue_length gates on `residue_name in seq1_dict` (py:165) — the 20
    // standard AAs only; modified residues (MSE, SEP, ...) contribute their
    // atom_count. The extended is_aa(standard=False) set belongs only to the
    // contactPairs/modelExtract paths that mirror BioPython's is_aa.
    val isAA = col("res_name").isin(Scalars.standardAA: _*)
    perResidue
      .groupBy(col("job_dir"), col("chain"))
      .agg(
        sum(when(isAA, lit(1L)).otherwise(col("atom_count"))).as("residue_length"),
        concat_ws("",
          transform(
            array_sort(collect_list(struct(col("res_id"), Scalars.seq1(col("res_name")).as("c")))),
            _.getField("c"))).as("sequence"))
  }

  /** agg_pae_threshold_count + project_rebase_index (py:185-224): partner
    * tokens j with `count_{i in POI}(pae[i][j] < cutoff) >= min_residues`,
    * rebased to 1-based partner residue numbers. `paePerJob` is
    * [[Af3Io.readPaeLong]]'s one row per job; the tiny per-job offset table
    * is broadcast-joined onto it and one codegen'd kernel
    * ([[VectorExpressions.paeBlockHits]]) counts the POI x partner block of
    * each matrix in place. Ranges out of bounds, ragged rows and missing
    * cells simply count nothing (≙ py's empty returns at 209-211).
    *
    * Offsets are POSITIONAL, exactly as the reference indexes its
    * chain_lengths list (py:197-211): chain X's token range is
    * `[sum(lens[:idx(X)]), sum(lens[:idx(X)]) + lens[idx(X)])` where
    * `idx` is the fixed A-E map and `lens` is the per-job length list in
    * file (alphabetical) order — NOT a lookup by chain identity. A job
    * whose chain list is shorter than the fixed index (e.g. chains A and
    * C only, partner C -> idx 2 >= 2 lengths) yields no rows, mirroring
    * the reference's IndexError -> [] path.
    */
  def interactingResidues(paePerJob: DataFrame, chainInfoDf: DataFrame, p: Af3Params): DataFrame = {
    val (poiIdx, partnerIdx) =
      (Scalars.chainToIdx.get(p.poiChain), Scalars.chainToIdx.get(p.partnerChain)) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => return paePerJob.sparkSession.emptyDataFrame
          .withColumn("job_dir", lit("")).withColumn("partner_res", lit(0))
          .limit(0) // invalid chain letter: nothing interacts (py:93-94)
      }
    def startOf(lens: Column, idx: Int): Column =
      aggregate(slice(lens, 1, idx), lit(0L), _ + _)
    val off = chainInfoDf
      .groupBy(col("job_dir"))
      .agg(transform(
        array_sort(collect_list(struct(col("chain"), col("residue_length")))),
        _.getField("residue_length")).as("lens"))
      .filter(size(col("lens")) > math.max(poiIdx, partnerIdx))
      .select(col("job_dir"),
        startOf(col("lens"), poiIdx).as("start_poi"),
        (startOf(col("lens"), poiIdx) + element_at(col("lens"), poiIdx + 1)).as("end_poi"),
        startOf(col("lens"), partnerIdx).as("start_partner"),
        (startOf(col("lens"), partnerIdx) + element_at(col("lens"), partnerIdx + 1))
          .as("end_partner"))
    paePerJob
      .join(broadcast(off), Seq("job_dir"))
      .select(col("job_dir"), explode(VectorExpressions.paeBlockHits(col("pae"),
        col("start_poi"), col("end_poi"), col("start_partner"), col("end_partner"),
        lit(p.maxPaeCutoff), lit(p.minResidues))).as("partner_res"))
  }

  /** join_contact_eps_distance (py:226-251): for each interacting partner
    * residue, the distinct POI residues with any atom pair within
    * `maxDist`. One task per job, as the reference's per-job KD-tree: the
    * job's POI atoms, partner atoms and interacting residues meet in one
    * group, and [[SpatialJoin.localPairs]] runs the ε-grid in memory.
    * Rows come out sorted by (partner_res, poi_res) within a job.
    */
  def contactPairs(atoms: DataFrame, interacting: DataFrame, p: Af3Params): DataFrame = {
    import atoms.sparkSession.implicits._
    // is_aa(standard=False) also admits modified residues (py:230-231)
    val isAA = col("res_name").isin(Scalars.extendedAA: _*)
    def side(chain: String, kind: Int): DataFrame = atoms
      .filter(col("chain") === chain && isAA)
      .select(col("job_dir"), lit(kind).as("kind"), col("res_id").as("res"),
        col("x"), col("y"), col("z"))
    // the interacting residues ride along as coordinate-less marks
    val marks = interacting.select(col("job_dir"), lit(ContactRow.Mark).as("kind"),
      col("partner_res").cast("int").as("res"), lit(0.0).as("x"), lit(0.0).as("y"),
      lit(0.0).as("z"))
    val eps = p.maxDist
    side(p.poiChain, ContactRow.Poi).unionByName(side(p.partnerChain, ContactRow.Partner))
      .unionByName(marks)
      .as[ContactRow]
      .groupByKey(_.job_dir)
      .flatMapGroups((job, rows) => contactsOfJob(rows, eps).map { case (q, r) => (job, q, r) })
      .toDF("job_dir", "partner_res", "poi_res")
  }

  /** One job's distinct (partner_res, poi_res) contacts, sorted. */
  private def contactsOfJob(rows: Iterator[ContactRow], eps: Double): Iterator[(Int, Int)] = {
    val all = rows.toArray
    val interacting = all.filter(_.kind == ContactRow.Mark).map(_.res).toSet
    val poi = all.filter(_.kind == ContactRow.Poi)
    val partner = all.filter(r => r.kind == ContactRow.Partner && interacting(r.res))
    def xyz(a: Array[ContactRow]) = a.flatMap(r => Array(r.x, r.y, r.z))
    val pairs = scala.collection.mutable.HashSet.empty[(Int, Int)]
    SpatialJoin.localPairs(xyz(partner), xyz(poi), eps)((l, r) =>
      pairs += ((partner(l).res, poi(r).res)))
    pairs.toArray.sorted.iterator
  }

  /** win_nested_islands (py:288-302): islands(gap=1,min=3) over partner
    * residues that have contacts; per island the union of contact sets;
    * islands(gap=2,min=3) over that union. Returns one row per
    * (partner island, contact island) with min/max of both.
    *
    * Note: the reference feeds `list(set(...))` (unsorted) into its
    * group-finder; we use the documented sorted semantics — identical for
    * CPython's ascending small-int set iteration, and the only
    * deterministic reading.
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
    islands
      .join(poiSeq, Seq("job_dir"))
      .join(partnerSeq, Seq("job_dir"))
      .select(
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

  /** `atoms` with the two role flags of the structure sinks: `__poi`
    * for the POI chain, `__partner` for partner residues inside a kept
    * partner island (py:326-336, 409-411). An atom holds both when the
    * POI and the partner chain are the same. Island membership is a
    * join on the island member list, not a range test.
    */
  private[af3] def withSinkRoles(atoms: DataFrame, islandMembers: DataFrame,
      p: Af3Params): DataFrame = {
    val members = islandMembers
      .select(col("job_dir"), col("partner_res").as("res_id"), lit(true).as("__member"))
      .distinct()
    atoms.join(broadcast(members), Seq("job_dir", "res_id"), "left")
      .select(atoms.columns.map(col).toSeq ++ Seq(
        (col("chain") <=> p.poiChain).as("__poi"),
        (col("chain") <=> p.partnerChain && col("__member").isNotNull).as("__partner")): _*)
  }

  /** filter_residue_select (py:326-336): atoms of the interaction CIF —
    * the whole POI chain plus partner residues inside any kept partner
    * island, model 0 only.
    */
  def interactionCifAtoms(atoms: DataFrame, islandMembers: DataFrame, p: Af3Params): DataFrame = {
    val roles = withSinkRoles(atoms.filter(col("model_idx") === 0), islandMembers, p)
    roles.filter(col("__poi")).unionByName(roles.filter(col("__partner")))
      .drop("__poi", "__partner")
  }

  /** sink_cif_model_extract (py:389-430): for every model 0..4, POI chain
    * relabeled 'A', member partner residues relabeled 'B'.
    */
  def modelExtractAtoms(atoms: DataFrame, islandMembers: DataFrame, p: Af3Params): DataFrame = {
    val roles = withSinkRoles(atoms, islandMembers, p)
    // relabel both the auth and the label chain id, as BioPython does when
    // it writes the extracted structure's chains as 'A'/'B' (py:398-405)
    def relabel(role: String, id: String) = roles.filter(col(role))
      .withColumn("chain", lit(id)).withColumn("label_asym_id", lit(id))
      .drop("__poi", "__partner")
    relabel("__poi", "A").unionByName(relabel("__partner", "B"))
  }

  /** Partner-island members (keys of consecutive_interactions, py:383,
    * 409-411): partner residues in kept (gap=1, min=3) islands with
    * contacts.
    */
  def partnerIslandMembers(contacts: DataFrame): DataFrame = membersOf(nestedIslands(contacts))

  /** [[partnerIslandMembers]] from a [[nestedIslands]] frame. */
  private[af3] def membersOf(nested: DataFrame): DataFrame =
    nested.select(col("job_dir"), explode(col("members")).as("partner_res"))

  /** The island rule shared by [[interactionIslands]] and
    * [[partnerIslandMembers]] (py:292, 299, 383), run once per job over
    * sorted arrays: the distinct contacted partner residues grouped into
    * islands(gap=1), islands of >= 3 residues kept; per kept island the
    * distinct POI residues its members contact, grouped into
    * islands(gap=2), islands of >= 3 residues kept. One row per kept
    * partner island ([[PartnerIsland]]). Island ids count every island,
    * kept or not, in ascending order from 0.
    */
  private[af3] def nestedIslands(contacts: DataFrame): DataFrame = {
    import contacts.sparkSession.implicits._
    contacts
      .select(col("job_dir"), col("partner_res").cast("int"), col("poi_res").cast("int"))
      .as[(String, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (job, rows) =>
        val byPartner = rows.toSeq.groupMap(_._2)(_._3)
        val partners = byPartner.keys.toArray.sorted
        runs(partners, maxGap = 1).zipWithIndex.collect {
          case ((from, until), id) if until - from >= MinIsland =>
            val members = partners.slice(from, until)
            val pois = members.flatMap(byPartner).distinct.sorted
            val contactIslands = runs(pois, maxGap = 2).zipWithIndex.collect {
              case ((f, u), cid) if u - f >= MinIsland =>
                ContactIsland(cid.toLong, pois(f), pois(u - 1), (u - f).toLong)
            }
            PartnerIsland(job, id.toLong, members.head, members.last, members.toSeq,
              contactIslands.toSeq)
        }.iterator
      }
      .toDF()
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
