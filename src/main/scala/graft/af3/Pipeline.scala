package graft.af3

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Islands, SpatialJoin}
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

/** The reference dataflow (py:543-579) wired once: summaries -> gate ->
  * CIF parse -> chain info -> PAE block count -> contact join -> islands
  * -> report. The CLI ([[graft.Af3Run]]), the `af3_*` suite queries and
  * the specs all take their frames from here.
  *
  * Every stage is a lazy frame, so a consumer of `info` never plans the
  * contact join. The six frames the CLI's sinks share are cached:
  * binders, atoms (read once, full fidelity, for analysis and the CIF
  * sinks alike), info, contacts, members and report. A stage forces its
  * inputs before it caches itself, so each cached plan reads its inputs'
  * caches instead of recomputing them.
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
  lazy val members: DataFrame = keep(Af3Pipeline.partnerIslandMembers(contacts))
  lazy val islands: DataFrame = Af3Pipeline.interactionIslands(contacts)
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
    * rebased to 1-based partner residue numbers. The long-form PAE join
    * broadcast-joins the tiny per-job offset table into the big exploded
    * matrix; ranges out of bounds simply select nothing (≙ py's empty
    * returns at 209-211).
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
  def interactingResidues(paeLong: DataFrame, chainInfoDf: DataFrame, p: Af3Params): DataFrame = {
    val (poiIdx, partnerIdx) =
      (Scalars.chainToIdx.get(p.poiChain), Scalars.chainToIdx.get(p.partnerChain)) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => return paeLong.sparkSession.emptyDataFrame
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
    paeLong
      .join(broadcast(off), Seq("job_dir"))
      .filter(
        col("i") >= col("start_poi") && col("i") < col("end_poi") &&
        col("j") >= col("start_partner") && col("j") < col("end_partner") &&
        col("pae") < p.maxPaeCutoff)
      .groupBy(col("job_dir"), col("j"), col("start_partner"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= p.minResidues)
      .select(col("job_dir"),
        (col("j") - col("start_partner") + 1).cast("int").as("partner_res"))
  }

  /** join_contact_eps_distance (py:226-251): for each interacting partner
    * residue, the distinct POI residues with any atom pair within
    * `maxDist`. Grid-cell eps-join partitioned by job_dir (the scale form
    * of the reference's per-job KD-tree).
    */
  def contactPairs(atoms: DataFrame, interacting: DataFrame, p: Af3Params): DataFrame = {
    // is_aa(standard=False) also admits modified residues (py:230-231)
    val isAA = col("res_name").isin(Scalars.extendedAA: _*)
    val poiAtoms = atoms
      .filter(col("chain") === p.poiChain && isAA)
      .select(col("job_dir"), col("res_id").as("poi_res"), col("x"), col("y"), col("z"))
    val partnerAtoms = atoms
      .filter(col("chain") === p.partnerChain && isAA)
      .join(interacting.withColumnRenamed("partner_res", "res_id"),
        Seq("job_dir", "res_id"), "left_semi")
      .select(col("job_dir"), col("res_id").as("partner_res"), col("x"), col("y"), col("z"))
    SpatialJoin
      .epsJoin(partnerAtoms, poiAtoms, p.maxDist, Seq("job_dir"), "p_", "q_")
      .select(col("job_dir"), col("p_partner_res").as("partner_res"),
        col("q_poi_res").as("poi_res"))
      .distinct()
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
  def interactionIslands(contacts: DataFrame): DataFrame = {
    val contactsByIsland = contacts
      .join(keptPartnerIslands(contacts), Seq("job_dir", "partner_res"))
      .select(col("job_dir"), col("p_island"), col("partner_min"), col("partner_max"),
        col("poi_res")).distinct()
    Islands.assignIds(contactsByIsland,
        Seq("job_dir", "p_island"), "poi_res", maxGap = 2L, idCol = "c_island")
      .groupBy(col("job_dir"), col("p_island"), col("partner_min"), col("partner_max"),
        col("c_island"))
      .agg(min(col("poi_res")).as("contact_min"),
        max(col("poi_res")).as("contact_max"),
        count(lit(1)).as("c_size"))
      .filter(col("c_size") >= 3)
  }

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

  /** filter_residue_select (py:326-336): atoms of the interaction CIF —
    * the whole POI chain plus partner residues inside any kept partner
    * island. `islandsDf` is the interactionIslands output (partner ranges
    * are contiguous up to gap 1, so range membership == island membership
    * is NOT assumed: we re-join via the island member list).
    */
  def interactionCifAtoms(atoms: DataFrame, islandMembers: DataFrame, p: Af3Params): DataFrame = {
    val members = islandMembers.select(col("job_dir"), col("partner_res").as("res_id")).distinct()
    val model0 = atoms.filter(col("model_idx") === 0)
    model0.filter(col("chain") === p.poiChain)
      .unionByName(
        model0.filter(col("chain") === p.partnerChain)
          .join(members, Seq("job_dir", "res_id"), "left_semi"))
  }

  /** sink_cif_model_extract (py:389-430): for every model 0..4, POI chain
    * relabeled 'A', member partner residues relabeled 'B'.
    */
  def modelExtractAtoms(atoms: DataFrame, islandMembers: DataFrame, p: Af3Params): DataFrame = {
    val members = islandMembers.select(col("job_dir"), col("partner_res").as("res_id")).distinct()
    // relabel both the auth and the label chain id, as BioPython does when
    // it writes the extracted structure's chains as 'A'/'B' (py:398-405)
    def relabel(df: DataFrame, id: String) =
      df.withColumn("chain", lit(id)).withColumn("label_asym_id", lit(id))
    relabel(atoms.filter(col("chain") === p.poiChain), "A")
      .unionByName(
        relabel(atoms.filter(col("chain") === p.partnerChain)
          .join(members, Seq("job_dir", "res_id"), "left_semi"), "B"))
  }

  /** Partner-island members (keys of consecutive_interactions, py:383,
    * 409-411): partner residues in kept (gap=1, min=3) islands with
    * contacts.
    */
  def partnerIslandMembers(contacts: DataFrame): DataFrame =
    keptPartnerIslands(contacts).select("job_dir", "partner_res")

  /** The kept-island rule shared by [[interactionIslands]] and
    * [[partnerIslandMembers]] (py:292, 383): distinct contacted partner
    * residues grouped into islands(gap=1), islands of >= 3 residues
    * kept. One row per member with its island id and range. The island
    * stats are a window over (job, island) instead of groupBy +
    * join-back: one exchange fewer, same result.
    */
  private def keptPartnerIslands(contacts: DataFrame): DataFrame = {
    val iw = Window.partitionBy(col("job_dir"), col("p_island"))
    Islands.assignIds(
        contacts.select(col("job_dir"), col("partner_res")).distinct(),
        Seq("job_dir"), "partner_res", maxGap = 1L, idCol = "p_island")
      .withColumn("partner_min", min(col("partner_res")).over(iw))
      .withColumn("partner_max", max(col("partner_res")).over(iw))
      .withColumn("p_size", count(lit(1)).over(iw))
      .filter(col("p_size") >= 3)
  }

  /** sink_pymol_codegen (py:477-541): one `.pml` per job — loads, aligns
    * to model_0 on chain A, util.cbc(), save overlay session.
    */
  def pymolScripts(atoms: DataFrame): DataFrame = {
    val models = atoms.select(col("job_dir"), col("model_idx")).distinct()
      .withColumn("load_line",
        concat(lit("load model_"), col("model_idx"), lit(".cif, model_"), col("model_idx")))
      .withColumn("align_line",
        when(col("model_idx") >= 1,
          concat(lit("align model_"), col("model_idx"),
            lit(" and chain A, model_0 and chain A"))))
    models.groupBy(col("job_dir"))
      .agg(
        concat_ws("\n",
          concat_ws("\n", transform(
            array_sort(collect_list(struct(col("model_idx"), col("load_line")))),
            _.getField("load_line"))),
          coalesce(concat_ws("\n", transform(
            array_sort(collect_list(when(col("align_line").isNotNull,
              struct(col("model_idx"), col("align_line"))))),
            _.getField("align_line"))), lit("")),
          lit("util.cbc()"),
          concat(lit("save "), col("job_dir"), lit("_overlay.pse")))
          .as("script"))
  }
}
