package graft.suite

import org.apache.spark.sql.functions._

import graft.af3.{Af3Io, Af3Params, Af3Pipeline, CifParser}

/** AF3 domain pipeline as driver-checkable queries. These run over the
  * committed synthetic fixture bundle (src/test/resources/af3 — generated
  * by tools/make_af3_fixtures.py together with independently computed
  * expected_*.csv oracles, which the DuckDB side reads back). The sfDir
  * argument is ignored: the driver tables carry no mmCIF content.
  */
object Af3Queries {

  private val fx = "/root/repo/src/test/resources/af3"
  private val p = Af3Params()

  def all: Seq[QDef] = Seq(

    QDef(
      "af3_scan_cif_atoms",
      (s, _) =>
        CifParser.readAtomsDf(s, fx)
          .filter(col("job_dir") === "job_binder" && col("model_idx") === 0)
          .select(col("chain"), col("res_id").cast("long").as("res_id"),
            col("res_name"), col("atom_name"), col("x"), col("y"), col("z"),
            col("ordinal").cast("long").as("ordinal"), col("group_pdb"),
            col("type_symbol"), col("alt_id"), col("label_asym_id"),
            col("entity_id"), col("label_seq_id"), col("ins_code"),
            col("occupancy"), col("b_iso"))
          .orderBy("chain", "res_id", "atom_name"),
      Some(s"""
        SELECT chain, res_id, res_name, atom_name, x, y, z, ordinal,
               group_pdb, type_symbol, alt_id, label_asym_id,
               CAST(entity_id AS VARCHAR) AS entity_id,
               CAST(label_seq_id AS VARCHAR) AS label_seq_id, ins_code,
               occupancy, b_iso
        FROM read_csv('$fx/expected_atoms_model0.csv', header=true)
        ORDER BY chain, res_id, atom_name""")),

    QDef(
      "af3_run_log",
      (s, _) =>
        Af3Io.runLog(s, fx).orderBy("job_dir", "kind", "file"),
      Some("""
        SELECT * FROM (VALUES
          ('job_binder', '._job_binder_summary_confidences_0.json', 'hidden', 'skipped_hidden'),
          ('job_binder', 'job_binder_model_0.cif', 'cif', 'parsed'),
          ('job_binder', 'job_binder_model_1.cif', 'cif', 'parsed'),
          ('job_binder', 'job_binder_model_2.cif', 'cif', 'parsed'),
          ('job_binder', 'job_binder_model_3.cif', 'cif', 'parsed'),
          ('job_binder', 'job_binder_model_4.cif', 'cif', 'parsed'),
          ('job_binder', 'job_binder_full_data_0.json', 'full_data', 'parsed'),
          ('job_binder', 'job_binder_summary_confidences_0.json', 'summary', 'parsed'),
          ('job_corrupt', 'job_corrupt_summary_confidences_0.json', 'summary', 'corrupt_json'),
          ('job_latin1', 'job_latin1_summary_confidences_0.json', 'summary', 'parsed'),
          ('job_weak', 'job_weak_summary_confidences_0.json', 'summary', 'parsed')
        ) AS t(job_dir, file, kind, status)
        ORDER BY job_dir, kind, file""")),

    QDef(
      "af3_filter_confidence_gate",
      (s, _) =>
        Af3Pipeline.gate(Af3Io.readSummaries(s, fx), p)
          .select(col("job_dir")).orderBy("job_dir"),
      Some("""
        SELECT 'job_binder' AS job_dir UNION ALL SELECT 'job_latin1'
        ORDER BY job_dir""")),

    QDef(
      "af3_agg_chain_info",
      (s, _) =>
        Af3Pipeline.stages(s, fx, p).info
          .filter(col("job_dir") === "job_binder")
          .select(col("chain"), col("residue_length"), col("sequence"))
          .orderBy("chain"),
      Some(s"""
        SELECT chain, residue_length, sequence
        FROM read_csv('$fx/expected_chain_info.csv', header=true)
        ORDER BY chain""")),

    QDef(
      "af3_interacting_residues",
      (s, _) =>
        Af3Pipeline.stages(s, fx, p).interacting
          .filter(col("job_dir") === "job_binder")
          .select(col("partner_res").cast("long").as("partner_res"))
          .orderBy("partner_res"),
      Some(s"""
        SELECT partner_res
        FROM read_csv('$fx/expected_interacting.csv', header=true)
        ORDER BY partner_res""")),

    QDef(
      "af3_contact_map",
      (s, _) =>
        Af3Pipeline.stages(s, fx, p).contacts
          .select(col("partner_res").cast("long").as("partner_res"),
            col("poi_res").cast("long").as("poi_res"))
          .orderBy("partner_res", "poi_res"),
      Some(s"""
        SELECT partner_res, poi_res
        FROM read_csv('$fx/expected_contacts.csv', header=true)
        ORDER BY partner_res, poi_res""")),

    QDef(
      "af3_report",
      (s, _) =>
        Af3Pipeline.stages(s, fx, p).report
          .orderBy("folder_name", "contact_residues_poi", "interacting_residues_partner"),
      Some(s"""
        SELECT folder_name, contact_residues_poi, contact_sequence,
               interacting_residues_partner, interacting_sequence
        FROM read_csv('$fx/expected_report.csv', header=true)
        ORDER BY 1, 2, 4""")),

    QDef(
      "sink_csv_pae_sideoutput",
      (s, _) => {
        // extract_pae_data's side CSV of the raw matrix (py:114-117):
        // per job, one line per row i with comma-joined values, written
        // next to the (writable) output dir; the query returns the
        // rendered lines for the oracle.
        val pae = graft.af3.Af3Io.readPaeLong(s, fx)
        val lines = graft.operators.Aggregates.orderedStringAgg(
            pae.withColumn("v", col("pae").cast("string")),
            Seq("job_dir", "i"), Seq("j"), col("v"), "line", sep = ",")
        graft.af3.CifWriter.writeKeyedText(
          lines.select(concat(col("job_dir"), lit("_pae")).as("file_key"),
            col("i").cast("long").as("ord"), col("line")),
          sys.props("java.io.tmpdir") + "/graft_pae_sideoutput", ".csv")
        lines.select(col("job_dir"), col("i").cast("long").as("i"), col("line"))
          .orderBy("job_dir", "i")
      },
      Some(s"""
        WITH m AS (
          SELECT 'job_binder' AS job_dir, i.generate_series AS i, j.generate_series AS j,
                 pae[i.generate_series + 1][j.generate_series + 1] AS v
          FROM (SELECT pae FROM read_json('$fx/job_binder/job_binder_full_data_0.json',
                  columns = {pae: 'DOUBLE[][]', token_res_ids: 'BIGINT[]'})),
               generate_series(0, 29) i, generate_series(0, 29) j)
        SELECT job_dir, i, string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS line
        FROM m GROUP BY job_dir, i ORDER BY job_dir, i""")),

    QDef(
      "sink_cif_filtered",
      (s, _) => {
        // create_interaction_cif residue selection (py:326-345): POI
        // chain + partner residues in kept islands, rendered + written;
        // the oracle recomputes the expected atom set from the fixture
        // CSVs (atoms x contact-island membership).
        // this query fires two actions (the file sink + the returned
        // frame); the stages' caches keep the parse->contacts chain to
        // one run
        val st = Af3Pipeline.stages(s, fx, p)
        val sel = Af3Pipeline.interactionCifAtoms(st.atoms, st.members, p).cache()
        graft.af3.CifWriter.writeKeyedText(
          graft.af3.CifWriter.renderCif(sel, concat(col("job_dir"), lit("_interaction"))),
          sys.props("java.io.tmpdir") + "/graft_cif_filtered", ".cif",
          withCifHeader = true)
        sel.select(col("chain"), col("res_id").cast("long").as("res_id"),
            col("atom_name"))
          .orderBy("chain", "res_id", "atom_name")
      },
      Some(s"""
        WITH islands AS (
          SELECT DISTINCT partner_res
          FROM read_csv('$fx/expected_contacts.csv', header=true))
        SELECT chain, res_id, atom_name
        FROM read_csv('$fx/expected_atoms_model0.csv', header=true)
        WHERE chain = 'A' OR (chain = 'B' AND res_id IN (SELECT partner_res FROM islands))
        ORDER BY chain, res_id, atom_name""")),

    QDef(
      "sink_cif_model_extract",
      (s, _) => {
        // extract_and_save_model (py:389-430): POI -> 'A', island
        // partner residues -> 'B', for every model 0..4. Oracle: the
        // per-model per-chain atom counts derived from the fixture CSVs
        // (identical across models; coordinates differ by jitter only).
        val st = Af3Pipeline.stages(s, fx, p)
        Af3Pipeline.modelExtractAtoms(st.atoms, st.members, p)
          .groupBy(col("model_idx").cast("long").as("model_idx"), col("chain"))
          .agg(count(lit(1)).as("n_atoms"))
          .orderBy("model_idx", "chain")
      },
      Some(s"""
        WITH base AS (
          SELECT CASE WHEN chain = 'A' THEN 'A' ELSE 'B' END AS chain,
                 count(*) AS n_atoms
          FROM read_csv('$fx/expected_atoms_model0.csv', header=true)
          WHERE chain = 'A'
             OR (chain = 'B' AND res_id IN (
                   SELECT DISTINCT partner_res
                   FROM read_csv('$fx/expected_contacts.csv', header=true)))
          GROUP BY 1)
        SELECT m.generate_series AS model_idx, chain, n_atoms
        FROM base, generate_series(0, 4) m
        ORDER BY model_idx, chain""")),

    QDef(
      "af3_pymol_script",
      (s, _) =>
        Af3Pipeline.pymolScripts(
          Af3Pipeline.stages(s, fx, p).atoms.filter(col("job_dir") === "job_binder"))
          .select(col("job_dir"), col("script")).orderBy("job_dir"),
      Some("""
        SELECT 'job_binder' AS job_dir,
          'load model_0.cif, model_0' || chr(10) ||
          'load model_1.cif, model_1' || chr(10) ||
          'load model_2.cif, model_2' || chr(10) ||
          'load model_3.cif, model_3' || chr(10) ||
          'load model_4.cif, model_4' || chr(10) ||
          'align model_1 and chain A, model_0 and chain A' || chr(10) ||
          'align model_2 and chain A, model_0 and chain A' || chr(10) ||
          'align model_3 and chain A, model_0 and chain A' || chr(10) ||
          'align model_4 and chain A, model_0 and chain A' || chr(10) ||
          'util.cbc()' || chr(10) ||
          'save job_binder_overlay.pse' AS script"""))
  )
}
