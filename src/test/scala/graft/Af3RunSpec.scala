package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.BroadcastBlocks
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.Eventually._

import graft.af3.{Af3Io, Af3Params, CifParser, CifWriter}

/** A local filesystem under a scheme that a spec maps to it only through
  * the session's conf (`spark.conf.set`), never the context's.
  */
class SessionConfFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("sessionconf:///")
}

class Af3RunSpec extends SparkSpec {
  import spark.implicits._

  /** Every file under `dir`, relative, hidden ones included. */
  private def listRel(dir: File): Set[String] = {
    def go(d: File, pre: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) go(f, pre + f.getName + "/") else Seq(pre + f.getName)
      }
    go(dir, "").toSet
  }

  private def lines(f: File): Seq[String] = Files.readAllLines(f.toPath).asScala.toSeq

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def sha256(f: File): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString

  private val interDir = "Interaction_cif_files_PAE_15.0_maxdist_8.0"
  private val overDir = s"Overlays_$interDir"

  /** sha256 of every output file of a default-flag run on the fixture
    * tree: the report, the interaction CIF, the overlays and the `.pml`
    * must stay byte-identical, not only the report rows.
    */
  private val goldenDigests = {
    val over = s"$overDir/job_binder"
    Map(
      "interaction_analysis_PAE_15.0_max_dist_8.0.csv" ->
        "c99f0944c5fdd810ee15719fd3cd17d35a20c94ee83f949a2917f53597279ac9",
      s"$interDir/job_binder_interaction.cif" ->
        "2add3449a9ea8c1ef586b87ab48e5541c11be2c2431e710cd32facfa8ee22dff",
      s"$over/align_and_save.pml" ->
        "03693ff5fcbd3b26eb819c22a985954946f4f0928179cf477d2aa3fc806cb033",
      s"$over/model_0.cif" -> "412a8c686126804fad2c2823f2f29ef22cc6e8eea95e3dfa0e48ade690507a43",
      s"$over/model_1.cif" -> "6eb1013258d75fd686d2e4ed5cb6d3f0e37aebde19236b30b7ec9327a5d10617",
      s"$over/model_2.cif" -> "509b3602ad564273aa72805348baeac6a32cde716fa475717e4b6fe42e5eb748",
      s"$over/model_3.cif" -> "b0144440d20024ae98022efc39ac462ca8352587650f37bcc2cec7c5147f5aaa",
      s"$over/model_4.cif" -> "c732c7677a5fdd1415dd7b698811524ee2dfe866f86fffa6f76a8341a8e1c1e2")
  }

  test("run writes exactly the reference's output tree and report on the fixture tree") {
    val out = Files.createTempDirectory("graft_af3run").toFile
    val n = Af3Run.run(spark, fixtureDir, out.getPath, Af3Params())
    assert(n === 1)

    val report = "interaction_analysis_PAE_15.0_max_dist_8.0.csv"
    val inter = "Interaction_cif_files_PAE_15.0_maxdist_8.0"
    val over = "Overlays_Interaction_cif_files_PAE_15.0_maxdist_8.0/job_binder"
    assert(listRel(out) === Set(report, s"$inter/job_binder_interaction.cif",
      s"$over/align_and_save.pml") ++ (0 to 4).map(k => s"$over/model_$k.cif"))

    val got = lines(new File(out, report))
    val expected = lines(new File(fixtureDir, "expected_report.csv"))
    assert(got.head === "Folder_name,Contact_residues_POI_chain_A,Contact_sequence," +
      "Interacting_residues_Partner_chain_B,Interacting_sequence")
    assert(got.tail.sorted === expected.tail.sorted)
  }

  test("run's output files match the golden sha256 digests byte for byte") {
    val out = Files.createTempDirectory("graft_af3run_digest").toFile
    Af3Run.run(spark, fixtureDir, out.getPath, Af3Params())
    val got = listRel(out).toSeq.map(f => f -> sha256(new File(out, f))).toMap
    assert(got === goldenDigests)
  }

  /** A bundle tree for the sink edges, built from the fixture binder:
    * `edge_gap` lacks `model_2.cif` (FIXTURES.md), `edge_single` has
    * model 0 only and `edge_none` has no PAE hit, so it keeps no island.
    * The PAE matrices are the fixture's made symmetric, so a run with
    * the chains swapped finds islands too. `edge_gap`'s model 0 carries
    * the renderer's edge values: rounding ties, a negative value that
    * rounds to zero, -0.0, a magnitude of 1e9 and more, a missing
    * B-factor and atom names that need quotes.
    */
  private lazy val edgeTree: String = {
    val src = new File(fixtureDir, "job_binder")
    val root = Files.createTempDirectory("graft_sink_edges").toFile
    def read(name: String): String =
      new String(Files.readAllBytes(new File(src, s"job_binder_$name").toPath), "UTF-8")
    def put(job: String, name: String, body: String): Unit = {
      val d = new File(root, job)
      d.mkdirs()
      Files.write(new File(d, s"${job}_$name").toPath, body.getBytes("UTF-8"))
    }
    // fixture hits: POI rows 0-7 x partner columns 13-17, 19, 25 of 30
    def hit(i: Int, j: Int) = i <= 7 && (j >= 13 && j <= 17 || j == 19 || j == 25)
    def fullData(hits: Boolean): String = {
      val rows = (0 until 30).map(i => (0 until 30)
        .map(j => if (hits && (hit(i, j) || hit(j, i))) "5.0" else "25.0").mkString("[", ", ", "]"))
      s"""{"pae": ${rows.mkString("[", ", ", "]")}, "token_res_ids": ${(1 to 30).mkString("[", ", ", "]")}}"""
    }
    val edgeValues = Seq(
      "ATOM 1 N N . ALA A 1 1 ? 0.000 0.000 0.000 1.00 50.00 1 A 1" ->
        "ATOM 1 N N . ALA A 1 1 ? -0.0004 1.0005 -0.0 0.125 ? 1 A 1",
      "ATOM 3 N N . CYS A 1 2 ? 4.000 0.000 0.000 1.00 50.00 2 A 1" ->
        "ATOM 3 N 'N X' . CYS A 1 2 ? 4.000 0.000 0.000 1.00 50.00 2 A 1",
      "ATOM 5 N N . ASP A 1 3 ? 8.000 0.000 0.000 1.00 50.00 3 A 1" ->
        "ATOM 5 N '\"N' . ASP A 1 3 ? 8.000 12.3456 0.000 1.00 50.00 3 A 1",
      "ATOM 7 N N . GLU A 1 4 ? 12.000 0.000 0.000 1.00 50.00 4 A 1" ->
        "ATOM 7 N N . GLU A 1 4 ? 1234567890.5 -1000000000.0 0.000 1.00 50.00 4 A 1")
    val model0 = edgeValues.foldLeft(read("model_0.cif")) { case (t, (from, to)) =>
      assert(t.contains(from), s"fixture line changed: $from")
      t.replace(from, to)
    }
    val summary = read("summary_confidences_0.json")
    for ((job, models, hits) <- Seq(("edge_gap", Seq(0, 1, 3, 4), true),
        ("edge_single", Seq(0), true), ("edge_none", 0 to 4, false))) {
      put(job, "summary_confidences_0.json", summary)
      put(job, "full_data_0.json", fullData(hits))
      models.foreach { k =>
        put(job, s"model_$k.cif",
          if (job == "edge_gap" && k == 0) model0 else read(s"model_$k.cif"))
      }
    }
    root.getPath
  }

  private def digests(out: File): Map[String, String] =
    listRel(out).toSeq.map(f => f -> sha256(new File(out, f))).toMap

  test("every AF3 read and write honors a filesystem set only on the session") {
    val src = new File(fixtureDir).toPath
    val tree = Files.createTempDirectory("graft_session_fs")
    Files.walk(src).forEach { p =>
      val to = tree.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val out = Files.createTempDirectory("graft_session_fs_out").toFile
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def reads(dir: String): Seq[Seq[String]] = Seq(Af3Io.readSummaries(spark, dir),
      Af3Io.readPaeLong(spark, dir), Af3Io.runLog(spark, dir),
      CifParser.readAtoms(spark, dir).toDF()).map(rows)
    val want = reads(s"file://$tree")
    assert(want.forall(_.nonEmpty))
    val keys = Seq("fs.sessionconf.impl" -> classOf[SessionConfFs].getName,
      // no cached instance to fall back on: each read resolves the scheme
      // from the conf it was given
      "fs.sessionconf.impl.disable.cache" -> "true")
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      Af3Run.run(spark, s"sessionconf://$tree", s"sessionconf://$out/run", Af3Params())
      assert(digests(new File(out, "run")) === goldenDigests)
      assert(reads(s"sessionconf://$tree") === want)
      CifWriter.writeKeyedText(Seq(("k", 2, "b"), ("k", 1, "a")).toDF("file_key", "ord", "line"),
        s"sessionconf://$out/keyed", ".txt")
      assert(lines(new File(out, "keyed/k.txt")) === Seq("a", "b"))
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Every `_atom_site` row of a written CIF. */
  private def atomRows(f: File): Seq[String] =
    lines(f).filter(l => l.startsWith("ATOM") || l.startsWith("HETATM"))

  test("run on the sink edge tree: a missing model, a single model, a binder with no island") {
    val out = Files.createTempDirectory("graft_sink_edges_out").toFile
    val (in, _, p) = Af3Run.parseArgs(Array("--input_dir", edgeTree))
    Af3Run.run(spark, in, out.getPath, p)
    val inter = new File(out, interDir)
    val over = new File(out, overDir)

    assert(lines(new File(over, "edge_gap/align_and_save.pml")) === Seq(
      "load model_0.cif, model_0", "load model_1.cif, model_1",
      "load model_3.cif, model_3", "load model_4.cif, model_4",
      "align model_1 and chain A, model_0 and chain A",
      "align model_3 and chain A, model_0 and chain A",
      "align model_4 and chain A, model_0 and chain A",
      "util.cbc()", "save edge_gap_overlay.pse"))
    assert(!new File(over, "edge_gap/model_2.cif").exists())
    // one model: the align block is an empty line
    assert(lines(new File(over, "edge_single/align_and_save.pml")) ===
      Seq("load model_0.cif, model_0", "", "util.cbc()", "save edge_single_overlay.pse"))
    // no island: the POI chain alone, in the interaction CIF and every overlay
    for (f <- new File(inter, "edge_none_interaction.cif") +:
        (0 to 4).map(k => new File(over, s"edge_none/model_$k.cif"))) {
      val chains = atomRows(f).map(_.split(" ").takeRight(2).head).distinct
      assert(chains === Seq("A"), f.getPath)
    }
    assert(atomRows(new File(inter, "edge_gap_interaction.cif")).head ===
      "ATOM 1 N N . ALA A 1 1 ? -0.000 1.001 -0.000 0.13 ? 1 A 1")

    assert(digests(out) === edgeDigests)
  }

  test("run on the sink edge tree with --poi_chain B --partner_chain A") {
    val out = Files.createTempDirectory("graft_sink_edges_swap").toFile
    val (in, _, p) = Af3Run.parseArgs(
      Array("--input_dir", edgeTree, "--poi_chain", "B", "--partner_chain", "A"))
    Af3Run.run(spark, in, out.getPath, p)
    assert(digests(out) === swappedEdgeDigests)
  }

  /** sha256 of every output file of the default-flag edge-tree run. */
  private val edgeDigests = Map(
    s"$interDir/edge_gap_interaction.cif" ->
      "45256187e269f4a740e04f395d553630938db0d04710a4c1c35f5b08c03822b6",
    s"$interDir/edge_none_interaction.cif" ->
      "e463c8def025cb725582fc8f19a10db584c6d4a825ed6969021f209d66ccfec5",
    s"$interDir/edge_single_interaction.cif" ->
      "2fafa5e3e0ecceaa05ec60a66a91515324f48ea4d7e77c7d89163aeb4c3420e8",
    s"$overDir/edge_gap/align_and_save.pml" ->
      "26293f41a1bd67a2aaae1edbba3415e12aaad1f70a07becdd0d066ae84559a6d",
    s"$overDir/edge_gap/model_0.cif" ->
      "41763e13d9ebed5d895319967deba365235541ea0f2dc2dc9da8eca04da36ac4",
    s"$overDir/edge_gap/model_1.cif" ->
      "2c10b10db9fae4a81e8f3ec44f0999a2f4e9082473f8ef6411b51a16a50dc988",
    s"$overDir/edge_gap/model_3.cif" ->
      "27ac8d8572151ca1e7c8be1bd9ace5d5de9b6ba498709d82e6b02df7b8ebff9b",
    s"$overDir/edge_gap/model_4.cif" ->
      "c8dd521b51297e4a35b7b6e573be01ec6a2bb3108d2c7e262a5885620ef71c44",
    s"$overDir/edge_none/align_and_save.pml" ->
      "1f77778c70a1a657ba451fd7038577bd90f77224f25a109d98a6a800f0e500a2",
    s"$overDir/edge_none/model_0.cif" ->
      "bd85378f2e3f8e347e8ce4d4c74d651da53f63c575c8159ce932e79e69eb92c4",
    s"$overDir/edge_none/model_1.cif" ->
      "997e453cc0842f131f5e4f467f84bcf44d7a3c80f88b16154463c4f4ce801d7b",
    s"$overDir/edge_none/model_2.cif" ->
      "e29ab5ff5bbff50bddd31b2ccae27ee2fa896fc039d732a3ac351a20533e09fc",
    s"$overDir/edge_none/model_3.cif" ->
      "6ff7901c527bd42b14c219e2ec47cf9afbb35f7ef6adb221803eaf2ec80266e7",
    s"$overDir/edge_none/model_4.cif" ->
      "2d4aa158016e9724ebf839837dd0f0df27d6e3a9b3ad1a7034e2d930a8fc7983",
    s"$overDir/edge_single/align_and_save.pml" ->
      "34e91301171744204ea873372355194540a77630773ce7f3a468572311b35aee",
    s"$overDir/edge_single/model_0.cif" ->
      "65f9f4ea8052a1d38b63d4f2f54977c4b494647e8c01041c13e9eee884b70f78",
    "interaction_analysis_PAE_15.0_max_dist_8.0.csv" ->
      "8ae85ef2a94e8bb6e0c85827ad86a7b2e08695ad8397166d0a97a8eaa9872b24")

  /** sha256 of every output file of the swapped-chain edge-tree run. */
  private val swappedEdgeDigests = Map(
    s"$interDir/edge_gap_interaction.cif" ->
      "7dd192e5c2bc3547820cb953096fe718dee9849a163b1e796ad1e0254f0defa2",
    s"$interDir/edge_none_interaction.cif" ->
      "4c4582f6ec8912288a5bb5f40452ce6f2d74c6d797e3b6881f9dd5823b4354f5",
    s"$interDir/edge_single_interaction.cif" ->
      "341fa0acca72aa238569bf4ba8fa8ed73d21325770cdb2c990dc9d532d58d502",
    s"$overDir/edge_gap/align_and_save.pml" ->
      "26293f41a1bd67a2aaae1edbba3415e12aaad1f70a07becdd0d066ae84559a6d",
    s"$overDir/edge_gap/model_0.cif" ->
      "e6a305ad26262f784ceb6f5dd3dd704eb780ae28895bbd2db8ea3f04136b8b3c",
    s"$overDir/edge_gap/model_1.cif" ->
      "ef51a089127ec410a254776d9f302f1d233b8ed3fb80c7dc72626d9bb4664712",
    s"$overDir/edge_gap/model_3.cif" ->
      "20052e102d2d3bb690ab493a7b89eb73a4f12a44924870b5da702bad3363a899",
    s"$overDir/edge_gap/model_4.cif" ->
      "286aeb25820806b1505e89584e00dae077b7baf49e20dadb9dce80263e50678d",
    s"$overDir/edge_none/align_and_save.pml" ->
      "1f77778c70a1a657ba451fd7038577bd90f77224f25a109d98a6a800f0e500a2",
    s"$overDir/edge_none/model_0.cif" ->
      "9f69f7ae0c67a36c383798bb97057e0eb915990bff405a7776bc512d076fa98a",
    s"$overDir/edge_none/model_1.cif" ->
      "e04e79f72449b7db4a4ce798315351e26e26cfb2be224458fe2cef45ab3a8318",
    s"$overDir/edge_none/model_2.cif" ->
      "e76c714c87a4dd13853c0f5b4cfb52fbb12b494b2f333edb8bce1d89eb0de795",
    s"$overDir/edge_none/model_3.cif" ->
      "a7830027760a326f99a3de792e5efd22cded2b13712b1371cc9f443e938d339f",
    s"$overDir/edge_none/model_4.cif" ->
      "5d52f861e56acb3f1a954ef6309f28bcff61f8a1fde75bf26980897d86b8caf6",
    s"$overDir/edge_single/align_and_save.pml" ->
      "34e91301171744204ea873372355194540a77630773ce7f3a468572311b35aee",
    s"$overDir/edge_single/model_0.cif" ->
      "656ae3e3df0d9eeed9dc8cf3e8643c7350cb33f6ab23970fba84083151ad0c21",
    "interaction_analysis_PAE_15.0_max_dist_8.0.csv" ->
      "d5da6127aab9fcfd875564e9992e6118c73acb26029005d1b38f919fd1e1ceb6")

  private def runLogRows(dir: String): Seq[Seq[String]] =
    graft.af3.Af3Io.runLog(spark, dir).select("job_dir", "file", "kind", "status").collect()
      .map(r => (0 until 4).map(r.getString)).toSeq.sortBy(_.mkString("\t"))

  test("AppleDouble `._` siblings with valid content change no output, only runLog's hidden rows") {
    val src = new File(fixtureDir, "job_binder")
    val root = Files.createTempDirectory("graft_appledouble").toFile
    def read(name: String): String =
      new String(Files.readAllBytes(new File(src, s"job_binder_$name").toPath), "UTF-8")
    def put(job: String, name: String, body: String): Unit = {
      val d = new File(root, job)
      d.mkdirs()
      Files.write(new File(d, name).toPath, body.getBytes("UTF-8"))
    }
    // job_keep passes the gate; job_reject fails it on chain_pair_pae_min
    for (job <- Seq("job_keep", "job_reject")) {
      put(job, s"${job}_summary_confidences_0.json",
        if (job == "job_keep") read("summary_confidences_0.json")
        else """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5, 30.0], [30.1, 0.6]]}""")
      put(job, s"${job}_full_data_0.json", read("full_data_0.json"))
      (0 to 4).foreach(k => put(job, s"${job}_model_$k.cif", read(s"model_$k.cif")))
    }
    def run(): Map[String, String] = {
      val out = Files.createTempDirectory("graft_appledouble_out").toFile
      Af3Run.run(spark, root.getPath, out.getPath, Af3Params())
      digests(out)
    }
    val (before, logBefore) = (run(), runLogRows(root.getPath))
    assert(before.keySet.exists(_.contains("job_keep")))

    // each sibling would change the outputs if a reader parsed it: a
    // summary that passes job_reject, a model 0 with one more POI atom,
    // and a PAE with every cell below the cutoff
    val model0 = read("model_0.cif")
    val lastAtom = model0.lastIndexOf("\n#")
    assert(lastAtom > 0)
    val planted = Seq(
      ("job_reject", "._job_reject_summary_confidences_0.json", read("summary_confidences_0.json")),
      ("job_keep", "._job_keep_model_0.cif", model0.substring(0, lastAtom) +
        "\nATOM 57 C CA . ALA A 1 99 ? 0.000 50.000 0.000 1.00 50.00 99 A 1" +
        model0.substring(lastAtom)),
      ("job_keep", "._job_keep_full_data_0.json", read("full_data_0.json")
        .replaceAll("\"pae\": \\[.*\\]\\]", "\"pae\": " +
          Seq.fill(30)(Seq.fill(30)("0.0").mkString("[", ", ", "]")).mkString("[", ", ", "]"))))
    planted.foreach { case (job, name, body) => put(job, name, body) }
    assert(planted.forall { case (job, name, _) => new File(new File(root, job), name).isFile })

    assert(run() === before)
    assert(runLogRows(root.getPath) === (logBefore ++ planted.map { case (job, name, _) =>
      Seq(job, name, "hidden", "skipped_hidden") }).sortBy(_.mkString("\t")))
  }

  /** Assert that no broadcast made since `before` (the driver's broadcast
    * ids) is left but the jobs' task binaries, which Spark's
    * `ContextCleaner` owns: the broadcast an AF3 job ships its task state
    * in is destroyed without it.
    */
  private def assertNoBroadcastLeft(before: Set[Long]): Unit =
    eventually(timeout(30.seconds), interval(50.millis)) {
      val left = BroadcastBlocks.values().filter { case (id, v) =>
        !before(id) && !v.isInstanceOf[Array[Byte]]
      }
      assert(left.isEmpty, left.map { case (id, v) => s"$id: ${v.getClass.getName}" })
    }

  test("run releases every cache it makes in the caller's session") {
    spark.catalog.clearCache()
    val before = BroadcastBlocks.values().keySet
    val out = Files.createTempDirectory("graft_af3run_caches").toFile
    Af3Run.run(spark, fixtureDir, out.getPath, Af3Params())
    assert(spark.sharedState.cacheManager.isEmpty)
    assertNoBroadcastLeft(before)
  }

  test("run destroys its broadcast when a task throws") {
    // an output dir under a regular file: the binder's task fails to
    // create its first overlay
    val blocker = Files.createTempFile("graft_af3run_unwritable", "").toFile
    val before = BroadcastBlocks.values().keySet
    intercept[Exception] {
      Af3Run.run(spark, fixtureDir, new File(blocker, "out").getPath, Af3Params())
    }
    assertNoBroadcastLeft(before)
  }

  test("run takes 1 Spark job on the fixture tree and on an af3_screen tree") {
    val root = Files.createTempDirectory("graft_af3run_jobs").toFile
    val screen = new File(root, "screen")
    perfbench.Af3Gen.generate("af3_screen", 1L, screen)
    // the listing runs on the driver, the gate in the tasks and the
    // report CSV is rendered on the driver: only the per-job tasks' job
    try for (tree <- Seq(fixtureDir, screen.getPath)) {
      val out = new File(root, s"out_${new File(tree).getName}")
      assert(sparkJobs(Af3Run.run(spark, tree, out.getPath, Af3Params())) === 1, tree)
    } finally deleteTree(root)
  }

  test("report rows come in job-name order, whatever the shuffle partitions") {
    val root = Files.createTempDirectory("graft_af3run_order").toFile
    val tree = new File(root, "tree")
    perfbench.Af3Gen.generate("af3_screen", 1L, tree)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val reports = try Seq("4", "7").map { n =>
      spark.conf.set(key, n)
      val out = new File(root, s"out_$n")
      Af3Run.run(spark, tree.getPath, out.getPath, Af3Params())
      Files.readAllBytes(new File(out, "interaction_analysis_PAE_15.0_max_dist_8.0.csv").toPath)
    } finally {
      spark.conf.set(key, saved)
      deleteTree(root)
    }
    assert(reports(0).sameElements(reports(1)),
      s"\n${new String(reports(0), "UTF-8")}\nvs\n${new String(reports(1), "UTF-8")}")
    val jobs = new String(reports(0), "UTF-8").linesIterator.drop(1).map(_.split(",")(0)).toSeq
    assert(jobs.distinct.size >= 3)
    assert(jobs === jobs.sorted)
  }

  test("the AF3RUN line reports the task counters of the fixture run") {
    val out = Files.createTempDirectory("graft_af3run_counters").toFile
    val stdout = new java.io.ByteArrayOutputStream
    Console.withOut(stdout)(Af3Run.run(spark, fixtureDir, out.getPath, Af3Params()))
    val line = stdout.toString("UTF-8").linesIterator.filter(_.startsWith("AF3RUN ")).toSeq
    assert(line.size === 1)
    val fields = line.head.split(" ").tail.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }.toMap
    // 1 binder with files (job_latin1 has a summary only), 5 models of
    // 56 atoms, one 30x30 PAE; 7 files: 5 overlays, the interaction CIF
    // and the .pml
    assert(fields.filter(!_._1.endsWith("_ms")) === Map("report_rows" -> "1",
      "binders" -> "2", "models" -> "5", "atoms" -> "280", "pae_cells" -> "900",
      "interacting" -> "7", "contacts" -> "15", "islands" -> "1", "files" -> "7"))
    assert(fields.keySet.filter(_.endsWith("_ms")) ===
      Set("parse_ms", "pae_ms", "contacts_ms", "islands_ms", "sinks_ms"))
    assert(fields.filter(_._1.endsWith("_ms")).values.forall(_.toDouble >= 0.0))
  }

  test("parseArgs rejects a dangling argument and an unknown flag") {
    val dangling = intercept[RuntimeException] {
      Af3Run.parseArgs(Array("--input_dir", "in", "--max_dist"))
    }
    assert(dangling.getMessage.contains("dangling argument '--max_dist'"))
    val unknown = intercept[RuntimeException] {
      Af3Run.parseArgs(Array("--input_dir", "in", "--max_pae", "5"))
    }
    assert(unknown.getMessage.contains("unknown flag(s) max_pae"))
  }

  test("parseArgs keeps the reference's defaults and reads every flag") {
    assert(Af3Run.parseArgs(Array("--input_dir", "in")) === (("in", ".", Af3Params())))
    val (_, outDir, p) = Af3Run.parseArgs(Array("--input_dir", "in", "--output_dir", "o",
      "--poi_chain", "B", "--partner_chain", "C", "--max_pae_cutoff", "10",
      "--min_iptm_cutoff", "0.5", "--min_ptm_cutoff", "0.6",
      "--min_residues_cutoff", "3", "--max_dist", "5"))
    assert(outDir === "o")
    assert(p === Af3Params("B", "C", 10.0, 0.5, 0.6, 3, 5.0))
  }
}
