package perfbench

import java.io.File

final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric],
    execCounts: Map[String, Int] = Map.empty) {
  def json: String = {
    val ms = metrics.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
    val ec = execCounts.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")},"exec_counts":${ec.mkString("{", ",", "}")}}"""
  }
}

/** One AF3 run's inputs: the generated tree and its oracle expectations. */
final case class Inputs(workload: String, jobs: Option[Int], tree: File,
    expected: Af3Oracle.Expected, work: File) {
  def out: File = new File(work, "out")
}

object Stats {
  /** Progress line on stderr (stdout carries only the result). */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0) finally src.close()
  }
}

/** The per-layer metrics the traced run reports, with units. */
object Layers {
  private val spanSuffixes = Seq("s" -> "s", "task_s" -> "s", "idle_core_s" -> "s",
    "plan_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")

  val all: Seq[(String, String)] =
    Af3Bench.Af3Spans.flatMap(s => spanSuffixes.map { case (k, u) => s"$s.$k" -> u }) ++ Seq(
      "Af3Pipeline.interactingResidues.pae_cells" -> "count",
      "Af3Pipeline.interactingResidues.useful_ratio" -> "fraction",
      "CifParser.readAtomsDf.bytes_in" -> "bytes",
      "CifParser.readAtomsDf.atoms_parsed" -> "count",
      "CifParser.readAtomsDf.useful_ratio" -> "fraction",
      "Af3Pipeline.gate.pass_ratio" -> "fraction",
      "Af3Pipeline.contactPairs.candidate_pairs" -> "count",
      "Af3Pipeline.contactPairs.pair_yield" -> "fraction") ++
      Seq("CifWriter.overlayCif", "CifWriter.interactionCif", "CifWriter.pml").flatMap(s =>
        Seq(s"$s.files_written" -> "count", s"$s.bytes_written" -> "bytes")) ++
      Seq("plan_s" -> "s", "task_s" -> "s", "idle_core_s" -> "s", "jobs" -> "count",
        "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes").map { case (k, u) => s"suite.$k" -> u } ++
      SuiteBench.Heads.flatMap(h => Seq(s"$h.s" -> "s", s"$h.jobs" -> "count", s"$h.plan_s" -> "s")) ++
      ("artifact_spill_wipe" +: SuiteBench.SetupSteps.map(_._1)).map(n => s"setup.${n}_s" -> "s") ++
      Seq("trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_s" -> "s",
        "cold.first_pass_s" -> "s")
}

/** Benchmark JVM entry.
  *
  * {{{
  * gen    --workload W --seed S --out DIR [--jobs J]   AF3 tree + oracle expectations
  * oracle --input DIR --out FILE [Af3Run flags...]     expected report of any tree
  * run    --workload W --seed S --seconds T --trace 0|1 --work DIR --inputs DIR
  *        [--jobs J] [--cross DIR]   (--cross: the other family's inputs, traced runs)
  * layers                                              print the per-layer metric names
  * }}}
  * `run` prints one JSON result line last on stdout.
  */
object Main {
  /** Generate the tree and its oracle expectations unless cached. */
  def ensureTree(workload: String, seed: Long, jobs: Option[Int], dir: File): Unit =
    if (!new File(dir, "expected.tsv").exists) {
      val t0 = System.nanoTime()
      val tmp = new File(dir.getPath + ".tmp")
      Af3Bench.deleteTree(tmp)
      Af3Gen.generate(workload, seed, new File(tmp, "tree"), jobs)
      val p = Af3Oracle.params(Af3Gen.shape(workload, jobs).cliFlags)
      Af3Oracle.save(Af3Oracle.expected(new File(tmp, "tree"), p), new File(tmp, "expected.tsv"))
      Af3Bench.deleteTree(dir)
      if (!tmp.renameTo(dir)) sys.error(s"cannot move $tmp to $dir")
      Stats.log(f"generated $workload seed $seed in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse(sys.error("mode required"))
    val rest = argv.drop(1).toSeq
    val kv = rest.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"--$k required"))
    val jobs = kv.get("jobs").map(_.toInt)
    mode match {
      case "gen" =>
        ensureTree(arg("workload"), arg("seed").toLong, jobs, new File(arg("out")))
      case "oracle" =>
        // `--input DIR --out FILE` come first; the rest are Af3Run flags
        val flags = rest.drop(4)
        val e = Af3Oracle.expected(new File(arg("input")), Af3Oracle.params(flags))
        java.nio.file.Files.writeString(new File(arg("out")).toPath,
          (e.header +: e.rows).mkString("", "\n", "\n"))
      case "layers" =>
        Layers.all.foreach { case (n, u) => println(s"$n\t$u") }
      case "run" =>
        val workload = arg("workload")
        val seed = arg("seed").toLong
        val trace = arg("trace") == "1"
        val work = new File(arg("work"))
        work.mkdirs()
        val inputs = new File(arg("inputs"))
        val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
        val setupReps = 3
        def af3(w: String, j: Option[Int], dir: File) = {
          ensureTree(w, seed, j, dir)
          Inputs(w, j, new File(dir, "tree"), Af3Oracle.load(new File(dir, "expected.tsv")), work)
        }
        val result =
          if (trace) {
            // the traced run measures its own family at full size, then the
            // other family at a fixed small size (`--cross`), so every
            // per-layer metric is measured on every workload. The untraced
            // baseline is the last untraced pass before the traced one.
            val cross = new File(arg("cross"))
            val tr = new Tracer(s"$workload-s$seed", cores)
            val (own, other) =
              if (workload == "suite_heads") {
                val s = SuiteBench.traced(inputs, tr, warmLaps = 3)
                (s, Af3Bench.traced(af3("af3_screen", Some(2), cross), tr, warmups = 0))
              } else {
                (1 to setupReps).foreach(_ => Af3Bench.setupOnce())
                val a = Af3Bench.traced(af3(workload, jobs, inputs), tr, warmups = 3)
                (a, SuiteBench.traced(cross, tr, warmLaps = 0))
              }
            tr.write(new File(work, "spans.jsonl"))
            Result(own._1 + other._1, own._2 + other._2, Af3Bench.perLayer(other._3 ++ own._3))
          } else if (workload == "suite_heads")
            SuiteBench.untraced(inputs, work, arg("seconds").toInt, setupReps)
          else Af3Bench.untraced(af3(workload, jobs, inputs), arg("seconds").toInt, setupReps)
        println(result.json)
      case other => sys.error(s"unknown mode $other")
    }
  }
}
