package graft.af3

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import org.apache.spark.BroadcastBlocks
import org.apache.spark.util.SerializableConfiguration

import graft.{Af3Run, SparkSpec}

/** A local filesystem under its own scheme whose file opens and creates
  * wait at a gate ([[GatedFs.holding]]): the tasks of a Spark job that
  * reads or writes it stay running while a spec looks at the job.
  */
class GatedFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("gated:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GatedFs.pass()
    super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    GatedFs.pass()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    GatedFs.pass()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object GatedFs {
  @volatile private var entered = new CountDownLatch(0)
  @volatile private var release = new CountDownLatch(0)

  private def pass(): Unit = {
    entered.countDown()
    release.await(120, TimeUnit.SECONDS)
  }

  /** Run `action` in another thread, evaluate `atGate` once a task (or
    * the driver) waits at the gate, then open the gate and wait for
    * `action`, rethrowing its failure.
    */
  def holding[T](action: => Unit)(atGate: => T): T = {
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
    @volatile var failure: Throwable = null
    val t = new Thread(() => try action catch { case e: Throwable => failure = e })
    t.start()
    try {
      assert(entered.await(120, TimeUnit.SECONDS), "nothing reached the gate")
      atGate
    } finally {
      release.countDown()
      t.join()
      if (failure != null) throw failure
    }
  }
}

class TaskClosureSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.gated.impl", classOf[GatedFs].getName)

  /** The broadcasts `action` has made when its tasks first open or
    * create a gated file, by id: the task binary of each stage it has
    * submitted (an `Array[Byte]`) and the values its jobs ship.
    */
  private def broadcasts(action: => Unit): Map[Long, Any] = {
    val before = BroadcastBlocks.values().keySet
    GatedFs.holding(action)(BroadcastBlocks.values().filter { case (id, _) => !before(id) })
  }

  private def isConf(c: Class[_]): Boolean =
    classOf[Configuration].isAssignableFrom(c) || c == classOf[SerializableConfiguration]

  private lazy val out = Files.createTempDirectory("graft_task_closure").toFile

  /** Each AF3 Spark job, by its entry point, over the fixture tree. */
  private lazy val sites = {
    val tree = s"gated://$fixtureDir"
    Seq[(String, () => Unit)](
      "Af3Run.run" -> (() => Af3Run.run(spark, tree, new File(out, "run").getPath, Af3Params())),
      "readSummaries" -> (() => Af3Io.readSummaries(spark, tree).count()),
      "readPaeLong" -> (() => Af3Io.readPaeLong(spark, tree).count()),
      "runLog" -> (() => Af3Io.runLog(spark, tree).count()),
      "readAtoms" -> (() => CifParser.readAtoms(spark, tree).count()),
      "writeKeyedText" -> (() => CifWriter.writeKeyedText(
        Seq(("k", 1, "line")).toDF("file_key", "ord", "line"), s"gated://$out/keyed", ".txt")))
  }

  test("no AF3 Spark job ships a Hadoop conf in its task closure") {
    for ((site, action) <- sites) {
      val binaries = broadcasts(action()).collect { case (id, b: Array[Byte]) =>
        id -> BroadcastBlocks.classesIn(b)
      }
      assert(binaries.nonEmpty, site)
      for ((id, classes) <- binaries)
        assert(!classes.exists(isConf), s"$site: task binary $id holds " +
          classes.filter(isConf).map(_.getName).mkString(", "))
    }
    assert(Files.readAllLines(new File(out, "keyed/k.txt").toPath).toArray.toSeq === Seq("line"))
  }

  test("every AF3 Spark job broadcasts exactly one Hadoop conf") {
    for ((site, action) <- sites) {
      val values = broadcasts(action()).values.filterNot(_.isInstanceOf[Array[Byte]])
        .map(BroadcastBlocks.serialized).toSeq
      val confs = values.map(BroadcastBlocks.instancesIn(_).collect {
        case (c, n) if isConf(c) => n
      }.sum).sum
      info(s"$site: ${values.size} broadcast value(s), ${values.map(_.length).sum} bytes, " +
        s"$confs Hadoop conf(s)")
      assert(confs === 1, site)
    }
  }
}
