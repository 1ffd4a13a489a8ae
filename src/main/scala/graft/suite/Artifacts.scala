package graft.suite

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped corpus-index artifact cache — the generalized form of
  * the dedup shared-index memo, shared by every suite that builds a
  * read-many index over a test table (dedup pair graph/labels over
  * `documents`, IVF distance frame over `embeddings`).
  *
  * Keying: (session, dir, input table, content fingerprint, kind). The
  * fingerprint (size+mtime of every input file, the
  * [[graft.operators.Bucketing]] scheme) makes data regenerated AT THE
  * SAME PATH rebuild the artifact instead of serving the previous
  * corpus's index; a rebuild unpersists the superseded frame, and a
  * session-end listener drops the session's entries.
  *
  * Builds run under a plain reentrant lock, NOT computeIfAbsent: build
  * lambdas may memoize their own dependencies, and ConcurrentHashMap
  * forbids recursive updates from inside a mapping function.
  *
  * SECOND TIER — parquet spill keyed by the same content fingerprint
  * (`tmp/artifacts/<table>_<key>_<dirtag>_<fp>`): a fresh JVM over
  * unchanged input RELOADS the artifact instead of rebuilding it, so
  * the bench setup phase on a re-run costs file scans, not k-means/CC
  * training. The `<dirtag>` segment scopes the spill to its sf DIR:
  * "stale generation" means the SAME dir's data regenerated (same tag,
  * different fp — delete), not a sibling scale's index (different tag
  * — keep), so a verify at sf0.01 no longer clobbers the sf0.1 bench
  * spills between driver phases and each scale's reload survives.
  * Built artifacts are written once (atomic temp-dir rename — a racing
  * second writer loses and reads the winner's files) and read back, so
  * even first-build consumers hold a frame whose lineage is a trivial
  * parquet scan rather than the full build plan — a durable lineage cut
  * (checkpoint semantics without the session-scoped storage). Stale
  * fingerprints of the same (table, key) are deleted on write. Every
  * artifact is deterministic by repo-wide contract (integer k-means,
  * hash-min CC, polynomial hashes), so replaying from disk is
  * bit-identical to rebuilding.
  */
object Artifacts {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String, Long, String), DataFrame]()
  private val cleanupHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  private def fingerprint(s: SparkSession, dir: String, table: String): Long =
    graft.operators.Bucketing.contentFingerprint(Registry.tbl(s, dir, table))

  /** Drop (and unpersist) every cached artifact belonging to `s`. */
  def clear(s: SparkSession): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        try e.getValue.unpersist(blocking = false) catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  /** Re-pin every cached artifact of `s` after a session-wide cache
    * clear (bench between-lap maintenance).
    */
  def rewarmAll(s: SparkSession): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) { e.getValue.persist(); e.getValue.count() }
    }
  }

  def memo(s: SparkSession, dir: String, table: String, key: String)(
      build: => DataFrame): DataFrame = {
    val fp = fingerprint(s, dir, table)
    val k = (s, dir, table, fp, key)
    val hit = cache.get(k)
    if (hit ne null) return hit
    cache.synchronized {
      val again = cache.get(k)
      if (again ne null) return again
      if (cleanupHooked.add(s))
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            clear(s)
        })
      // evict artifacts built from a previous generation of this input
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if ((e.getKey._1 eq s) && e.getKey._2 == dir && e.getKey._3 == table &&
            e.getKey._4 != fp) {
          try e.getValue.unpersist(blocking = false) catch { case _: Throwable => () }
          it.remove()
        }
      }
      val df = loadOrBuild(s, dir, table, fp, key)(build).persist()
      df.count()
      cache.put(k, df)
      df
    }
  }

  /** Parquet spill root — overridable for tests/ops via
    * GRAFT_ARTIFACT_DIR; relative paths resolve against the launch cwd
    * (the repo root for sbt/Bench/Verify runs).
    */
  private def spillRoot: String =
    sys.env.getOrElse("GRAFT_ARTIFACT_DIR", "tmp/artifacts")

  /** 8-hex tag of the sf dir's absolute path — scopes spill names (and
    * stale-spill deletion) per input dir so different scales coexist.
    */
  private def dirTag(dir: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(
      new java.io.File(dir).getAbsolutePath)}%08x"

  /** Delete every parquet spill belonging to `dir` (matched via the
    * dirtag segment of the spill name). Bench calls this at the top of
    * its declared setup phase so `setup_sec` records a BUILD, not a
    * warm parquet read of the previous run's spill (r12 verdict #5 —
    * the driver's 13.1 s setup was hiding a ~209 s true build cost on
    * warm tmp/). Other dirs' spills (the driver's sf0.001/sf0.01
    * verify phases) are untouched.
    */
  def wipeSpill(s: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(spillRoot)
    wipeSpillUnder(root.getFileSystem(s.sparkContext.hadoopConfiguration), root,
      s"_${dirTag(dir)}_")
  }

  /** [[wipeSpill]] over an explicit filesystem and root: delete every
    * spill whose name contains `tag`.
    */
  private[graft] def wipeSpillUnder(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tag: String): Unit =
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.getPath.getName.contains(tag)) deleteOrWarn(fs, st.getPath)
    }

  /** Recursive delete that never fails the caller but never hides a
    * failure either: a delete that throws or returns `false` leaves one
    * stderr line with the path and the cause.
    */
  private[graft] def deleteOrWarn(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Unit = {
    val cause =
      try { if (fs.delete(path, true)) None else Some("delete returned false") }
      catch { case e: Throwable => Some(e.toString) }
    cause.foreach(c => System.err.println(s"[artifacts] could not delete $path: $c"))
  }

  private def loadOrBuild(s: SparkSession, dir: String, table: String,
      fp: Long, key: String)(build: => DataFrame): DataFrame = {
    val scope = s"${table}_${key}_${dirTag(dir)}"
    val name = s"${scope}_${java.lang.Long.toHexString(fp)}"
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(spillRoot)
    val fs = root.getFileSystem(conf)
    val dest = new org.apache.hadoop.fs.Path(root, name)
    val ok = new org.apache.hadoop.fs.Path(dest, "_SUCCESS")
    if (fs.exists(ok)) return s.read.parquet(dest.toString)
    val built = build
    // drop indexes of superseded generations of this (dir, table, key) —
    // matched EXACTLY by stripping the trailing _<hexfp> segment: a
    // startsWith prefix test would let key "ivf_dists" claim (and
    // delete) "ivf_dists_scaled"'s current spill dirs, breaking the
    // already-loaded scaled frame's parquet-scan lineage on re-scan.
    // (The un-tagged base is the pre-dirtag spill format — clean those
    // leftovers too while we're here.)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val cut = n.lastIndexOf('_')
      val base = if (cut > 0) n.substring(0, cut) else n
      if ((base == scope || base == s"${table}_${key}") && n != name)
        deleteOrWarn(fs, st.getPath)
    }
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    built.write.mode("overwrite").parquet(tmp.toString)
    // a partial dest (killed mid-write, no _SUCCESS) blocks the rename:
    // clear it; if a racing writer completed meanwhile, the rename below
    // fails and we read the winner's files
    if (fs.exists(dest) && !fs.exists(ok)) deleteOrWarn(fs, dest)
    if (!fs.rename(tmp, dest)) {
      // a concurrent writer won the rename: discard ours, read theirs
      deleteOrWarn(fs, tmp)
    }
    s.read.parquet(dest.toString)
  }
}
