package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.util.HadoopFSUtils

/** The rules Spark's file index lists a scan's files by, for code that
  * walks a tree itself and must list what a scan would read.
  */
object FileIndexRules {

  /** A file or directory name the file index skips: names starting with
    * `.` or `_` (but Parquet's `_metadata` files and `k=v` partition
    * directories) and in-flight `._COPYING_` copies.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The qualified root paths a scan of `path` lists: `path` itself, or
    * what it expands to when it is a glob.
    */
  def roots(path: String, conf: Configuration): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    SparkHadoopUtil.get.globPathIfNecessary(fs, fs.makeQualified(p))
  }
}
