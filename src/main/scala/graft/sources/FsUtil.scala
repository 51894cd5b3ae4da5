package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Filesystem probes that follow Spark's Hadoop configuration. Layout
  * paths may live on any Hadoop-supported filesystem (file:, hdfs:,
  * s3a:), and `java.io.File` silently reports "absent" for every URI
  * scheme it cannot parse — which would turn logical deletes
  * ([[AnnLayout]] tombstones) and manifest extensions
  * ([[StatsManifest.append]]) into silent no-ops anywhere but the
  * local disk.
  */
private[graft] object FsUtil {

  def exists(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursive delete; no-op when absent. */
  def delete(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Names of the plain `part-*` data files directly under `dir`
    * (empty when the directory doesn't exist yet).
    */
  def listPartFiles(s: SparkSession, dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSet
  }

  /** Logical delete shared by the [[AnnLayout]], [[MinhashIndex]] and
    * [[HammingIndex]] layouts: the distinct ids land in
    * `path/tombstones` (append mode, id-only metadata).
    */
  def tombstone(path: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$path/tombstones")

  /** `frame` minus the ids tombstoned under `path`, through one
    * broadcast anti-join on `id`.
    */
  def withoutTombstones(s: SparkSession, path: String, frame: DataFrame): DataFrame =
    if (!exists(s, s"$path/tombstones")) frame
    else frame.join(
      broadcast(s.read.parquet(s"$path/tombstones").select("id").distinct()),
      Seq("id"), "left_anti")
}
