package graft.prepare

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The definition marker of a prepared layout at `root`: an empty
  * `_graft_def_<hash>` file, `hash` the MD5 of `df`'s canonicalized plan
  * plus the layout's own `params`. A writer skips when its marker is
  * [[present]], and otherwise rewrites and [[commit]]s, which sweeps the
  * stale markers: an edit to the base definition (filter, schema, bucket
  * count, grid) rewrites the layout instead of silently reusing the old
  * one. Every marker operation goes through the root's own Hadoop FS, so
  * a qualified root (`file:`, `hdfs:`) behaves like a plain local path.
  * Used by [[Bucketing.writeBucketed]] and [[ZOrder.writeZOrdered]]. */
private[prepare] final class DefMarker(spark: SparkSession, df: DataFrame,
                                       root: Path, params: String) {
  private val fs = DefMarker.fsOf(spark, root)
  private val marker = {
    val basis = df.queryExecution.analyzed.canonicalized.toString + "|" + params
    new Path(root, DefMarker.Prefix + java.security.MessageDigest
      .getInstance("MD5").digest(basis.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)
  }

  /** Does `root` carry this definition's marker? */
  def present: Boolean = fs.exists(marker)

  /** Record this definition after a (re)write: sweep every other marker,
    * leave this one. */
  def commit(): Unit = {
    DefMarker.sweep(fs, root, keep = marker.getName)
    fs.create(marker, true).close()
  }
}

private[prepare] object DefMarker {
  private val Prefix = "_graft_def_"

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Drop every definition marker under `root`: the layout no longer
    * equals any single definition, so the next write must rebuild. */
  def clear(spark: SparkSession, root: Path): Unit =
    sweep(fsOf(spark, root), root, keep = "")

  private def sweep(fs: FileSystem, root: Path, keep: String): Unit =
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith(Prefix) && p.getName != keep)
      .foreach(fs.delete(_, false))
}
