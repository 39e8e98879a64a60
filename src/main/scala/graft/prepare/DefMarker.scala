package graft.prepare

import java.nio.file.{FileSystems, Files, Paths, Path => JPath}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The definition marker of a prepared layout at `root`: an empty
  * `_graft_def_<hash>` file, `hash` the MD5 of `df`'s canonicalized plan,
  * the layout's own `params` and the build `key`. A writer skips when its
  * marker is [[present]], and otherwise rewrites and [[commit]]s, which
  * sweeps the stale markers: an edit to the base definition (filter,
  * schema, bucket count, grid) or to the code that writes the layout
  * rewrites it instead of silently reusing the old one. Every marker
  * operation goes through the root's own Hadoop FS, so a qualified root
  * (`file:`, `hdfs:`) behaves like a plain local path. */
private[graft] final class DefMarker(spark: SparkSession, df: DataFrame,
                                     root: Path, params: String,
                                     key: String = DefMarker.buildKey) {
  private val fs = DefMarker.fsOf(spark, root)
  private val marker = new Path(root, DefMarker.Prefix + DefMarker.hex(
    MessageDigest.getInstance("MD5").digest(
      (df.queryExecution.analyzed.canonicalized.toString + "|" + params + "|" + key)
        .getBytes("UTF-8"))))

  /** Does `root` carry this definition's marker? */
  def present: Boolean = fs.exists(marker)

  /** Record this definition after a (re)write: sweep every other marker,
    * leave this one. */
  def commit(): Unit = {
    DefMarker.sweep(fs, root, keep = marker.getName)
    fs.create(marker, true).close()
  }
}

private[graft] object DefMarker {
  private val Prefix = "_graft_def_"

  /** The packages whose classes write prepared state. */
  private val BuildPackages =
    Seq("prepare", "operators", "functions", "sources", "schema", "engine", "dsl")
      .map(p => s"graft/$p/")

  /** [[buildKeyOf]] the running graft classes, hashed once per JVM. */
  lazy val buildKey: String = buildKeyOf(
    Paths.get(classOf[DefMarker].getProtectionDomain.getCodeSource.getLocation.toURI))

  /** MD5 over the sorted (entry name, bytes) of every `.class` file of
    * the build packages under `root`, a class directory or a jar: no
    * clock, session or path enters it. A root without such classes fails
    * rather than hash to a constant that could not tell builds apart. */
  def buildKeyOf(root: JPath): String = {
    val jar = if (Files.isDirectory(root)) None else Some(FileSystems.newFileSystem(root))
    val base = jar.fold(root)(_.getPath("/"))
    try {
      val walk = Files.walk(base)
      val classes = try walk.iterator.asScala
        .map(f => base.relativize(f).iterator.asScala.mkString("/") -> f)
        .filter { case (n, _) => n.endsWith(".class") && BuildPackages.exists(n.startsWith) }
        .toSeq.sortBy(_._1)
      finally walk.close()
      require(classes.nonEmpty, s"no graft build classes under $root")
      val md = MessageDigest.getInstance("MD5")
      classes.foreach { case (n, f) =>
        md.update(n.getBytes("UTF-8")); md.update(0: Byte); md.update(Files.readAllBytes(f))
      }
      hex(md.digest())
    } finally jar.foreach(_.close())
  }

  private[graft] def hex(digest: Array[Byte]): String = digest.map("%02x".format(_)).mkString

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
