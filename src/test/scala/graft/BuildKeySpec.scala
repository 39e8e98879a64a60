package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.prepare.{ArtifactStore, DefMarker}

/** The one build key behind every piece of prepared state: derived from
  * the bytecode of the packages that write it, stable for an unchanged
  * build, moved by an edit to any of those classes and by nothing else,
  * the same from a class directory and from a jar; and the
  * [[DefMarker]] guard that carries it. */
class BuildKeySpec extends SparkSpec {

  /** The running graft classes, copied to a scratch tree. */
  private lazy val tree: JPath = {
    val src = Paths.get(
      classOf[DefMarker].getProtectionDomain.getCodeSource.getLocation.toURI)
    val dst = Files.createTempDirectory("build_key_spec")
    val walk = Files.walk(src.resolve("graft"))
    try walk.iterator.asScala.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    } finally walk.close()
    dst
  }

  /** The key of `tree` with one byte of `cls` flipped, then restored. */
  private def keyWithFlip(cls: String): String = {
    val f = tree.resolve(cls)
    val bytes = Files.readAllBytes(f)
    val flipped = bytes.clone()
    flipped(bytes.length / 2) = (flipped(bytes.length / 2) ^ 1).toByte
    Files.write(f, flipped)
    try DefMarker.buildKeyOf(tree) finally Files.write(f, bytes)
  }

  test("an unchanged class tree hashes to the same key, as the running build does") {
    val k = DefMarker.buildKeyOf(tree)
    assert(k.matches("[0-9a-f]{32}"), k)
    assert(DefMarker.buildKeyOf(tree) == k)
    assert(DefMarker.buildKey == k)
    assert(ArtifactStore.artifactPath("/some/corpus", "x")
      .startsWith(s"target/prepared/pipeline/$k/"))
  }

  test("one flipped byte in a class that writes prepared state changes the key") {
    val k = DefMarker.buildKeyOf(tree)
    Seq("graft/operators/Quantization$.class", "graft/prepare/ZOrder$.class")
      .foreach(cls => assert(keyWithFlip(cls) != k, cls))
    assert(DefMarker.buildKeyOf(tree) == k)
  }

  test("a flipped byte outside the build packages leaves the key alone") {
    assert(keyWithFlip("graft/SparkEntry$.class") == DefMarker.buildKeyOf(tree))
  }

  test("a jar of the same classes has the same key") {
    val jar = Files.createTempFile("build_key_spec", ".jar")
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(jar))
    val walk = Files.walk(tree)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
      out.putNextEntry(new java.util.zip.ZipEntry(
        tree.relativize(f).iterator.asScala.mkString("/")))
      out.write(Files.readAllBytes(f))
      out.closeEntry()
    } finally { walk.close(); out.close() }
    assert(DefMarker.buildKeyOf(jar) == DefMarker.buildKeyOf(tree))
  }

  test("a root without build classes fails instead of hashing to a constant") {
    val empty = Files.createTempDirectory("build_key_empty")
    intercept[IllegalArgumentException](DefMarker.buildKeyOf(empty))
  }

  test("a DefMarker-guarded layout is skipped under the same key, rewritten under another") {
    val root = Files.createTempDirectory("build_key_marker").resolve("layout").toString
    val df = spark.range(10).toDF("id")
    var writes = 0
    def write(key: String): Unit = {
      val mark = new DefMarker(spark, df, new Path(root), "spec", key)
      if (!mark.present) {
        df.write.mode("overwrite").parquet(root)
        writes += 1
        mark.commit()
      }
    }
    def markers = new java.io.File(root).list().count(_.startsWith("_graft_def_"))
    write(DefMarker.buildKey)
    write(DefMarker.buildKey)
    assert(writes == 1)
    // the default key is the running build's
    assert(new DefMarker(spark, df, new Path(root), "spec").present)
    write("0" * 32)
    assert(writes == 2 && markers == 1)
    write("0" * 32)
    assert(writes == 2)
  }

  test("an artifact write deletes the roots of other builds and keeps its own") {
    val base = new java.io.File("target/prepared/pipeline")
    val stale = Seq("v9", "0" * 32).map(n => new java.io.File(base, n))
    stale.foreach(d => assert(new java.io.File(d, "corpus/x").mkdirs() || d.isDirectory))
    val dir = s"/build_key_spec/${System.nanoTime}"
    ArtifactStore.artifact(spark, dir, "probe")(spark.range(3).toDF("id"))
    val own = new java.io.File(ArtifactStore.artifactPath(dir, "probe"))
    try {
      assert(stale.forall(!_.exists), stale.filter(_.exists).mkString(", "))
      assert(new java.io.File(own, "_SUCCESS").exists)
      assert(new java.io.File(base, DefMarker.buildKey).isDirectory)
    } finally org.apache.spark.network.util.JavaUtils.deleteRecursively(own.getParentFile)
  }
}
