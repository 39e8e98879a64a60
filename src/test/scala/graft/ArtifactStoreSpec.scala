package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.prepare.ArtifactStore
import graft.tools.Probe

/** The artifact store: its memo discipline and codebook codec
  * (recursive builds, memo hits that launch no job, the completeness
  * check on a partial codebook table), its stage-once writer, and the
  * corpus identity that keys every derived path. Each run uses corpora
  * of its own, so their state lands in fresh roots, removed afterwards. */
class ArtifactStoreSpec extends SparkSpec with BeforeAndAfterAll {
  import SparkSpecBase.implicits._

  private val corpus = Files.createTempDirectory("artifact-store-spec").toString
  private def rootOf(dir: String) =
    new java.io.File(ArtifactStore.artifactPath(dir, "x")).getParentFile
  private val root = rootOf(corpus)

  /** A copy of the spec fixture in a dir of the same name, its `events`
    * and `documents` cut to a subset: state staged for the original must
    * not answer for it. */
  private lazy val copy: String = {
    val dir = Files.createTempDirectory("artifact-store-copy")
      .resolve(new java.io.File(sfDir).getName)
    Files.createDirectories(dir)
    Files.list(Paths.get(sfDir)).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val ts = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(ts)
    spark.conf.set(ts, "TIMESTAMP_MICROS")
    try Seq("events" -> (pmod(col("event_id"), lit(3)) =!= 0),
        "documents" -> (pmod(col("doc_id"), lit(10)) =!= 1)).foreach { case (t, keep) =>
      val tmp = dir.resolveSibling(s"$t.tmp").toString
      graft.sources.ParquetNanos.read(spark, s"$sfDir/$t.parquet").filter(keep)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      JavaUtils.deleteRecursively(new java.io.File(tmp))
    } finally saved.fold(spark.conf.unset(ts))(spark.conf.set(ts, _))
    dir.toString
  }

  override def afterAll(): Unit = {
    JavaUtils.deleteRecursively(root)
    JavaUtils.deleteRecursively(new java.io.File(corpus))
    JavaUtils.deleteRecursively(rootOf(copy))
    JavaUtils.deleteRecursively(new java.io.File(copy).getParentFile)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a memo build that re-enters artifact() for other names completes") {
    // the shape of every trained-state build: a memo whose build reads
    // artifacts, one of which builds from another — nested lookups must
    // not run inside a ConcurrentHashMap mapping function
    val n = ArtifactStore.memo(spark, corpus, "nested_gate") {
      val inner = ArtifactStore.artifact(spark, corpus, "nested_inner")(
        spark.range(5).toDF("id"))
      ArtifactStore.artifact(spark, corpus, "nested_outer")(
        inner.select(($"id" * 2).as("id"))).count()
    }
    assert(n === 5L)
  }

  test("a second lookup returns the same instance and launches no Spark job") {
    val builds = new AtomicInteger
    val first = ArtifactStore.artifact(spark, corpus, "twice") {
      builds.incrementAndGet()
      spark.range(10).toDF("id")
    }
    val (second, jobs) = Probe.jobsOf(spark)(
      ArtifactStore.artifact(spark, corpus, "twice") {
        builds.incrementAndGet()
        spark.range(10).toDF("id")
      })
    assert(second eq first)
    assert(builds.get === 1)
    assert(jobs === 0)
  }

  test("a codebook table with fewer than m x k rows fails, naming the artifact") {
    // a finished write (with _SUCCESS) of 2 subspaces x 2 codewords with
    // one cell missing: the store reads it back instead of training
    Seq((0, 0, Seq(1.0)), (0, 1, Seq(2.0)), (1, 0, Seq(3.0)))
      .toDF("s", "j", "cent").write.mode("overwrite")
      .parquet(ArtifactStore.artifactPath(corpus, "pq_codebooks"))
    val e = intercept[IllegalArgumentException](
      ArtifactStore.pqCodebooks(spark, corpus))
    assert(e.getMessage.contains("pq_codebooks incomplete: 3 rows for 2x2"))
  }

  test("rewriting one fixture file moves artifactPath") {
    val dir = Files.createTempDirectory("artifact-store-identity")
    val f = dir.resolve("events.parquet")
    Files.write(f, Array[Byte](1, 2, 3))
    val before = ArtifactStore.artifactPath(dir.toString, "x")
    try {
      assert(ArtifactStore.artifactPath(dir.toString, "x") == before)
      // same length, new mtime
      Files.setLastModifiedTime(f, FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 5000))
      val touched = ArtifactStore.artifactPath(dir.toString, "x")
      assert(touched != before)
      // new length
      Files.write(f, Array[Byte](1, 2, 3, 4))
      assert(!Set(before, touched).contains(ArtifactStore.artifactPath(dir.toString, "x")))
    } finally JavaUtils.deleteRecursively(dir.toFile)
  }

  test("a staged dir without _SUCCESS is rewritten") {
    val path = ArtifactStore.artifactPath(corpus, "staged_once")
    // what killed runs leave: the dir without _SUCCESS, and a partial
    Seq(path, s"$path.partial").foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, "stale"), Array[Byte](0))
    }
    var writes = 0
    def stage(fail: Boolean): String = ArtifactStore.staged(corpus, "staged_once") { p =>
      writes += 1
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "data"), Array[Byte](7))
      if (fail) throw new IllegalStateException("killed mid-write")
    }
    intercept[IllegalStateException](stage(fail = true))
    assert(!Files.exists(Paths.get(path, "_SUCCESS")))
    assert(stage(fail = false) == path && writes == 2)
    assert(Files.exists(Paths.get(path, "_SUCCESS")) && Files.exists(Paths.get(path, "data")))
    assert(!Files.exists(Paths.get(path, "stale")) && !Files.exists(Paths.get(s"$path.partial")))
    assert(stage(fail = false) == path && writes == 2)
  }

  test("roundtrip copies of a same-named fixture copy answer for the copy") {
    def plain(dir: String) = rows(graft.schema.EventTime.withDerived(
        graft.sources.ParquetNanos.read(spark, s"$dir/events.parquet"))
      .groupBy(col("day")).agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value")))
    assert(plain(copy) != plain(sfDir))
    Seq("s1_csv_strict", "s8_jsonl_roundtrip").foreach { e =>
      SparkEntry.queries(e)(spark, sfDir).collect() // the original stages first
      assert(rows(SparkEntry.queries(e)(spark, copy)) == plain(copy), e)
    }
  }

  test("stream_dedup_near invoked twice gives the same rows with no duplicates") {
    SparkEntry.queries("stream_dedup_near")(spark, sfDir).collect()
    val first = rows(SparkEntry.queries("stream_dedup_near")(spark, copy))
    val second = rows(SparkEntry.queries("stream_dedup_near")(spark, copy))
    val docs = graft.sources.ParquetNanos.read(spark, s"$copy/documents.parquet")
    val fresh = docs.filter(pmod(col("doc_id"), lit(10)) < 2)
    val want = rows(graft.operators.Dedup.incrementalJaccardPairs(
      graft.operators.Dedup.signatures(fresh, "doc_id", "text", n = 3),
      ArtifactStore.docSigs(spark, copy).filter(pmod(col("id"), lit(10)) >= 2),
      threshold = 0.5))
    assert(first.nonEmpty && first.distinct == first)
    assert(first == want && second == first)
  }
}
