package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.BeforeAndAfterAll

import graft.prepare.ArtifactStore
import graft.tools.Probe

/** The pipeline artifact store's memo discipline and codebook codec:
  * recursive builds, memo hits that launch no job, and the completeness
  * check on a partial codebook table. Each run uses a corpus key of its
  * own, so its artifacts land in a fresh directory under the store's
  * build-keyed root, removed afterwards. */
class ArtifactStoreSpec extends SparkSpec with BeforeAndAfterAll {
  import SparkSpecBase.implicits._

  private val corpus =
    java.nio.file.Files.createTempDirectory("artifact-store-spec").toString
  private val root =
    new java.io.File(ArtifactStore.artifactPath(corpus, "x")).getParentFile

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(root)
    rm(new java.io.File(corpus))
  }

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
}
