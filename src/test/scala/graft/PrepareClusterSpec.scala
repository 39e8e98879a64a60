package graft

import org.apache.spark.sql.functions._

import graft.prepare.Prepare

/** The opt-in clustered prepare layout: every written fact file is sorted
  * by the cluster column, which is what gives parquet row-groups tight
  * min/max stats at scale (each row group's user_id range is narrow, so a
  * user predicate skips row groups instead of decoding them). */
class PrepareClusterSpec extends SparkSpec {

  test("clusterBy=user_id writes files sorted by user_id within each partition") {
    val out = "target/tmp/prepare_clustered"
    val ev = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
    Prepare.run(spark, ev, out, clusterBy = Seq("user_id"))

    // per input-file monotonicity: within every written file, user_id is
    // non-decreasing in row order
    val withFile = spark.read.parquet(s"$out/events")
      .select(col("user_id"), input_file_name().as("f"))
    val fileOrderViolations = withFile
      .withColumn("rn", monotonically_increasing_id())
      .groupBy(col("f"))
      .agg(collect_list(struct(col("rn"), col("user_id"))).as("rows"))
      .select(col("f"),
        size(filter(
          zip_with(
            transform(array_sort(col("rows")), r => r.getField("user_id")),
            slice(transform(array_sort(col("rows")), r => r.getField("user_id")), 2, 1000000),
            (a, b) => b < a),
          x => x)).as("bad"))
      .agg(sum(col("bad"))).head.getLong(0)
    assert(fileOrderViolations == 0L, s"$fileOrderViolations descending steps")

    // and the clustered layout answers queries identically to the default
    val defOut = "target/tmp/prepare_default"
    Prepare.run(spark, ev, defOut)
    val a = spark.read.parquet(s"$out/events")
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = spark.read.parquet(s"$defOut/events")
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("writeBucketed rewrites when the base definition changes (no stale reuse)") {
    import graft.prepare.Bucketing
    val path = "target/tmp/bkt_defhash"
    val tbl = "bkt_defhash_spec"
    val base = graft.sources.ParquetNanos.read(spark, s"$sfDir/orders.parquet")
    Bucketing.writeBucketed(spark, base.filter(col("o_orderkey") < 100),
      tbl, "o_orderkey", 4, path)
    val n1 = spark.table(tbl).count()
    // same definition: idempotent (no rewrite, same contents)
    Bucketing.writeBucketed(spark, base.filter(col("o_orderkey") < 100),
      tbl, "o_orderkey", 4, path)
    assert(spark.table(tbl).count() == n1)
    // CHANGED definition (different filter): must rewrite, not reuse
    Bucketing.writeBucketed(spark, base.filter(col("o_orderkey") < 500),
      tbl, "o_orderkey", 4, path)
    val n2 = spark.table(tbl).count()
    val expect = base.filter(col("o_orderkey") < 500).count()
    assert(n2 == expect && n2 != n1, s"stale bucketed layout reused: $n2 vs $expect")
  }

  // a file:-qualified root: data and def marker go through the root's own
  // FS (java.io would resolve "file:/..." as a path under the working
  // directory)
  test("writeBucketed under a file:-qualified root: same definition a no-op, a changed one rewrites") {
    import graft.prepare.Bucketing
    val local = java.nio.file.Files
      .createTempDirectory("bkt_qualified").toString + "/layout"
    val root = "file:" + local
    val tbl = "bkt_qualified_spec"
    val base = graft.sources.ParquetNanos.read(spark, s"$sfDir/orders.parquet")
    def files(): Set[String] =
      Option(new java.io.File(local).listFiles()).toSeq.flatten.map(_.getName).toSet
    def markers(): Set[String] = files().filter(_.startsWith("_graft_def_"))
    Bucketing.writeBucketed(spark, base.filter(col("o_orderkey") < 100),
      tbl, "o_orderkey", 4, root)
    val written = files()
    val n1 = spark.table(tbl).count()
    assert(markers().size == 1 && written.exists(_.startsWith("part-")), written.toString)
    Bucketing.writeBucketed(spark, base.filter(col("o_orderkey") < 100),
      tbl, "o_orderkey", 4, root)
    assert(files() == written, "identical definition rewrote the layout")
    Bucketing.writeBucketed(spark, base.filter(col("o_orderkey") < 500),
      tbl, "o_orderkey", 4, root)
    val n2 = spark.table(tbl).count()
    assert(n2 == base.filter(col("o_orderkey") < 500).count() && n2 != n1)
    assert(markers().size == 1 && markers() != written.filter(_.startsWith("_graft_def_")))
  }
}
