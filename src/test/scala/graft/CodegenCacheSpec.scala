package graft

/** Churn gate for generated code: a warm pass over the headline entries
  * compiles no generated class. Every class a stable plan needs is in
  * Spark's class cache after the first pass
  * ([[GraftSession.CodegenCacheEntries]] holds the whole working set),
  * so a compile on the second pass means a plan emitted code that
  * differs from the last pass's — churn, which a larger cache would only
  * hide (whole-stage codegen ids in class names were such churn, see
  * [[GraftSession.codegenConfs]]). Under Spark's default 100-entry
  * cache this spec fails: the headline set alone needs several hundred
  * classes, and each pass evicts the classes the next one asks for
  * first.
  *
  * Compiles are the `CodegenMetrics.METRIC_COMPILATION_TIME` count
  * (one per cache miss) around each entry's [[Bench.timeOne]] at
  * sf0.001, with pooled dedup intermediates released before each pass
  * as `graft.Bench` does. Regenerate a count with
  * `runMain graft.tools.Probe <entry> <sf0.001 dir> 2` (its
  * `compiles=` field). */
class CodegenCacheSpec extends SparkSpec {

  /** Most classes an entry may compile on a warm pass, with the reason. */
  private val churn: Map[String, Long] = Map(
    // an AQE race, seen once in 18 warm passes: no shingle of the
    // sf0.001 corpus is above the df cap, so the stop-shingle side of
    // the profile join is empty. When that broadcast stage finishes
    // before AQE re-plans the join, AQE drops the join; when it
    // finishes after, the join runs as a broadcast hash join over an
    // EmptyHashedRelation, a class of its own, compiled once for the
    // driver's class loader and once for the tasks'
    "dedup_ngram_blocked" -> 2L)

  test("a warm pass of the headline entries compiles no generated class") {
    val headline = Bench.relational ++ Bench.pipeline
    assert(churn.keySet.subsetOf(headline.toSet))
    def pass(): Seq[(String, Long)] = {
      graft.operators.Dedup.releaseIntermediates()
      headline.map(n => n -> Bench.compilesOf(Bench.timeOne(spark, sfDir, n))._2)
    }
    pass()
    val over = pass().filter { case (n, c) => c > churn.getOrElse(n, 0L) }
    assert(over.isEmpty, "generated classes compiled on a warm pass:\n" +
      over.map { case (n, c) => s"$n: $c" }.mkString("\n"))
  }
}
