package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** Properties of the deterministic id-modulo corpus cap
  * (prepare.ArtifactStore.moduloCap) that the no-skip-list verdicts of the
  * O(N²) verification baselines hang on: the DuckDB oracles RESTATE the
  * sample as `id % m == 0` with `m = ceil(n/cap)`, so oracle parity
  * requires the Spark side to select exactly that set — and to be the
  * identity below the cap (m == 1), which is what keeps sf0.01/sf0.1
  * outputs byte-identical to the uncapped form. */
object ModuloCapPropertySpec extends Properties("modulo-cap") {

  private lazy val spark = SparkSpecBase.spark

  private val genCase: Gen[(List[Long], Long)] = for {
    n <- Gen.choose(0, 300)
    // ids like the fixtures': non-negative, duplicates allowed (MakeSfN
    // replica offsets keep them distinct in practice, but the contract
    // only needs id >= 0)
    ids <- Gen.listOfN(n, Gen.choose(0L, 5000L))
    cap <- Gen.choose(1L, 120L)
  } yield (ids, cap)

  property("spark sample == restated id%m sample; identity below cap") =
    Prop.forAll(genCase) { case (ids, cap) =>
      import SparkSpecBase.implicits._
      val df = ids.toDF("doc_id").repartition(4)
      val got = prepare.ArtifactStore.moduloCap(df, "doc_id", cap)
        .collect().map(_.getLong(0)).sorted.toSeq
      // the oracle-side restatement, in plain Scala
      val n = ids.size.toLong
      val m = if (n <= cap) 1L else (n + cap - 1) / cap
      val want = ids.filter(_ % m == 0).sorted
      val eq = (got == want) :| s"m=$m got=${got.take(20)} want=${want.take(20)}"
      val identity = (n > cap || m == 1L) :| s"m=$m but n=$n <= cap=$cap"
      eq && identity
    }
}
