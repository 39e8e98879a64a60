package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import org.apache.spark.sql.functions._

import graft.prepare.ZOrder

/** Properties of the Z-order layout math. The layout's correctness
  * rests on ONE agreement: the executor-side cell assignment (Column
  * integer arithmetic at write time) must equal the driver-side
  * covering enumeration's arithmetic for every in-range value — a
  * single disagreement silently skips a partition holding box rows.
  * These properties pin that agreement and the end-to-end
  * layout-independence it implies, over adversarial bounds (degenerate
  * ranges, negative coordinates, boxes clamped at the grid edge). */
object ZOrderPropertySpec extends Properties("zorder") {

  private lazy val spark = SparkSpecBase.spark

  private val boundsGen: Gen[(Long, Long)] = for {
    min <- Gen.choose(-100000L, 100000L)
    s <- Gen.oneOf(Gen.const(0L), Gen.choose(0L, 1000L),
      Gen.choose(0L, 10000000L))
  } yield (min, min + s)

  property("Column cell assignment == driver gridCoord/interleave twins") =
    Prop.forAll(boundsGen, boundsGen,
      Gen.listOfN(40, Gen.choose(0.0, 1.0)),
      Gen.listOfN(40, Gen.choose(0.0, 1.0)),
      Gen.oneOf(2, 4, 6, 8)) { (xb, yb, xf, yf, cellBits) =>
      import SparkSpecBase.implicits._
      val (xMin, xMax) = xb
      val (yMin, yMax) = yb
      // in-range points spread over the boxes (fractions of the span)
      def at(min: Long, max: Long, f: Double): Long =
        min + math.min(max - min, math.round(f * (max - min)))
      val pts = xf.zip(yf).map { case (fx, fy) =>
        (at(xMin, xMax, fx), at(yMin, yMax, fy)) }
      val cb = cellBits / 2
      val shift = 2 * ZOrder.FineBits - cellBits
      val df = pts.toDF("x", "y").select(col("x"), col("y"),
        shiftright(ZOrder.mortonCol(
          ZOrder.gridCoord(col("x"), xMin, xMax, ZOrder.FineBits),
          ZOrder.gridCoord(col("y"), yMin, yMax, ZOrder.FineBits)),
          shift).as("cell"))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      val diffs = got.filter { case ((x, y), cell) =>
        val want = ZOrder.interleave(
          ZOrder.gridCoordL(x, xMin, xMax, cb),
          ZOrder.gridCoordL(y, yMin, yMax, cb), cb)
        cell != want
      }
      diffs.isEmpty :| s"x=[$xMin,$xMax] y=[$yMin,$yMax] cellBits=$cellBits " +
        s"diffs=${diffs.take(3).mkString(",")}"
    }

  // one layout written once, many random boxes probed against it — the
  // end-to-end guarantee the oracle entry states (covering superset +
  // exact residual => layout-independent results), including boxes
  // partly or fully outside the written bounds
  private lazy val layout: (String, Seq[(Long, Long, Long)]) = {
    import SparkSpecBase.implicits._
    val rnd = new scala.util.Random(0xa11ce)
    val rows = (0L until 3000L).map { i =>
      (i, rnd.nextLong(9000L) - 1000L, rnd.nextLong(500000L) - 50000L) }
    val dir = java.nio.file.Files
      .createTempDirectory("zorder_prop").toString + "/layout"
    ZOrder.writeZOrdered(spark, rows.toDF("id", "x", "y"), dir, "x", "y",
      cellBits = 6)
    (dir, rows)
  }

  property("boxScan == raw filter for arbitrary boxes (incl. out-of-range)") =
    Prop.forAll(
      Gen.choose(-2000L, 9000L), Gen.choose(0L, 6000L),
      Gen.choose(-80000L, 500000L), Gen.choose(0L, 300000L)) {
      (xLo, xSpan, yLo, ySpan) =>
      val (dir, rows) = layout
      val (xHi, yHi) = (xLo + xSpan, yLo + ySpan)
      val got = ZOrder.boxScan(spark, dir, "x", "y", xLo, xHi, yLo, yHi)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val want = rows.collect { case (id, x, y)
        if x >= xLo && x <= xHi && y >= yLo && y <= yHi => id }.toSet
      (got == want) :| s"box x=[$xLo,$xHi] y=[$yLo,$yHi] " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}"
    }

  // a layout whose points lie on the diagonal x == y: a point's two grid
  // coordinates are equal, so only the 8 diagonal cells of the 8x8 grid
  // exist and boxes off the diagonal have no live covering cell
  private lazy val diagonal: (String, org.apache.spark.sql.types.StructType) = {
    import SparkSpecBase.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("zorder_diag").toString + "/layout"
    ZOrder.writeZOrdered(spark, (0L until 4096L).map(i => (i, i, i))
      .toDF("id", "x", "y"), dir, "x", "y", cellBits = 6)
    (dir, graft.sources.ParquetNanos.read(spark, dir).schema)
  }

  // no shrinking: a shrunk box leaves the absent region, and the
  // counterexample would no longer show the failing case
  property("boxScan over absent cells (incl. out-of-range) == empty, layout schema, one cell read") =
    Prop.forAllNoShrink(
      Gen.choose(-5000L, 1023L), Gen.choose(-5000L, 1023L),
      Gen.choose(2048L, 20000L), Gen.choose(2048L, 20000L)) {
      (x1, x2, y1, y2) =>
      val (dir, schema) = diagonal
      val df = ZOrder.boxScan(spark, dir, "x", "y",
        math.min(x1, x2), math.max(x1, x2), math.min(y1, y2), math.max(y1, y2))
      val roots = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths
      }.flatten
      val cells = new java.io.File(dir).listFiles().count(_.getName.startsWith("z_cell="))
      (cells == 8 && df.collect().isEmpty && df.schema == schema &&
        roots.size == 1 && roots.head.getName.startsWith("z_cell=")) :|
        s"box x=[$x1,$x2] y=[$y1,$y2] cells=$cells roots=$roots " +
          s"schema=${df.schema.simpleString}"
    }

  // a file:-qualified root: the metadata and def marker go through the
  // root's own FS (java.nio would read "file:/..." as a relative path);
  // that FS writes hidden .crc siblings, which the cell listing skips
  property("writeZOrdered under a file:-qualified root: meta readable, rewrite a no-op") = {
    import SparkSpecBase.implicits._
    val local = java.nio.file.Files
      .createTempDirectory("zorder_qualified").toString + "/layout"
    val root = "file:" + local
    val df = (0L until 1000L).map(i => (i, i % 97, i * 3)).toDF("id", "x", "y")
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c => c.getPath +: walk(c))
      walk(new java.io.File(local)).toSet
    }
    ZOrder.writeZOrdered(spark, df, root, "x", "y", cellBits = 4)
    val written = files()
    ZOrder.writeZOrdered(spark, df, root, "x", "y", cellBits = 4)
    val ids = ZOrder.boxScan(spark, root, "x", "y", 0L, 96L, 0L, 2997L)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val meta = ZOrder.readMeta(spark, root)
    (ZOrder.layoutExists(spark, root) &&
      meta == ZOrder.ZMeta(0L, 96L, 0L, 2997L, 4) &&
      files() == written && written.exists(_.endsWith(".crc")) &&
      ids == (0L until 1000L).toSet) :|
      s"meta=$meta ids=${ids.size} rewritten=${files() != written}"
  }

  // --- adversarial ranges near Long.MaxValue (round-14 advice #4) ---

  private val limit = Long.MaxValue >> ZOrder.FineBits

  // spans just UNDER the grid-multiply bound: driver arithmetic must not
  // overflow, coordinates stay monotone in-range
  property("gridCoordL is monotone+bounded just under the overflow bound") =
    Prop.forAll(
      Gen.choose(Long.MinValue / 2, Long.MaxValue / 2 - limit),
      Gen.choose(limit / 2, limit - 2),
      Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (min, span, f1, f2) =>
      val max = min + span
      val (fa, fb) = if (f1 <= f2) (f1, f2) else (f2, f1)
      def at(f: Double): Long = min + (BigDecimal(span) * f).toLong
      val (v1, v2) = (at(fa), at(fb))
      val g1 = ZOrder.gridCoordL(v1, min, max, ZOrder.FineBits)
      val g2 = ZOrder.gridCoordL(v2, min, max, ZOrder.FineBits)
      (g1 <= g2 && g1 >= 0 && g2 < (1L << ZOrder.FineBits)) :|
        s"min=$min max=$max v1=$v1 v2=$v2 g1=$g1 g2=$g2"
    }

  // out-of-range probe values (box edges beyond the written bounds) must
  // clamp, never overflow — even at Long extremes. The correct clamp
  // target is the CELL OF THE NEAREST IN-RANGE EDGE, not the grid's top
  // cell: max itself maps to (span * 2^bits) / (span + 1), which is
  // below 2^bits - 1 whenever span < 2^bits. (The previous expectation
  // hard-coded the top cell and falsified on small spans — a ~0.4%/run
  // latent flake, shrunk to span=0, fixed round 16.)
  property("gridCoordL clamps out-of-range values at Long extremes") =
    Prop.forAll(
      Gen.choose(-1000000L, 1000000L), Gen.choose(0L, 1000000L),
      Gen.oneOf(Long.MinValue, Long.MinValue + 1, Long.MaxValue,
        Long.MaxValue - 1)) { (min, span, probe) =>
      val max = min + span
      val g = ZOrder.gridCoordL(probe, min, max, ZOrder.FineBits)
      val edge = if (probe < min) min else max
      val expect = ZOrder.gridCoordL(edge, min, max, ZOrder.FineBits)
      // shrink guard: a shrunk in-range probe would make `edge` wrong
      Prop.propBoolean(probe < min || probe > max) ==>
        ((g == expect && g >= 0 && g < (1L << ZOrder.FineBits)) :|
          s"min=$min max=$max probe=$probe g=$g expect=$expect")
    }

  // spans AT/OVER the bound must fail loudly at write time (the contract
  // added for round-14 advice #4), not corrupt pruning
  property("writeZOrdered rejects spans over the grid-multiply bound") =
    Prop.forAll(Gen.choose(limit, Long.MaxValue - 10),
      Gen.choose(-5L, 5L)) { (span, minOff) =>
      import SparkSpecBase.implicits._
      val min = minOff
      val df = Seq((min, 0L), (min + span, 1L)).toDF("x", "y")
      val dir = java.nio.file.Files
        .createTempDirectory("zorder_overflow").toString + "/layout"
      val threw =
        try { ZOrder.writeZOrdered(spark, df, dir, "x", "y", cellBits = 4); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("grid-multiply") }
      threw :| s"span=$span accepted (must reject >= $limit)"
    }
}
