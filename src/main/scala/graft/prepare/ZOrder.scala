package graft.prepare

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout for multi-dimensional scan pruning.
  *
  * One-dimensional partitioning (S3/S4: partitionBy(type, day)) prunes
  * on its leading column only — a box query constrained on TWO
  * dimensions (user x time, key x day) still reads every partition the
  * leading dimension admits. Interleaving the bits of both dimensions
  * into one Morton key makes partition ranges cover rectangles of the
  * (x, y) grid, so a 2-D box query touches only the partitions whose
  * rectangle intersects the box — the layout trick behind Delta/Iceberg
  * OPTIMIZE ZORDER, restated as plain partitioned parquet:
  *
  *  - WRITE: grid-normalize (x, y) to `FineBits` bits each, interleave
  *    to a fine Morton key `z`, partition by its top `cellBits` bits
  *    (`z_cell` — one directory per grid cell), sort within partitions
  *    by the fine key (tight row-group min/max on both dimensions).
  *  - READ: enumerate the cells whose rectangle intersects the query
  *    box (driver-side, at most 2^cellBits tests), list the live cells
  *    with one `listStatus` of the layout root, and read only the live
  *    covering cell directories — file listing and planning grow with
  *    the covering, not with the grid. Filter `z_cell IN (covering)` —
  *    partition-level pruning visible as PartitionFilters — and keep the
  *    EXACT box predicates as residual filters, so results never depend
  *    on the covering enumeration.
  *
  * Grid bounds travel with the layout (`_zmeta.json`): the reader must
  * normalize with the writer's bounds or cell ids would not line up.
  * All integer math; interleave(gx, gy) >> 2k == interleave(gx >> k,
  * gy >> k) (bit pairs drop together), so the coarse cell of a point is
  * the prefix of its fine key — the property the covering enumeration
  * relies on.
  */
object ZOrder {

  /** Fine grid resolution per dimension (24-bit Morton keys). */
  val FineBits = 12

  final case class ZMeta(xMin: Long, xMax: Long, yMin: Long, yMax: Long,
                         cellBits: Int)

  /** Driver-side Morton interleave of two `bits`-bit grid coordinates. */
  def interleave(gx: Long, gy: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((gx >> i) & 1L) << (2 * i)
      z |= ((gy >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Magic-bits spread of the low 16 bits of a long Column: bit i moves
    * to position 2i (the executor-side half of the interleave; stays
    * inside whole-stage codegen — shifts, masks, ors only). */
  private def spread(c: Column): Column = {
    val m0 = lit(0x0000FFFFL)
    val s1 = (c.bitwiseAND(m0)).bitwiseOR(shiftleft(c.bitwiseAND(m0), 8))
      .bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Fine Morton key Column of two grid-coordinate Columns. */
  def mortonCol(gx: Column, gy: Column): Column =
    spread(gx).bitwiseOR(shiftleft(spread(gy), 1))

  /** Grid coordinate of `v` in [min, max] at `bits` resolution —
    * (v - min) * 2^bits div range, clamped. EXACT integer arithmetic
    * (SQL `div` = IntegralDivide), never Column./'s double division: the
    * executor's write-time cell assignment and the driver's covering
    * enumeration ([[gridCoordL]]) must agree bit-for-bit, and a 1-ulp
    * floor(double) discrepancy would silently skip a partition holding
    * box rows. Monotone, so a value box maps to a grid box; and the
    * `bits`-bit coordinate is the prefix of the FineBits one
    * ((a div m) div n = a div (m*n)), which keeps coarse cells prefixes
    * of fine keys.
    *
    * NULL coordinates: `least(max, greatest(0, null))` null-SKIPS in
    * Spark, so a NULL x/y is silently assigned grid cell 0 at write time
    * (NOT the Hive default partition). Box-scan results stay exact — the
    * residual box predicates are null-rejecting — but callers reading the
    * layout directly must not assume null rows were excluded; pre-filter
    * nulls before writeZOrdered if that matters.
    *
    * Overflow contract: `(v - min) * 2^bits` requires
    * `range <= Long.MaxValue >> bits` — [[writeZOrdered]] requires this
    * loudly at write time (see [[requireRangeFits]]); beyond it the
    * multiply would wrap and break the monotonicity the covering-cell
    * superset guarantee rests on. */
  def gridCoord(v: Column, min: Long, max: Long, bits: Int): Column = {
    val range = math.max(1L, max - min + 1L)
    val raw = call_function("div",
      (v.cast("long") - lit(min)) * lit(1L << bits), lit(range))
    least(lit((1L << bits) - 1L), greatest(lit(0L), raw))
  }

  /** Driver-side twin of [[gridCoord]] for the covering enumeration.
    * Query-box edges can lie far OUTSIDE the written bounds (the edge
    * values are caller-supplied, not data), so the input is clamped into
    * [min, max] BEFORE the multiply — same resulting cell as the
    * executor twin's post-multiply clamp for every in-range value, and
    * no overflow for any out-of-range one. */
  def gridCoordL(v: Long, min: Long, max: Long, bits: Int): Long = {
    val range = math.max(1L, max - min + 1L)
    val vc = math.min(max, math.max(min, v))
    val raw = (vc - min) * (1L << bits) / range
    math.min((1L << bits) - 1L, math.max(0L, raw))
  }

  /** Loud write-time contract for the [[gridCoord]] overflow bound: a
    * coordinate span >= 2^(63-bits) (e.g. an epoch-NANOS column under
    * FineBits=12) would overflow the grid multiply and silently corrupt
    * pruning; pre-scale such columns (e.g. nanos -> seconds) instead. */
  private[prepare] def requireRangeFits(name: String, min: Long, max: Long,
                                        bits: Int): Unit = {
    val limit = Long.MaxValue >> bits
    require(max - min >= 0 && max - min < limit,
      s"z-order column '$name' span ${max - min} exceeds the grid-multiply " +
      s"bound 2^${63 - bits} (bits=$bits); pre-scale the column " +
      "(e.g. epoch nanos -> seconds) before z-ordering")
  }

  /** The FileSystem of a layout path — derived from the path, not the
    * default FS (Wrong-FS on non-local roots otherwise — the
    * Catalog.versionStamp idiom). */
  private def layoutFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Does `path` hold a z layout (its `_zmeta.json`)? Routing
    * ([[graft.engine.ZLayoutDef.exists]]) and refresh-time append key on
    * this, through the path's own FS: a `java.io` check misses on a
    * non-local root and silently turns both off. */
  def layoutExists(spark: SparkSession, path: String): Boolean =
    layoutFs(spark, path).exists(new Path(path, "_zmeta.json"))

  /** The `z_cell=` directories directly under the layout root. */
  private def cellDirs(fs: FileSystem, root: Path): Array[FileStatus] =
    fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("z_cell="))

  /** Write `df` z-ordered on two long-typed columns. Idempotent per
    * (base definition, cellBits, build) via the same [[DefMarker]] as
    * [[Bucketing.writeBucketed]]. `cellBits` must be even (half per
    * dimension); 6 gives an 8x8 grid = up to 64 partition directories. */
  def writeZOrdered(spark: SparkSession, df: DataFrame, path: String,
                    xCol: String, yCol: String, cellBits: Int = 6): Unit = {
    require(cellBits > 0 && cellBits % 2 == 0 && cellBits <= 2 * FineBits,
      s"cellBits must be even in (0, ${2 * FineBits}], got $cellBits")
    // metadata and markers go through the path's own FS, like every
    // read of them: java.io would miss (or mis-resolve) a qualified root
    val fs = layoutFs(spark, path)
    val root = new Path(path)
    val mark = new DefMarker(spark, df, root, s"$xCol|$yCol|$cellBits")
    val metaPath = new Path(root, "_zmeta.json")
    if (mark.present && fs.exists(metaPath)) return

    // grid bounds from the data — one narrow aggregate, written into the
    // layout's metadata so readers normalize identically
    val b = df.agg(min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).collect()(0)
    val meta = ZMeta(b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3),
      cellBits)
    requireRangeFits(xCol, meta.xMin, meta.xMax, FineBits)
    requireRangeFits(yCol, meta.yMin, meta.yMax, FineBits)

    val z = mortonCol(
      gridCoord(col(xCol), meta.xMin, meta.xMax, FineBits),
      gridCoord(col(yCol), meta.yMin, meta.yMax, FineBits))
    df.withColumn("__z", z)
      .withColumn("z_cell", shiftright(col("__z"), 2 * FineBits - cellBits))
      // one shuffle keyed by cell so each cell is written by one task
      // (no file-per-task-per-cell fragmentation), then fine-key sort
      // for tight row-group min/max on BOTH dimensions
      .repartition(col("z_cell"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .partitionBy("z_cell")
      .option("compression", "zstd")
      .parquet(path)

    val metaJson = s"""{"xMin":${meta.xMin},"xMax":${meta.xMax},""" +
      s""""yMin":${meta.yMin},"yMax":${meta.yMax},"cellBits":$cellBits}"""
    val out = fs.create(metaPath, true)
    try out.write(metaJson.getBytes("UTF-8")) finally out.close()
    mark.commit()
  }

  /** [[gridCoord]] with the input CLAMPED into [min, max] before the
    * grid multiply — the Column twin of [[gridCoordL]]'s clamp. The
    * original write never needs it (bounds come from the data), but an
    * APPENDED delta can carry values outside the layout's frozen grid,
    * where the raw `(v - min) * 2^bits` would overflow; clamping lands
    * them in the edge cells, exactly where [[coveringCells]]' clamped
    * query boxes look for them. */
  private def gridCoordClamped(v: Column, min: Long, max: Long,
                               bits: Int): Column =
    gridCoord(least(lit(max), greatest(lit(min), v.cast("long"))),
      min, max, bits)

  /** Append a delta to an EXISTING z layout without a rebuild — the
    * hourly-ingest path a 100 TB layout needs (a full rewrite per ingest
    * is the thing [[graft.prepare.Prepare.refresh]] exists to avoid).
    *
    * Cells are assigned under the layout's FROZEN grid (`_zmeta.json`
    * bounds): readers normalize with those bounds, so the grid must not
    * move. Delta values OUTSIDE the original bounds clamp into the edge
    * cells ([[gridCoordClamped]]); the read side clamps query-box edges
    * identically (gridCoordL), and both clamps are monotone, so every
    * box's covering cells still contain every box row — routing stays
    * exact with no staleness window. One shuffle keyed by cell, fine-key
    * sort within, append-mode write: each ingest adds at most one file
    * per touched cell ([[compactZOrdered]] merges fragmented cells).
    * The def markers are dropped: the layout no longer equals any single
    * writeZOrdered definition, so the next full prepare must rebuild
    * rather than skip. */
  def appendZOrdered(spark: SparkSession, delta: DataFrame, path: String,
                     xCol: String, yCol: String): Unit = {
    val meta = readMeta(spark, path)
    // Recover interrupted compaction swaps BEFORE the append: a crashed
    // swap leaves a cell as `.old_` only, and appending into that cell
    // would recreate the live dir with delta-only rows — after which
    // recovery's live-exists inference would drop the backup and lose
    // the cell's pre-crash rows (BinPack append-ordering invariant).
    val fs = layoutFs(spark, path)
    val root = new Path(path)
    BinPack.recoverSwaps(fs, root)
    val z = mortonCol(
      gridCoordClamped(col(xCol), meta.xMin, meta.xMax, FineBits),
      gridCoordClamped(col(yCol), meta.yMin, meta.yMax, FineBits))
    delta.withColumn("__z", z)
      .withColumn("z_cell", shiftright(col("__z"), 2 * FineBits - meta.cellBits))
      .repartition(col("z_cell"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("append")
      .partitionBy("z_cell")
      .option("compression", "zstd")
      .parquet(path)
    DefMarker.clear(spark, root)
  }

  /** Bin-pack fragmented cells of a z layout (the [[appendZOrdered]]
    * counterpart of [[graft.prepare.Prepare.compact]]): any `z_cell=`
    * directory holding more than `maxFiles` files is rewritten to
    * ceil(bytes / targetBytes) files, RE-SORTED by the fine Morton key
    * (recomputed under the frozen grid) so row-group min/max stay tight
    * on both dimensions; well-packed cells are untouched. Crash-safe
    * swap + interrupted-swap recovery shared with the fact compactor
    * ([[BinPack]]). Returns the number of cells compacted. */
  def compactZOrdered(spark: SparkSession, path: String,
                      xCol: String, yCol: String,
                      targetBytes: Long = 128L * 1024 * 1024,
                      maxFiles: Int = 4): Int = {
    val meta = readMeta(spark, path)
    val fs = layoutFs(spark, path)
    val root = new Path(path)
    BinPack.recoverSwaps(fs, root)
    val z = mortonCol(
      gridCoordClamped(col(xCol), meta.xMin, meta.xMax, FineBits),
      gridCoordClamped(col(yCol), meta.yMin, meta.yMax, FineBits))
    cellDirs(fs, root).count { d =>
      BinPack.packDir(spark, fs, d.getPath, targetBytes, maxFiles) {
        (df, nOut) =>
          df.withColumn("__z", z)
            .coalesce(nOut)
            .sortWithinPartitions(col("__z"))
            .drop("__z")
      }
    }
  }

  /** The layout's grid bounds, read through the path's own FS. */
  def readMeta(spark: SparkSession, path: String): ZMeta = {
    val in = layoutFs(spark, path).open(new Path(path, "_zmeta.json"))
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def f(k: String): Long =
      s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    ZMeta(f("xMin"), f("xMax"), f("yMin"), f("yMax"), f("cellBits").toInt)
  }

  /** [[readMeta]] under the active session. */
  def readMeta(path: String): ZMeta = readMeta(SparkSession.active, path)

  /** The cell ids whose grid rectangle intersects the query box — a
    * SUPERSET of the cells holding box rows (gridCoord is monotone), so
    * the exact residual predicates in [[boxScan]] make results
    * independent of this enumeration. */
  def coveringCells(meta: ZMeta, xLo: Long, xHi: Long,
                    yLo: Long, yHi: Long): Seq[Long] = {
    val cb = meta.cellBits / 2
    val cxLo = gridCoordL(xLo, meta.xMin, meta.xMax, cb)
    val cxHi = gridCoordL(xHi, meta.xMin, meta.xMax, cb)
    val cyLo = gridCoordL(yLo, meta.yMin, meta.yMax, cb)
    val cyHi = gridCoordL(yHi, meta.yMin, meta.yMax, cb)
    (for { cx <- cxLo to cxHi; cy <- cyLo to cyHi }
      yield interleave(cx, cy, cb)).sorted
  }

  /** Exact box scan over a z-ordered layout: partition pruning via the
    * covering-cell IN-list (PartitionFilters in the plan) + the exact
    * box predicates as residual filters. */
  def boxScan(spark: SparkSession, path: String, xCol: String, yCol: String,
              xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame =
    boxScanMulti(spark, path, xCol, yCol, Seq((xLo, xHi, yLo, yHi)))

  /** Multi-box scan: covering cells are the DEDUPED union of each box's
    * covering set, residual = the OR of the exact box predicates. Each
    * box's covering set is a superset of that box's rows (gridCoord is
    * monotone) and union preserves supersets, so results stay
    * independent of the enumeration — the property that lets a sparse
    * `IN` route as per-value boxes instead of one min-max box covering
    * nearly the whole layout. */
  def boxScanMulti(spark: SparkSession, path: String, xCol: String,
                   yCol: String,
                   boxes: Seq[(Long, Long, Long, Long)]): DataFrame = {
    require(boxes.nonEmpty, "boxScanMulti needs at least one box")
    val meta = readMeta(spark, path)
    val cells = boxes.flatMap { case (xLo, xHi, yLo, yHi) =>
      coveringCells(meta, xLo, xHi, yLo, yHi) }.distinct.sorted
    val residual = boxes.map { case (xLo, xHi, yLo, yHi) =>
      col(xCol).cast("long").between(xLo, xHi) &&
        col(yCol).cast("long").between(yLo, yHi)
    }.reduce(_ || _)
    // Read the live covering cell directories, not the root: a root read
    // lists every cell on every query, and past Spark's
    // parallelPartitionDiscovery.threshold (32 paths) that listing is a
    // Spark job with one task per cell. One listStatus of the root finds
    // the live cells; it is never cached, so a refresh that fills an
    // empty cell is seen by the next query. An empty covering reads one
    // live cell for the layout's schema, pruned to nothing by the z_cell
    // filter below (a layout with no cell at all has no schema, and the
    // read refuses it). ParquetNanos per the repo invariant: the layout
    // is Spark-self-written (micros timestamps), but it may carry a raw
    // ts column copied from a nanos source; its schema comes from one
    // driver-side footer read, so building the scan runs no Spark job.
    val live = cellDirs(layoutFs(spark, path), new Path(path))
      .flatMap(_.getPath.getName.stripPrefix("z_cell=").toLongOption).toSet
    val covering = cells.filter(live)
    val leaves = (if (covering.nonEmpty) covering else live.minOption.toSeq)
      .map(c => new Path(path, s"z_cell=$c").toString)
    // A covering no larger than the smallest scan split is one partition
    // (ParquetNanos.oneSplit): the query compiled above it then plans no
    // Exchange and answers in one job of one task.
    graft.sources.ParquetNanos.oneSplit(
      graft.sources.ParquetNanos.read(spark, path, leaves)
        .filter(col("z_cell").isin(cells: _*))
        .filter(residual))
  }
}
