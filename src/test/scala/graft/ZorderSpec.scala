package graft

import org.apache.spark.sql.functions._
import graft.api.GraftOps
import graft.sources.Tables

/** Z-order layout: the morton bit-interleave (exactness is
  * oracle-gated via layout_zorder) and the property the layout exists
  * for — per-FILE min/max ranges stay narrow on BOTH dimensions, where
  * a single-column sort leaves the secondary column full-range inside
  * every primary run (so row-group pruning on it does nothing).
  */
class ZorderSpec extends SparkTestBase {

  test("mortonCode: known interleavings") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (5L, 3L))
      .toDF("a", "b")
      .select(GraftOps.mortonCode(col("a"), col("b"), bits = 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // a bits land at even positions, b bits at odd:
    // (5,3) = a 101, b 011 -> z 011011 = 27
    assert(rows === Seq(0L, 1L, 2L, 15L, 27L))
  }

  test("compactFiles: fragmented table glued to the size-targeted count, content intact") {
    val frag = s"/tmp/graft_frag_${java.util.UUID.randomUUID}"
    val comp = s"/tmp/graft_comp_${java.util.UUID.randomUUID}"
    try {
      // simulate a micro-batch-fragmented table: 64 tiny files
      Tables.orders(spark, sf).repartition(64).write.parquet(frag)
      val inFiles = new java.io.File(frag).listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(inFiles === 64)
      val bytes = new java.io.File(frag).listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val target = bytes / 4
      val n = GraftOps.compactFiles(
        spark.read.parquet(frag), frag, comp, targetBytes = target)
      val outFiles = new java.io.File(comp).listFiles
        .count(_.getName.endsWith(".parquet"))
      // the scan may bin-pack the 64 fragments into fewer read
      // partitions than the size target — each output file is then at
      // least target-sized, which is the point of the pass
      assert(outFiles === n && n >= 2 && n <= 6,
        s"expected a handful of size-targeted files, got $n declared / $outFiles written")
      // compaction is a pure layout change
      val a = Tables.orders(spark, sf)
      val b = spark.read.parquet(comp)
      assert(b.count() === a.count())
      assert(b.except(a).count() === 0 && a.except(b).count() === 0)
    } finally {
      for (p <- Seq(frag, comp)) {
        val dir = new java.io.File(p)
        if (dir.exists) { dir.listFiles.foreach(_.delete()); dir.delete() }
      }
    }
  }

  test("hilbert code is a permutation and consecutive codes are ALWAYS adjacent; morton is not") {
    import graft.expressions.HilbertCurve
    val bits = 4
    val n = 1 << bits
    // invert the curve by brute force over the full 16x16 grid
    val cells = for (x <- 0 until n; y <- 0 until n)
      yield HilbertCurve.compute(x, y, bits) -> (x, y)
    val byCode = cells.toMap
    assert(byCode.size === n * n, "hilbert must be a bijection on the grid")
    assert(cells.map(_._1).min === 0L && cells.map(_._1).max === (n * n - 1).toLong)
    // the defining Hilbert property: every step moves to a neighbouring cell
    (0L until (n * n - 1).toLong).foreach { d =>
      val (x0, y0) = byCode(d); val (x1, y1) = byCode(d + 1)
      assert(math.abs(x0 - x1) + math.abs(y0 - y1) === 1,
        s"codes $d -> ${d + 1} jump from ($x0,$y0) to ($x1,$y1)")
    }
    // ... which morton does NOT satisfy (quadrant seams teleport) —
    // the reason hilbert_code exists beside mortonCode
    def morton(x: Int, y: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val mByCode = (for (x <- 0 until n; y <- 0 until n)
      yield morton(x, y) -> (x, y)).toMap
    val mJumps = (0L until (n * n - 1).toLong).count { d =>
      val (x0, y0) = mByCode(d); val (x1, y1) = mByCode(d + 1)
      math.abs(x0 - x1) + math.abs(y0 - y1) > 1
    }
    assert(mJumps > 0, "sanity: morton has seam jumps hilbert removes")
  }

  test("hilbert_code codegen expression agrees with the static loop on corpus keys") {
    import graft.expressions.HilbertCurve
    val rows = Tables.orders(spark, sf)
      .select((col("o_custkey") % 65536L).as("x"),
        (datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("long") % 65536L).as("y"),
        GraftOps.hilbertCode(col("o_custkey") % 65536L,
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long") % 65536L).as("h"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) === HilbertCurve.compute(r.getLong(0), r.getLong(1), 16))
    }
  }

  test("writeHilbertOrdered: per-file ranges narrow on BOTH columns") {
    val dims = Tables.orders(spark, sf).select(
      col("o_orderkey"),
      (col("o_custkey") % 256L).as("ca"),
      (datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long") % 256L).as("da"))
    def perFileSpan(path: String, c: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("s"))
        .collect().map(_.getLong(1).toDouble)
      spans.sum / spans.length
    }
    val hPath = s"/tmp/graft_hilbert_${java.util.UUID.randomUUID}"
    try {
      GraftOps.writeHilbertOrdered(dims, hPath, col("ca"), col("da"),
        bits = 8, filesTarget = 8)
      val (hCa, hDa) = (perFileSpan(hPath, "ca"), perFileSpan(hPath, "da"))
      assert(hCa < 256.0 * 0.7, s"hilbert per-file custkey-span $hCa full-range")
      assert(hDa < 256.0 * 0.7, s"hilbert per-file day-span $hDa full-range")
    } finally {
      val dir = new java.io.File(hPath)
      if (dir.exists) { dir.listFiles.foreach(_.delete()); dir.delete() }
    }
  }

  test("writeZOrdered: per-file ranges narrow on BOTH columns; linear sort does not") {
    val dims = Tables.orders(spark, sf).select(
      col("o_orderkey"),
      (col("o_custkey") % 256L).as("ca"),
      (datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long") % 256L).as("da"))

    def perFileSpan(path: String, c: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("s"))
        .collect().map(_.getLong(1).toDouble)
      spans.sum / spans.length
    }

    val zPath = s"/tmp/graft_zorder_${java.util.UUID.randomUUID}"
    val lPath = s"/tmp/graft_linear_${java.util.UUID.randomUUID}"
    try {
      GraftOps.writeZOrdered(dims, zPath, col("ca"), col("da"),
        bits = 8, filesTarget = 8)
      // the single-column layout everyone reaches for first
      dims.repartitionByRange(8, col("ca")).sortWithinPartitions(col("ca"))
        .write.parquet(lPath)

      val (zCa, zDa) = (perFileSpan(zPath, "ca"), perFileSpan(zPath, "da"))
      val (lCa, lDa) = (perFileSpan(lPath, "ca"), perFileSpan(lPath, "da"))
      // linear sort wins on its own column but leaves the other
      // full-range; z-order must beat it decisively on the second
      // dimension while keeping the first far below full-range
      assert(zDa < lDa * 0.7,
        s"z-order per-file day-span $zDa not narrower than linear $lDa")
      assert(zCa < 256.0 * 0.7,
        s"z-order per-file custkey-span $zCa is effectively full-range")
      assert(lDa > 256.0 * 0.6,
        s"sanity: linear layout should leave day nearly full-range, got $lDa")
    } finally {
      for (p <- Seq(zPath, lPath)) {
        val dir = new java.io.File(p)
        if (dir.exists) {
          dir.listFiles.foreach(_.delete()); dir.delete()
        }
      }
    }
  }
}
