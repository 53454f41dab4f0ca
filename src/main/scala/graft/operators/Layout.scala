package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for parquet lakes: Morton (Z-order)
  * interleaving so ONE sort key clusters BOTH filter dimensions — the
  * technique behind Delta/Iceberg `OPTIMIZE ZORDER` (Morton 1966; the
  * lakehouse application is public in both projects' docs). A table
  * range-sorted on `z` splits into files whose min/max spans cover
  * ~1/√F of EACH dimension (F files) instead of 1/F of one and ALL of
  * the other — parquet footer min/max stats then skip files for
  * point/range predicates on EITHER column.
  *
  * Write path: compute [[Layout.zValue]], then
  * `repartitionByRange(n, z).sortWithinPartitions(z)` before the write —
  * Spark's range sort IS the optimizer; this file only supplies the key
  * and the audit that proves the layout pays.
  */
object Layout {

  /** Morton/Z-order value of two dimensions, each already reduced to
    * [0, 2ᵇⁱᵗˢ): bit j of x lands at bit 2j, bit j of y at bit 2j+1 —
    * pure shift/mask/add arithmetic (2·bits terms), exact on longs and
    * replayable by any engine with `>>`/`&`. Out-of-range or negative
    * inputs fail LOUDLY (a silently wrapped coordinate would scatter
    * the row to an arbitrary z-region and quietly ruin pruning):
    * `raise_error` guards both bounds.
    *
    * bits ≤ 31 keeps z inside a non-negative long. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits ($bits) must be in [1, 31]")
    val lim = 1L << bits
    def checked(c: Column, name: String): Column =
      when(c.isNull || c < 0L || c >= lim,
        raise_error(concat(lit(s"zValue: $name out of [0, $lim): "),
          c.cast("string"))))
        .otherwise(c).cast("long")
    val xc = checked(x, "x")
    val yc = checked(y, "y")
    (0 until bits).map { j =>
      (shiftright(xc, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j))) +
        (shiftright(yc, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1)))
    }.reduce(_ + _)
  }

  /** Hilbert-curve value of two dimensions, each already reduced to
    * [0, 2ᵇⁱᵗˢ) — the OTHER lakehouse clustering key (Iceberg and
    * Databricks both document Hilbert beside Z-order): unlike Morton
    * interleaving, consecutive Hilbert indices are always ADJACENT
    * cells (no quadrant-boundary jumps), so equal-count file splits get
    * strictly tighter per-file min/max boxes on both dimensions.
    *
    * Standard iterative xy2d walk (the public-domain formulation on the
    * Hilbert-curve Wikipedia page): per level s = 2ᵇⁱᵗˢ⁻¹..1, take the
    * quadrant bits (rx, ry), add s²·quad to d with the Gray-coded
    * quadrant order (0,1 | 1,1 | 1,0 flipped), then rotate/reflect the
    * sub-square. Expressed as ONE runtime `aggregate` fold over the
    * per-level s values (the accumulator is a lambda variable, so the
    * expression tree is level-count-independent); all arithmetic is
    * long shift/mask/add — exact and engine-replayable. Bounds are
    * loud like [[zValue]]; bits ≤ 31 keeps d in a non-negative long. */
  def hilbertValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits ($bits) must be in [1, 31]")
    val lim = 1L << bits
    def checked(c: Column, name: String): Column =
      when(c.isNull || c < 0L || c >= lim,
        raise_error(concat(lit(s"hilbertValue: $name out of [0, $lim): "),
          c.cast("string"))))
        .otherwise(c).cast("long")
    val sLevels = array((0 until bits).map(j => lit(1L << (bits - 1 - j))): _*)
    aggregate(
      sLevels,
      struct(checked(x, "x").as("hx"), checked(y, "y").as("hy"),
        lit(0L).as("d")),
      (acc, s) => {
        val hx = acc.getField("hx")
        val hy = acc.getField("hy")
        val rx = when(hx.bitwiseAND(s) > 0L, lit(1L)).otherwise(lit(0L))
        val ry = when(hy.bitwiseAND(s) > 0L, lit(1L)).otherwise(lit(0L))
        val quad = when(rx === 0L && ry === 0L, lit(0L))
          .when(rx === 0L, lit(1L))
          .when(ry === 1L, lit(2L))
          .otherwise(lit(3L))
        // reflect with the FULL grid's lim−1 (the published rot(n, ...)):
        // values stay in [0, lim) at every level, so the oracle's
        // division-based bit test never sees a negative operand
        struct(
          when(ry === 1L, hx).when(rx === 1L, lit(lim - 1L) - hy).otherwise(hy)
            .as("hx"),
          when(ry === 1L, hy).when(rx === 1L, lit(lim - 1L) - hx).otherwise(hx)
            .as("hy"),
          (acc.getField("d") + s * s * quad).as("d"))
      },
      acc => acc.getField("d"))
  }

  /** Layout audit for a prospective Z-order write: bucket rows into
    * `nFiles` CLOSED-FORM z-ranges (bucket = z div ⌈2²ᵇⁱᵗˢ/nFiles⌉ — a
    * fixed split of z-space, so the audit is engine-replayable without
    * a global row rank) and report each bucket's row count and min/max
    * span of BOTH dimensions plus the span as a fraction of the
    * dimension's domain. A healthy Z-layout shows both fractions near
    * 1/√nFiles; a single-column sort shows one near 1/nFiles and the
    * other near 1 — the before/after evidence for adopting the layout.
    *
    * Determinism: z, buckets, counts and min/max are exact integers;
    * each span fraction is one double division. Empty buckets are
    * absent (their files would not exist). Scale shape: one map-side-
    * combined aggregation to ≤ nFiles rows. Output: `(bucket, n,
    * x_min, x_max, y_min, y_max, x_span_frac, y_span_frac)`. */
  def zOrderAudit(df: DataFrame, xCol: String, yCol: String, bits: Int,
                  nFiles: Int): DataFrame = {
    require(nFiles >= 1 && nFiles <= 100000, s"nFiles ($nFiles) out of range")
    val zSpace = 1L << (2 * bits)
    val width = (zSpace + nFiles - 1) / nFiles // ceil, closed form
    val dim = (1L << bits).toDouble
    df.select(col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)
      .select(col("_x"), col("_y"),
        zValue(col("_x"), col("_y"), bits).as("_z"))
      // integer division — Column./ is DOUBLE division, and z can exceed
      // 2^53 where doubles drop low bits
      .select(col("_x"), col("_y"), expr(s"_z div ${width}L").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("_x")).as("x_min"), max(col("_x")).as("x_max"),
        min(col("_y")).as("y_min"), max(col("_y")).as("y_max"))
      .select(col("bucket"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"),
        ((col("x_max") - col("x_min") + 1L).cast("double") / lit(dim))
          .as("x_span_frac"),
        ((col("y_max") - col("y_min") + 1L).cast("double") / lit(dim))
          .as("y_span_frac"))
  }

  /** [[zOrderAudit]] with the Hilbert key: bucket rows into `nFiles`
    * closed-form d-ranges of [[hilbertValue]] and report per-bucket
    * min/max spans of both dimensions. Same determinism and scale
    * contract; the comparison row a layout decision actually wants is
    * this audit's span fractions against [[zOrderAudit]]'s on the same
    * data — Hilbert's adjacency (no quadrant jumps) shows up as equal
    * or tighter boxes at the same file count. */
  def hilbertAudit(df: DataFrame, xCol: String, yCol: String, bits: Int,
                   nFiles: Int): DataFrame = {
    require(nFiles >= 1 && nFiles <= 100000, s"nFiles ($nFiles) out of range")
    val dSpace = 1L << (2 * bits)
    val width = (dSpace + nFiles - 1) / nFiles
    val dim = (1L << bits).toDouble
    df.select(col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)
      .select(col("_x"), col("_y"),
        hilbertValue(col("_x"), col("_y"), bits).as("_d"))
      .select(col("_x"), col("_y"), expr(s"_d div ${width}L").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("_x")).as("x_min"), max(col("_x")).as("x_max"),
        min(col("_y")).as("y_min"), max(col("_y")).as("y_max"))
      .select(col("bucket"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"),
        ((col("x_max") - col("x_min") + 1L).cast("double") / lit(dim))
          .as("x_span_frac"),
        ((col("y_max") - col("y_min") + 1L).cast("double") / lit(dim))
          .as("y_span_frac"))
  }
}
