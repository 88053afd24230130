package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-stratum quantiles of an integer-valued column — the
  * sequence-length distribution report every training pipeline prints
  * before choosing context windows and packing caps (and the engine's own
  * bin-sizing input).
  *
  * Definition (rank-based, interpolation-free so it is integral and
  * cross-engine replayable): the q‰ quantile of a stratum with `total`
  * rows is the SMALLEST value whose cumulative count reaches
  * `ceil(q × total / 1000)` — percentile_disc semantics, stated
  * explicitly so both engines compute the identical rule rather than
  * their own interpolating `percentile`.
  *
  * Scale shape: a sort-based exact quantile orders whole strata (one
  * reducer per stratum at 100 TB). This instead aggregates the VALUE
  * DISTRIBUTION — one slim (stratum, value, count) shuffle with map-side
  * combine, bounded by the distinct-value count, not the row count —
  * then walks it with a cumulative window whose partitions are that same
  * bounded size, and flags the rank-crossing row per quantile with a
  * row-local literal-array explode. Validity/size condition: the
  * distinct values per stratum must be window-sortable (token lengths,
  * byte sizes, quality scores etc. have small bounded domains; this is
  * NOT the operator for continuous doubles).
  */
object Quantiles {

  /** `(keyCol, q_per_mille, value)` — one row per stratum × quantile.
    * `qsPerMille` entries must be in [1, 1000] (0 has no smallest-rank
    * definition; 1000 is the maximum).
    */
  def exactQuantiles(df: DataFrame, keyCol: String, valCol: String,
      qsPerMille: Seq[Int]): DataFrame = {
    require(qsPerMille.nonEmpty, "qsPerMille must be non-empty")
    qsPerMille.foreach(q =>
      require(q >= 1 && q <= 1000, s"quantile out of [1, 1000]‰: $q"))
    require(qsPerMille.distinct == qsPerMille,
      s"duplicate quantiles: $qsPerMille")
    val cum = cumDistribution(df, keyCol, valCol, "exactQuantiles")
    // the q‰ target rank: ceil(q * total / 1000), overflow-free for any
    // row count Spark can hold (q ≤ 1000, total < 2^63 / 1000); `div` is
    // integer division on both engines (Spark `/` would go double)
    val target: Column = expr("(q * total + 999) div 1000")
    cum
      .withColumn("q", explode(typedLit(qsPerMille.map(_.toLong))))
      // the target rank falls inside this value's run ⟺ this is the
      // smallest value whose cumulative count reaches it
      .filter(col("cum") >= target && col("cum") - col("c") < target)
      .select(col(keyCol), col("q").as("q_per_mille"), col("v").as(valCol))
  }

  /** Per-row per-mille percentile rank of `valCol` inside its stratum —
    * `(cum · 1000) div total` where cum is the count of stratum rows with
    * value ≤ this row's (so the maximum maps to 1000) — the
    * score-NORMALIZATION step a curated mix runs before any cross-stratum
    * cut (raw quality scores aren't comparable across languages; their
    * per-language percentile ranks are). Integral end to end, so the
    * whole map is cross-engine replayable.
    *
    * Scale shape: the same bounded value-distribution subtree as
    * [[exactQuantiles]] (slim count shuffle + cumulative window over
    * DISTINCT values), then one value→rank equi-join back to the rows,
    * pinned SHUFFLE_HASH with the bounded distribution as build — rows
    * stream against it; nothing row-sized is ever sorted. Same
    * integral/non-null/bounded-domain conditions as exactQuantiles.
    * Output adds `pct_mille` (and a long-cast `valCol`).
    */
  def percentileRanks(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    // valCol == "v" is permitted (see the rename below)
    Sampling.requireAbsent(df,
      Seq("pct_mille", "__qk", "__qv") ++ Seq("v").filter(_ != valCol): _*)
    // cum ≤ total ≤ 2^63/1000 rows — the multiply stays in i64
    // (distribution side renamed so the rejoin can use an explicit
    // null-SAFE key equality: a null stratum is a real group — the window
    // ranks it — and the plain equi-join used to drop its rows silently,
    // against the op family's loud-or-correct convention on nulls)
    val ranks = cumDistribution(df, keyCol, valCol, "percentileRanks")
      .select(col(keyCol).as("__qk"), col("v").as("__qv"),
        expr("(cum * 1000) div total").as("pct_mille"))
    val joined = df.withColumn("v", col(valCol).cast("long"))
      .join(ranks.hint("SHUFFLE_HASH"),
        col(keyCol) <=> col("__qk") && col("v") === col("__qv"))
      .drop("__qk", "__qv")
    // valCol == "v" is permitted: then the long-cast "v" IS the value
    // column already and the drop/rename identity must be skipped (it used
    // to drop the join column and silently lose the values)
    if (valCol == "v") joined
    else joined.drop(valCol).withColumnRenamed("v", valCol)
  }

  /** The shared distribution subtree: `(keyCol, v, c, cum, total)` — one
    * row per DISTINCT (stratum, value), with the running and total counts
    * riding one stratum-partitioned window over the bounded table.
    * Integral-typed values only (cast("long") would silently truncate a
    * double) and nulls rejected at run time: Spark windows sort nulls
    * FIRST, DuckDB's LAST — a null would shift every rank differently
    * across engines instead of failing loudly.
    */
  private def cumDistribution(df: DataFrame, keyCol: String, valCol: String,
      opName: String): DataFrame = {
    require(!Seq("v", "c", "cum", "total", "q").contains(keyCol),
      s"keyCol collides with an internal column name: $keyCol")
    df.schema(valCol).dataType match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"$opName needs an integral value column, got $valCol: ${dt.sql}")
    }
    val guardedV = when(col(valCol).isNotNull, col(valCol))
      .otherwise(raise_error(lit(s"$opName requires non-null $valCol")))
    val dist = df.groupBy(col(keyCol), guardedV.cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(keyCol).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
    dist
      .withColumn("cum", sum("c").over(w))
      .withColumn("total", sum("c").over(wAll))
  }
}
