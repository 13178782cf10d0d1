package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incremental aggregate maintenance — the "delta refresh" every
 * warehouse rollup needs at scale: instead of recomputing a 100 TB
 * fact's monthly summary nightly, keep a mergeable per-group STATE
 * (counts, sums, HLL sketches), summarize only the new delta, and
 * merge states. Every state column is chosen to be associative and
 * commutative, so `merge(summarize(A), summarize(B)) ≡ summarize(A∪B)`
 * exactly for counts/sums and within sketch error for distincts —
 * asserted both ways in AggMaintainSpec and against the DuckDB full
 * recompute in q85.
 *
 * Distinct counts use Spark's DataSketches HLL aggregates
 * (`hll_sketch_agg`/`hll_union_agg`) so the state stays a few KB per
 * group and merges losslessly — the classic "distinct users per month"
 * that a plain COUNT(DISTINCT) would re-shuffle the full history for.
 */
object AggMaintain {

  /** Per-group mergeable state: `n_rows`, `sum_<c>` for each sum
    * column, `hll_<c>` binary sketch for each distinct column. */
  def summarize(df: DataFrame, keys: Seq[String], sumCols: Seq[String],
                distinctCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "group keys required")
    val aggs =
      sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
        distinctCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c"))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Merge two (or more, via repeated folds) summary states. Groups
    * present in only one side pass through; shared groups combine —
    * counts and sums add, sketches union register-wise. One shuffle on
    * the group key over STATE rows (tiny), never over the fact. */
  def merge(stored: DataFrame, delta: DataFrame, keys: Seq[String],
            sumCols: Seq[String],
            distinctCols: Seq[String] = Nil): DataFrame = {
    val aggs =
      sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")) ++
        distinctCols.map(c => hll_union_agg(col(s"hll_$c")).as(s"hll_$c"))
    stored.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"), aggs: _*)
  }
}
