package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{col, lit, max, pmod}

/** Shared sizing and edge-layout rules for the iterative graph operators. */
object GraphUtil {

  /** Partition count for a cached edge table of `edges` rows: ~128k
    * edges per partition, floored at 4 (so a small graph still gets a
    * little parallelism) and capped at the cluster's parallelism (so a
    * big one scales out to the full width). The per-superstep frames of
    * a loop inherit this count through the co-partitioned join, so at
    * small scale the loop doesn't pay scheduler + codegen-init overhead
    * for dozens of near-empty tasks, and at 100 TB it grows to the
    * cluster. */
  def partitionLaw(edges: Long, spark: SparkSession): Int =
    math.max(4, math.min(spark.sparkContext.defaultParallelism.toLong,
      edges / 128000L + 1).toInt)

  /** Both orientations of `edges` (src, dst), one row per pair. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** `df` stored hash-partitioned and sorted by `key`: a loop's edge
    * layout, which each round's sort-merge join on `key` reads without
    * exchanging it (the Components/Communities layout law). */
  def layout(df: DataFrame, key: String): DataFrame =
    graft.util.Ckpt.store(df.repartition(col(key)).sortWithinPartitions(key))

  /** `df`'s row count as its optimized plan estimates it, with no job:
    * the plan's row count where its statistics carry one, else its size
    * estimate over its row width (exact for a local relation; for a
    * file source it follows the file bytes). An unknown size reads as
    * very large, so [[partitionLaw]] over it gives the cluster's
    * width. */
  def estimatedRows(df: DataFrame): Long = {
    val plan = df.queryExecution.optimizedPlan
    val st = plan.stats
    st.rowCount.getOrElse(st.sizeInBytes / EstimationUtils.getSizePerRow(
      plan.output)).min(BigInt(Long.MaxValue)).toLong
  }

  /** Per `key` group, the LONG `label` of the row with the highest
    * integral `score`, ties to the smaller label — the
    * `max(struct(score, -label))` argmax as ONE packed decimal. A
    * struct-typed aggregation buffer is not HashAggregate-mutable, so
    * the struct form plans as SortAggregate: a full sort of the input
    * with interpreted struct comparisons, every round of LPA and
    * Louvain. v = score·2⁶⁴ + (2⁶³−1−label) orders the same way: the
    * offset is computed in DECIMAL, so it spans [0, 2⁶⁴) for every
    * long label (negative ones included) and never reaches the next
    * score step; pmod(v, 2⁶⁴) decodes it for a negative score too. v
    * is exact in DECIMAL(38,0) while |score| < 2⁶², and the agg is a
    * codegen'd HashAggregate. Output: (`key`, `label` as `as`). */
  def argmaxLabel(df: DataFrame, key: String, score: Column,
                  label: Column, as: String): DataFrame = {
    val step = lit(new java.math.BigDecimal("18446744073709551616"))
      .cast("decimal(38,0)") // 2^64
    val top = lit(Long.MaxValue).cast("decimal(20,0)")
    df.groupBy(key)
      .agg(max(score.cast("decimal(38,0)") * step +
        (top - label.cast("decimal(20,0)"))).as("__packed"))
      .select(col(key),
        (top - pmod(col("__packed"), step)).cast("long").as(as))
  }
}
