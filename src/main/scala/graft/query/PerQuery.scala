package graft.query

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

/** The one partitioning rule of the per-query kernels (spatialmatch,
  * verifymatch, context stacking with re-rank and format, reverse and
  * limit-reverse stacking):
  * every grouped kernel in `graft.query` runs through [[kernel]], the only
  * place there that calls `flatMapGroups`.
  */
private[query] object PerQuery {

  /** Runs `f` once per group of `rows` that share the values of the `keys`
    * columns (top-level or nested names, read as `K`).
    *
    * The input is hash-partitioned on the keys into `defaultParallelism`
    * partitions. A partition count set in code is a REPARTITION_BY_NUM
    * exchange, which AQE does not coalesce: a per-query exchange of about
    * 1 MB would otherwise fold into one task and run the kernel on one
    * core. The grouping reads the same key columns, so the planner adds no
    * second exchange (a `groupByKey` function key would).
    */
  def kernel[K: Encoder, V, U: Encoder](rows: Dataset[V], keys: String*)(
      f: (K, Iterator[V]) => IterableOnce[U]): Dataset[U] = {
    val keyCols = keys.map(col)
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, keyCols: _*)
      .groupBy(keyCols: _*).as[K, V](implicitly[Encoder[K]], rows.encoder)
      .flatMapGroups(f)
  }
}
