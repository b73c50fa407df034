package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{GeoDoc, LayerConfig}

/** Persistent index store — the engine's checkpoint/lineage layer
  * (BASELINE.json north_rule: resumable from checkpoint with per-partition
  * lineage + metrics). Iceberg-style semantics on plain parquet:
  *
  *  - `postings` hash-bucketed on phrase (explicit `bucket` partition
  *    column): a forward-geocode join can pre-partition its subqueries the
  *    same way for a co-located join, and single-phrase lookups prune to one
  *    bucket directory;
  *  - `tile_features` partitioned by zoom, files sorted by (x, y) so
  *    reverse lookups prune partitions on z and row-groups on x/y min-max;
  *  - `_meta/lineage` records one row per (layer, table, partition) with its
  *    row count — the per-partition lineage + row-count metrics table;
  *  - `_meta/complete/<layer>` markers make [[buildOrResume]] restartable
  *    mid-job at layer granularity: finished layers load from parquet,
  *    unfinished ones rebuild.
  */
object IndexStore {

  val PostingsBuckets = 16

  private def tablePath(root: String, layer: String, table: String): String =
    s"$root/layer=$layer/$table"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markerPath(root: String, layer: String) =
    new Path(s"$root/_meta/complete/$layer")

  def isComplete(spark: SparkSession, root: String, layer: String): Boolean =
    fs(spark, root).exists(markerPath(root, layer))

  /** Persist one built layer + its lineage; marks the layer complete. */
  def persistLayer(spark: SparkSession, l: IndexBuilder.LayerIndex,
                   root: String): Unit = {
    import spark.implicits._
    val layer = l.config.name

    val postings = l.postings
      .withColumn("bucket", pmod(xxhash64(col("phrase")), lit(PostingsBuckets)))
    postings.repartition(PostingsBuckets, col("bucket"))
      .sortWithinPartitions(col("phrase"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(tablePath(root, layer, "postings"))

    l.tileFeatures
      .repartition(col("z"))
      .sortWithinPartitions(col("x"), col("y"))
      .write.mode(SaveMode.Overwrite).partitionBy("z")
      .parquet(tablePath(root, layer, "tile_features"))

    l.features.write.mode(SaveMode.Overwrite)
      .parquet(tablePath(root, layer, "features"))
    l.deletes.write.mode(SaveMode.Overwrite)
      .parquet(tablePath(root, layer, "deletes"))
    l.prefixes.write.mode(SaveMode.Overwrite)
      .parquet(tablePath(root, layer, "prefixes"))
    l.prefixDeletes.write.mode(SaveMode.Overwrite)
      .parquet(tablePath(root, layer, "prefix_deletes"))
    l.quarantine.write.mode(SaveMode.Overwrite)
      .parquet(tablePath(root, layer, "quarantine"))

    // per-partition lineage + row-count metrics
    val lineage =
      postings.groupBy(col("bucket")).agg(count(lit(1)).as("rows"))
        .select(lit(layer).as("layer"), lit("postings").as("table"),
          concat(lit("bucket="), col("bucket")).as("partition"), col("rows"))
        .unionByName(
          l.tileFeatures.groupBy(col("z")).agg(count(lit(1)).as("rows"))
            .select(lit(layer).as("layer"), lit("tile_features").as("table"),
              concat(lit("z="), col("z")).as("partition"), col("rows")))
        .unionByName(Seq(
          ("features", l.features.count()),
          ("deletes", l.deletes.count()),
          ("prefixes", l.prefixes.count()),
          ("prefix_deletes", l.prefixDeletes.count()),
          ("quarantine", l.quarantine.count()),
          ("_scorefactor_micros", math.round(l.scorefactor * 1e6).max(0L)))
          .toDF("table", "rows")
          .select(lit(layer).as("layer"), col("table"),
            lit("all").as("partition"), col("rows")))
    lineage.write.mode(SaveMode.Overwrite)
      .parquet(s"$root/_meta/lineage/$layer")

    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/_meta/complete"))
    f.create(markerPath(root, layer), true).close()
  }

  /** Full lineage table across layers. */
  def lineage(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/_meta/lineage/*")

  /** Load one completed layer from the store. */
  def loadLayer(spark: SparkSession, cfg: LayerConfig,
                root: String): IndexBuilder.LayerIndex = {
    val layer = cfg.name
    val postings = spark.read.parquet(tablePath(root, layer, "postings"))
      .drop("bucket")
    val tileFeatures = spark.read.parquet(tablePath(root, layer, "tile_features"))
    val features = spark.read.parquet(tablePath(root, layer, "features"))
    val deletes = spark.read.parquet(tablePath(root, layer, "deletes"))
    val prefixes = spark.read.parquet(tablePath(root, layer, "prefixes"))
    val prefixDeletes = spark.read.parquet(tablePath(root, layer, "prefix_deletes"))
    val quarantine = spark.read.parquet(tablePath(root, layer, "quarantine"))
    val scorefactor = lineage(spark, root)
      .where(col("layer") === layer && col("table") === "_scorefactor_micros")
      .select(col("rows")).collect().headOption
      .map(_.getLong(0).toDouble / 1e6).getOrElse(0.0)
    IndexBuilder.LayerIndex(cfg, features, postings, tileFeatures, scorefactor,
      deletes, prefixes, prefixDeletes, quarantine)
  }

  /** Build-or-resume: completed layers load from the store; the rest build,
    * persist, and then serve from their persisted tables — a restart
    * mid-build redoes only unfinished layers.
    */
  def buildOrResume(spark: SparkSession,
                    layers: Seq[(LayerConfig, Dataset[GeoDoc])],
                    root: String): IndexBuilder.CarmenIndex = {
    val built = layers.map { case (cfg, docs) =>
      if (isComplete(spark, root, cfg.name)) loadLayer(spark, cfg, root)
      else {
        val li = IndexBuilder.build(spark, Seq((cfg, docs))).layers.head
        persistLayer(spark, li, root)
        loadLayer(spark, cfg, root)
      }
    }
    IndexBuilder.CarmenIndex(built.toVector)
  }
}
