package graft.index

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.GeoOps

/** The resident (z, x, y) tile lookup: every layer's tile rows, built once
  * per index, hash-partitioned on a packed tile key and probed per call by
  * routing each point's tile keys to the partitions that own them — the
  * reference's per-tile fetch (context.js:309-371) instead of a join that
  * scans, sorts or broadcasts the whole tile table on every call.
  *
  * Each partition holds sorted packed keys, the start offset of each key's
  * run of feature slots, the slots, and each feature's payload once (the
  * tile rows repeat it on every tile the feature covers).
  */
final class TileLookup private (parts: RDD[TileLookup.Part],
                                partitioner: HashPartitioner,
                                spark: SparkSession) {

  /** `f` on every (point, feature) pair whose tile keys are equal: the
    * keyed points go to the partition that owns their key, so a call moves
    * only its own points.
    */
  def probe[P: ClassTag, U: ClassTag](points: RDD[(Long, P)])(
      f: (P, TileLookup.Feature) => IterableOnce[U]): RDD[U] =
    parts.zipPartitions(points.partitionBy(partitioner)) { (part, pts) =>
      val lookup = part.next()
      pts.flatMap { case (key, p) => lookup(key).flatMap(f(p, _)) }
    }

  /** One row per tile row, in the columns of
    * `CarmenIndex.allTileFeatures`. Uncached: a count of it fills the
    * lookup.
    */
  def rows: DataFrame = {
    import spark.implicits._
    spark.createDataset(parts.flatMap(_.rows)).toDF()
  }
}

object TileLookup {

  /** The lookup RDD's name in storage listings. */
  val Name = "tile lookup"

  /** One feature's tile-row payload. Equal payloads share one slot, so
    * equality compares every field (the geometry by content); the hash
    * reads the cheap identity fields only.
    */
  final case class Feature(idx: Int, layer: String, featureId: Long, id24: Long,
                           text: String, score: Double, lon: Double, lat: Double,
                           geomBin: Array[Byte], geomType: String,
                           langTexts: Map[String, String], types: Seq[String],
                           conflict: String) {
    override def hashCode: Int = java.lang.Long.hashCode(featureId) * 31 + idx
    override def equals(o: Any): Boolean = o match {
      case f: Feature =>
        featureId == f.featureId && idx == f.idx && layer == f.layer &&
          id24 == f.id24 && text == f.text && score == f.score &&
          lon == f.lon && lat == f.lat && geomType == f.geomType &&
          java.util.Arrays.equals(geomBin, f.geomBin) &&
          langTexts == f.langTexts && types == f.types && conflict == f.conflict
      case _ => false
    }
  }

  /** A tile row of [[TileLookup.rows]]. */
  final case class TileRow(idx: Int, layer: String, z: Int, x: Int, y: Int,
                           feature_id: Long, id24: Long, text: String,
                           score: Double, f_lon: Double, f_lat: Double,
                           geom_bin: Array[Byte], geom_type: String,
                           langTexts: Map[String, String], types: Seq[String],
                           conflict: String)

  private val XyBits = 29
  private val XyMask = (1L << XyBits) - 1

  /** z in bits 58-62, x in 29-57, y in 0-28; x and y in [0, 2^z). */
  private def key(z: Int, x: Long, y: Long): Long =
    (z.toLong << (2 * XyBits)) | (x << XyBits) | y

  private def onGrid(z: Int, x: Long, y: Long): Boolean =
    x >= 0 && y >= 0 && x < (1L << z) && y < (1L << z)

  /** One partition of the lookup. `starts(i)` until `starts(i + 1)` are
    * the slots of `keys(i)`.
    */
  final class Part(keys: Array[Long], starts: Array[Int], slots: Array[Int],
                   features: Array[Feature]) extends Serializable {
    def apply(key: Long): Iterator[Feature] = {
      val i = java.util.Arrays.binarySearch(keys, key)
      if (i < 0) Iterator.empty
      else Iterator.range(starts(i), starts(i + 1)).map(j => features(slots(j)))
    }

    def rows: Iterator[TileRow] =
      keys.indices.iterator.flatMap { i =>
        val k = keys(i)
        val (z, x, y) = ((k >>> (2 * XyBits)).toInt, ((k >>> XyBits) & XyMask).toInt,
          (k & XyMask).toInt)
        Iterator.range(starts(i), starts(i + 1)).map { j =>
          val f = features(slots(j))
          TileRow(f.idx, f.layer, z, x, y, f.featureId, f.id24, f.text, f.score,
            f.lon, f.lat, f.geomBin, f.geomType, f.langTexts, f.types, f.conflict)
        }
      }
  }

  private object Part {
    /** A partition from its (feature, keys) records: each distinct payload
      * gets one slot; a key lists a slot once per tile row.
      */
    def apply(records: Iterator[(Feature, Array[Long])]): Part = {
      val slotOf = mutable.HashMap.empty[Feature, Int]
      val features = mutable.ArrayBuffer.empty[Feature]
      val allKeys = mutable.ArrayBuilder.make[Long]
      val allSlots = mutable.ArrayBuilder.make[Int]
      records.foreach { case (f, ks) =>
        val slot = slotOf.getOrElseUpdate(f, { features += f; features.length - 1 })
        ks.foreach { k => allKeys += k; allSlots += slot }
      }
      val ks = allKeys.result()
      val ss = allSlots.result()
      val order = ks.indices.sortBy(ks(_)).toArray
      val keys = mutable.ArrayBuilder.make[Long]
      val starts = mutable.ArrayBuilder.make[Int]
      order.indices.foreach { j =>
        if (j == 0 || ks(order(j)) != ks(order(j - 1))) { keys += ks(order(j)); starts += j }
      }
      starts += order.length
      new Part(keys.result(), starts.result(), order.map(ss), features.toArray)
    }
  }

  /** Builds the lookup from the per-layer `tileFeatures` (so built and
    * loaded indexes alike) at `defaultParallelism` partitions. Each input
    * partition sends one record per (target partition, feature), never
    * one per tile row. The lookup is cached and its lineage truncated
    * (`localCheckpoint`): with many sources the union lineage would
    * otherwise go out with every probe task.
    *
    * Tile rows off the [0, 2^z) grid (features beyond ±85.0511° latitude)
    * are left out: no probed tile can reach them. So is a row with a null
    * tile or score, which no join key or candidate row could carry.
    */
  def build(layers: Seq[IndexBuilder.LayerIndex]): TileLookup = {
    val spark = layers.head.tileFeatures.sparkSession
    val partitioner = new HashPartitioner(spark.sparkContext.defaultParallelism)
    val records = layers.map { l =>
      val (idx, layer, conflict) = (l.config.idx, l.config.name, l.config.conflictKey)
      l.tileFeatures.select(col("z"), col("x"), col("y"), col("id"), col("id24"),
          col("text"), col("score"), col("center_lon"), col("center_lat"),
          col("geom_bin"), col("geom_type"), col("langTexts"), col("types"))
        .rdd.mapPartitions { rows =>
          val byFeature = mutable.LinkedHashMap.empty[Feature,
            mutable.LinkedHashMap[Int, mutable.ArrayBuilder[Long]]]
          rows.foreach { r =>
            if (Seq(0, 1, 2, 6).forall(!r.isNullAt(_)) &&
                onGrid(r.getInt(0), r.getInt(1), r.getInt(2))) {
              val f = Feature(idx, layer, r.getLong(3), r.getLong(4), r.getString(5),
                r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getAs[Array[Byte]](9),
                r.getString(10),
                if (r.isNullAt(11)) Map.empty else r.getMap[String, String](11).toMap,
                r.getSeq[String](12), conflict)
              val k = key(r.getInt(0), r.getInt(1), r.getInt(2))
              byFeature.getOrElseUpdate(f, mutable.LinkedHashMap.empty)
                .getOrElseUpdate(partitioner.getPartition(k), mutable.ArrayBuilder.make[Long]) += k
            }
          }
          byFeature.iterator.flatMap { case (f, byPart) =>
            byPart.iterator.map { case (p, ks) => (p, (f, ks.result())) }
          }
        }
    }
    // an Int key p in [0, n) hashes to partition p
    val parts = spark.sparkContext.union(records)
      .partitionBy(partitioner)
      .mapPartitions(it => Iterator(Part(it.map(_._2))), preservesPartitioning = true)
      .setName(Name)
      .localCheckpoint()
    new TileLookup(parts, partitioner, spark)
  }

  /** Each of `points` (with `lon` and `lat` fields) once per tile key:
    * its tile at each zoom and, with `ring` = 1, the eight tiles around it.
    * Tiles are the `GeoOps.tileX`/`tileY` of the point; a tile off the
    * [0, 2^z) grid gets no key (a key would alias another tile's), nor does
    * a point at a pole, where `tileY` divides by zero.
    */
  def keyed[P](points: Dataset[P], zooms: Seq[Int], ring: Int): RDD[(Long, P)] = {
    val (lon, lat) = (col("lon"), col("lat"))
    val keys = for (z <- zooms; dx <- -ring to ring; dy <- -ring to ring) yield {
      val n = 1L << z
      val x = GeoOps.tileX(lon, z) + dx
      val y = GeoOps.tileY(lat, z) + dy
      when(abs(lat) < 90, when(x >= 0 && x < n && y >= 0 && y < n,
        lit(z.toLong << (2 * XyBits)).bitwiseOR(shiftleft(x, XyBits)).bitwiseOR(y)))
    }
    points.select(explode(array(keys: _*)).as("_1"),
        struct(points.columns.map(col): _*).as("_2"))
      .where(col("_1").isNotNull)
      .as(Encoders.tuple(Encoders.scalaLong, points.encoder))
      .rdd
  }
}
