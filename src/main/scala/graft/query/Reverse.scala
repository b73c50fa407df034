package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._
import graft.index.IndexBuilder.CarmenIndex
import graft.index.TileLookup
import graft.ops.GeoOps

/** Batch reverse geocode: points -> per-layer tile lookup -> per-layer
  * candidate pick -> stacked context (reference lib/geocoder/context.js).
  *
  * The lookup probes the index's resident [[TileLookup]]: each point's
  * tile at every distinct layer zoom goes, as one packed (z, x, y) key, to
  * the lookup partition that owns it — the Spark analog of the reference's
  * LRU-cached per-layer vector-tile fetch (context.js:309-371), with one
  * shuffle of the call's points regardless of layer count and none of the
  * tile rows. Containment is exact ray-casting for polygons (direct hit,
  * distance 0); otherwise the distance to the feature's geometry.
  *
  * R4/R5: the probe keeps a per-layer CANDIDATE LIST (the vtquery limit-5 /
  * limit-100 result set, context.js:583-606), and [[pickPerIdx]] walks it
  * in (distance, id) order with the exclusive-target short-circuit
  * (context.js:448-556). R8: [[stackMemo]] ports stackFeatures fully —
  * carmen:types multi-type shifting, carmen:conflict keys, maxtype
  * exclusion and reference replacement rules (context.js:168-254).
  */
object Reverse {

  /** The vtquery direct_hit_polygon rule (context.js:587, 604) for one
    * (point, feature) pair, over the pre-parsed binary geometry: a polygon
    * matches only with the point inside it (distance 0), anything else when
    * `near(distance)` holds. Containment and distance share one parse. A
    * null geometry type matches only on a direct hit.
    */
  private def hitDistance(f: TileLookup.Feature, lon: Double, lat: Double)(
      near: Double => Boolean): Option[Double] = {
    val g = Geom.fromBin(f.geomBin)
    if (Geom.contains(g, lon, lat)) Some(0.0)
    else {
      val dist = Geom.distanceMiles(g, lon, lat)
      val polygon = f.geomType == "Polygon" || f.geomType == "MultiPolygon"
      if (f.geomType != null && !polygon && near(dist)) Some(dist) else None
    }
  }

  /** distscore as a Column (reference lib/util/proximity.js:192-198). */
  def distscoreCol(dist: Column, score: Column): Column =
    round(score * (lit(1000.0) / greatest(dist, lit(35.0))) * lit(1.0e4)) / lit(1.0e4)

  /** Scalar twin of [[distscoreCol]] for the pick kernel. */
  def distscoreScalar(dist: Double, score: Double): Double =
    math.round(score * (1000.0 / math.max(dist, 35.0)) * 1.0e4) / 1.0e4

  /** The reference's vtquery radius: 1000 METERS flat, independent of
    * layer zoom (context.js:587/604 `radius: 1000` + the
    * `tilequery.distance > 1000` guard in processVtQueryResults:488 —
    * observable in geocode-unit.reverse-scoredist: a point 0.006 deg off
    * matches, 0.007 deg does not).
    */
  val VtqueryRadiusMiles: Double = 1000.0 / 1609.344

  /** vtquery limit in reverseMode=distance (context.js:583-588). */
  val DistanceModeLimit = 5
  /** vtquery limit otherwise — score mode and forward context fill
    * (context.js:600-606).
    */
  val ContextModeLimit = 100

  final case class ReverseOptions(
      // suffix-context count for single reverse (reference default 5,
      // geocode.js:340); nearest-feature count for limit reverse
      limit: Int = 5,
      reverseMode: String = "distance", // "distance" | "score" (R5)
      types: Seq[String] = Nil,         // result-type filter
      scoreFilter: Option[(Double, Double)] = None, // manual scoreranges window
      radiusMiles: Double = 0.0,
      worldview: String = "",           // "" = first configured worldview
      // O1 language-selected display text (closest-lang getText), applied
      // per context member like the reference's format-features path
      language: Option[String] = None)

  /** One reverse candidate out of the tile-lookup probe (R4): rank `rnk` within its
    * (query, sub, layer) group by (distance, id) — the engine's vtquery
    * result list. `sub` disambiguates multiple lookups per query (forward
    * result position, nearest-k rank); 0 for plain reverse.
    */
  final case class CandRow(query_id: Long, sub: Int, idx: Int, layer: String,
                           types: Seq[String], conflict: String,
                           feature_id: Long, tmpid: Long, text: String,
                           dist_miles: Double, score: Double,
                           geom_type: String, center_lon: Double,
                           center_lat: Double,
                           langTexts: Map[String, String],
                           matched: Boolean, rnk: Int)

  /** idx*2^25 + id%2^24 — the reference cover tmpid keyspace. */
  def tmpidCol(idxCol: Column, fidCol: Column): Column =
    idxCol.cast("long") * (1L << 25) + pmod(abs(fidCol), lit(1L << 24))

  /** Scalar twin of [[tmpidCol]]. */
  def tmpid(idx: Int, fid: Long): Long =
    idx.toLong * (1L << 25) + Math.floorMod(Math.abs(fid), 1L << 24)

  /** A point probed in the tile lookup. */
  final case class CandPoint(query_id: Long, sub: Int, lon: Double, lat: Double)

  /** The per-(point, layer) candidate list: each point's tile at every
    * layer zoom, probed in the index's resident [[TileLookup]] (no join,
    * scan or broadcast of the tile rows). distanceMode pre-filters ghost
    * features exactly as the reference's basic-filters do
    * (context.js:588). The (distance, id) rank and the vtquery cap are
    * applied by each consumer's per-query kernel ([[rankCap]]), so `rnk`
    * is 0 here.
    *
    * `matched` is false on every row: forward context fill sets it from
    * the query's phrasematch covers inside its kernel.
    *
    * @param points    (query_id, sub, lon, lat)
    * @param allowedIdxs layer visibility (worldview / maxidx pruning)
    */
  def candidates(points: DataFrame, index: CarmenIndex,
                 distanceMode: Boolean, radiusMiles: Double,
                 allowedIdxs: Option[Set[Int]] = None): Dataset[CandRow] = {
    val spark = points.sparkSession
    import spark.implicits._
    val pts = points.select(col("query_id").cast("long"),
      col("sub").cast("int"), col("lon"), col("lat")).as[CandPoint]
    // vtquery's flat 1000 m default; an explicit positive radius overrides
    val radius = if (radiusMiles > 0) radiusMiles else VtqueryRadiusMiles
    val allowed = allowedIdxs.filter(_.size != index.layers.size)
    val rows = index.tileLookup.probe(TileLookup.keyed(pts, index.zooms, ring = 0)) {
        (p: CandPoint, f: TileLookup.Feature) =>
      // ghost pre-filter only in distance mode (basic-filters,
      // context.js:588); a NaN score passes, like SQL's `score >= 0`
      if (allowed.exists(!_.contains(f.idx)) || (distanceMode && f.score < 0)) None
      else hitDistance(f, p.lon, p.lat)(_ <= radius).map { dist =>
        CandRow(p.query_id, p.sub, f.idx, f.layer, f.types, f.conflict,
          f.featureId, tmpid(f.idx, f.featureId), f.text, dist, f.score,
          f.geomType, f.lon, f.lat, f.langTexts, matched = false, rnk = 0)
      }
    }
    spark.createDataset(rows)
  }

  /** The vtquery result cap for a candidate list (context.js:587-588). */
  def vtqueryCap(distanceMode: Boolean): Int =
    if (distanceMode) DistanceModeLimit else ContextModeLimit

  /** Rank one (query, sub, idx) candidate group by (distance, id) and apply
    * the vtquery cap — the in-kernel replacement for the former row_number
    * window inside [[candidates]] (same order, same cap, one less shuffle).
    */
  def rankCap(rows: Vector[CandRow], cap: Int): Vector[CandRow] =
    rows.sortBy(r => (r.dist_miles, r.feature_id))
      .take(cap)
      .zipWithIndex.map { case (r, i) => r.copy(rnk = i + 1) }

  /** processVtQueryResults (reference context.js:448-556): pick one feature
    * per layer from its (distance, id)-ordered candidate list. The walk
    * accepts the first candidate that is not a ghost (score < 0) and passes
    * the score filter, matched by the forward phrasematch or not; every
    * later candidate is farther, or as near with a larger id, and is
    * skipped. So a matched non-ghost never beats a nearer, or equally near
    * lower-id, unmatched one. The first matched ghost met before the
    * accepted candidate is picked instead of it unless that candidate is
    * matched; unmatched ghosts are skipped. The exclusive target
    * short-circuits everything. scoreModeEnabled mirrors
    * source.geocoder_reverse_mode. Whether carmen's context.js orders the
    * same way is unchecked: no copy of it is at hand.
    */
  def pickPerIdx(rows0: Vector[CandRow], scoreMode: Boolean,
                 scoreModeEnabled: Boolean,
                 scoreFilter: Option[(Double, Double)],
                 exclusive: Option[Long]): Option[CandRow] = {
    val rows = rows0.sortBy(r => (r.rnk, r.feature_id))
    if (scoreMode && scoreModeEnabled && exclusive.isEmpty) {
      // distscore ordering, first hit wins (context.js:456-470, 488-497);
      // sortBy is stable so ties keep the (distance, id) base order
      rows.sortBy(r => -distscoreScalar(r.dist_miles, r.score)).headOption
    } else {
      var feat: CandRow = null
      var ghost: CandRow = null
      var forward: CandRow = null
      var dist = Double.PositiveInfinity
      val it = rows.iterator
      while (it.hasNext && forward == null) {
        val r = it.next()
        if (r.dist_miles > dist) ()                                 // farther than picked
        else if (feat != null && r.feature_id > feat.feature_id) () // same dist, larger id
        else exclusive match {
          case Some(target) =>
            if (r.tmpid == target) { feat = r; forward = r }
          case None =>
            if (r.score < 0 && !r.matched) ()                 // unmatched ghost
            else if (r.score < 0 && ghost == null) ghost = r  // matched ghost: store
            else if (scoreFilter.exists { case (lo, hi) =>
              r.score <= lo || r.score > hi }) ()
            else {
              feat = r
              dist = r.dist_miles
              if (r.matched) forward = r
            }
        }
      }
      Option(if (forward != null) forward else if (ghost != null) ghost else feat)
    }
  }

  /** getSubtypeLookup (context.js:146-156): base type -> subtype or ""
    * (= plain membership). ['poi.landmark'] -> poi->"landmark";
    * a later plain 'poi' overwrites to "".
    */
  def subtypeLookup(types: Seq[String]): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    types.foreach { t =>
      val p = t.split("\\.", 2)
      if (p.length == 2 && !m.contains(p(0))) m(p(0)) = p(1)
      else m(p(0)) = ""
    }
    m.toMap
  }

  /** stackFeatures options (context.js:168-254). */
  final case class StackOpts(types: Seq[String] = Nil, maxtype: String = "",
                             scoreMode: Boolean = false,
                             full: Boolean = false)

  /** One stacked context element: the picked candidate, the carmen type it
    * claimed (the multi-type shift outcome, = its extid type) and its
    * position in the context array (0 = finest).
    */
  final case class Stacked(cand: CandRow, claimedType: String, order: Int)

  /** stackFeatures (reference context.js:168-254): walk picks fine->coarse;
    * each feature claims the LAST unclaimed entry of its carmen:types (plus
    * its conflict key); maxtype and (in full mode, until the first claim)
    * the types filter force shifts to earlier types; a later non-Polygon
    * feature replaces a claimed one only if closer (score-gated in score
    * mode), removing every memo reference to the replaced feature.
    */
  def stackMemo(picks: Vector[CandRow], opts: StackOpts): Vector[Stacked] = {
    val lookup = subtypeLookup(opts.types)
    val memo = scala.collection.mutable.LinkedHashMap.empty[String, CandRow]
    val claimed = scala.collection.mutable.HashMap.empty[Long, String]
    var firstType: Option[String] = None
    for (f <- picks.sortBy(r => -r.idx)) {
      val types = if (f.types.nonEmpty) f.types.toVector else Vector(f.layer)
      var l = types.length - 1
      var break = false
      while (l >= 0 && !break) {
        val typ = types(l)
        val conflict = if (f.conflict.nonEmpty) f.conflict else typ
        val maxtypeSkip = opts.maxtype.nonEmpty && opts.maxtype == typ
        val typeFilterSkip = !maxtypeSkip && opts.full && firstType.isEmpty &&
          opts.types.nonEmpty && !lookup.contains(typ)
        if (!maxtypeSkip && !typeFilterSkip) {
          memo.get(typ) match {
            case None =>
              memo(typ) = f
              memo(conflict) = f
              claimed(f.tmpid) = typ
              if (firstType.isEmpty) firstType = Some(typ)
              break = true
            case Some(cur) if f.geom_type != "Polygon" =>
              // carmen:score falsy semantics: 0 is "unscored"
              val scoreBlocks = opts.scoreMode && (
                (f.score == 0 && cur.score != 0) ||
                (f.score != 0 && cur.score != 0 && cur.score >= f.score))
              val distBlocks = f.dist_miles >= cur.dist_miles
              val typeBlocks = opts.full && opts.types.nonEmpty &&
                !lookup.contains(typ)
              if (!scoreBlocks && !distBlocks && !typeBlocks) {
                // remove all references to the previously stacked feature
                val dead = memo.collect {
                  case (k, v) if v.tmpid == cur.tmpid => k
                }.toVector
                dead.foreach(memo.remove)
                claimed.remove(cur.tmpid)
                memo(typ) = f
                memo(conflict) = f
                claimed(f.tmpid) = typ
                break = true
              }
            case _ => () // a Polygon claimant is never replaced
          }
        }
        l -= 1
      }
    }
    val seen = scala.collection.mutable.HashSet.empty[Long]
    memo.values.toVector
      .filter(v => seen.add(v.tmpid))
      .zipWithIndex
      .map { case (v, i) => Stacked(v, claimed(v.tmpid), i) }
  }

  final case class StackedRow(query_id: Long, place_name: String,
                              feature_id: Long, layer: String,
                              center_lon: Double, center_lat: Double,
                              rank: Int = 1, typ: String = "")

  /** stackMemo + R10 context splitting (reference geocode.js:299-310):
    * the context hierarchy becomes suffix contexts
    * [[poi,place,country],[place,country],[country]], each relevance 1,
    * ranked; `opts.limit` bounds how many are returned.
    */
  def stackContexts(picks: Vector[CandRow], opts: ReverseOptions,
                    stackOpts: StackOpts): Vector[StackedRow] = {
    val context = stackMemo(picks, stackOpts)
    if (context.isEmpty) Vector.empty
    else (0 until math.min(math.max(opts.limit, 1), context.length)).map { i =>
      val suffix = context.drop(i)
      val lead = suffix.head
      def display(c: CandRow): String =
        ClosestLang.displayText(opts.language, c.text, c.langTexts)
      StackedRow(lead.cand.query_id,
        suffix.map(s => display(s.cand)).mkString(", "),
        lead.cand.feature_id, lead.cand.layer, lead.cand.center_lon,
        lead.cand.center_lat, rank = i + 1, typ = lead.claimedType)
    }.toVector
  }

  /** Per-idx pick config for the reverse kernel: geocoder_reverse_mode flag
    * and the subtype score range ([lo,hi] x maxscore, context.js:104-113).
    */
  def pickConfig(index: CarmenIndex, types: Seq[String],
                 full: Boolean): Map[Int, (Boolean, Option[(Double, Double)])] = {
    val lookup = subtypeLookup(types)
    index.layers.map { l =>
      val sub = lookup.get(l.config.typ).filter(_.nonEmpty)
      val sf =
        if (!full) None
        else sub.flatMap(s => l.config.scoreranges.get(s)).map(r =>
          (r.head * l.scorefactor, r(1) * l.scorefactor))
      l.config.idx -> ((l.config.geocoderReverseMode, sf))
    }.toMap
  }

  /** maxidx (reference geocode.js:231-241): with a types filter, context
    * i/o is limited to requested types' layers and their parents.
    */
  def maxidxFor(index: CarmenIndex, types: Seq[String]): Int = {
    if (types.isEmpty) Int.MaxValue
    else {
      val parents = types.map(_.split("\\.")(0)).toSet
      index.layers.filter(_.config.allTypes.exists(parents.contains))
        .map(_.config.idx + 1).foldLeft(0)(math.max)
    }
  }

  def worldviewIdxs(index: CarmenIndex, worldview: String): Set[Int] = {
    val wv = if (worldview.nonEmpty) worldview else index.worldviews.head
    index.idxsForWorldview(wv)
  }

  def reverse(spark: SparkSession, index: CarmenIndex, points: DataFrame,
              radiusMiles: Double = 0.0): DataFrame =
    reverseWithOptions(spark, index, points,
      ReverseOptions(radiusMiles = radiusMiles))

  /** Post-stack address snap row (R7/R6 input). */
  final case class SnapRaw(query_id: Long, rank: Int, place_name: String,
                           feature_id: Long, layer: String, typ: String,
                           center_lon: Double, center_lat: Double,
                           q_lon: Double, q_lat: Double,
                           fGeomBin: Array[Byte], fAddrnum: Seq[Seq[String]],
                           fRangetype: String,
                           fLfromhn: Seq[Seq[String]], fLtohn: Seq[Seq[String]],
                           fRfromhn: Seq[Seq[String]], fRtohn: Seq[Seq[String]],
                           fParityl: Seq[Seq[String]], fParityr: Seq[Seq[String]])

  def reverseWithOptions(spark: SparkSession, index: CarmenIndex,
                         points: DataFrame, opts: ReverseOptions): DataFrame = {
    import spark.implicits._
    validateReverseOptions(opts, explicitLimit = false).foreach(msg =>
      throw new IllegalArgumentException(msg))
    val pts = points.select(col("query_id").cast("long"), col("lon"), col("lat"))
    val cpts = pts.withColumn("sub", lit(0))
    val maxidx = maxidxFor(index, opts.types)
    val allowed = worldviewIdxs(index, opts.worldview).filter(_ < maxidx)
    val distanceMode = opts.reverseMode != "score"
    val cands = candidates(cpts, index, distanceMode, opts.radiusMiles,
      Some(allowed))
    val cfgByIdx = pickConfig(index, opts.types, full = true)
    val scoreMode = opts.reverseMode == "score"
    val optsB = opts
    val stackO = StackOpts(types = opts.types, scoreMode = scoreMode,
      full = true)
    val cap = vtqueryCap(distanceMode)
    val stacked = PerQuery.kernel(cands, "query_id") {
        (_: Long, it: Iterator[CandRow]) =>
      val rows = it.toVector
      val picks = rows.groupBy(_.idx).toVector.sortBy(_._1)
        .flatMap { case (idx, rs) =>
          val (revModeOk, autoSf) = cfgByIdx.getOrElse(idx, (true, None))
          pickPerIdx(rankCap(rs, cap), scoreMode, revModeOk,
            optsB.scoreFilter.orElse(autoSf), None)
        }
      stackContexts(picks, optsB, stackO).iterator
    }.toDF()

    // materialized once before the sort: the range partitioner's sampling
    // job then reads the checkpoint instead of running the kernel again
    snapAddresses(spark, index, stacked, pts).localCheckpoint()
      .orderBy(col("query_id"), col("rank"))
  }

  /** Reverse option validation (reference geocode.js:215-218): limit > 1
    * requires exactly one type.
    */
  def validateReverseOptions(opts: ReverseOptions,
                             explicitLimit: Boolean): Option[String] =
    if (opts.reverseMode != "distance" && opts.reverseMode != "score")
      Some(s"${opts.reverseMode} is not a valid reverseMode. Must be one of: score, distance")
    else if (explicitLimit && opts.limit > 1 && opts.types.length != 1)
      Some("limit must be combined with a single type parameter when reverse geocoding")
    else None

  /** R7 addresscluster.reverse + R6 ITP arbitration on address-layer leads
    * (reference addresscluster.js:228-273, context.js:694-716): leads on
    * address layers snap to the nearest cluster point and/or interpolated
    * range point; the ITP point wins when it is closer to the query AND
    * more than 200 m from the cluster point.
    */
  private def snapAddresses(spark: SparkSession, index: CarmenIndex,
                            stacked: DataFrame, pts: DataFrame,
                            byRank: Boolean = false): DataFrame = {
    import spark.implicits._
    val joinKeys = if (byRank) Seq("query_id", "rank") else Seq("query_id")
    val addressLayers = index.layers.filter(_.config.geocoderAddress)
    val base = stacked.select(col("query_id"), col("rank"), col("place_name"),
      col("feature_id"), col("layer"), col("typ"),
      col("center_lon"), col("center_lat"))
    if (addressLayers.isEmpty) base
    else {
      val emptyNested = lit(array()).cast("array<array<string>>")
      val feats = addressLayers.map { l =>
        l.features.select(lit(l.config.name).as("layer"),
          col("id").as("feature_id"), col("geom_bin").as("fGeomBin"),
          col("addressnumber").as("fAddrnum"),
          col("rangetype").as("fRangetype"),
          col("lfromhn").as("fLfromhn"), col("ltohn").as("fLtohn"),
          col("rfromhn").as("fRfromhn"), col("rtohn").as("fRtohn"),
          col("parityl").as("fParityl"), col("parityr").as("fParityr"))
      }.reduce(_ unionByName _)
      val raw = stacked
        .join(pts.withColumnRenamed("lon", "q_lon").withColumnRenamed("lat", "q_lat"),
          joinKeys)
        .join(feats, Seq("layer", "feature_id"), "left")
        .select(col("query_id"), col("rank"), col("place_name"),
          col("feature_id"), col("layer"), col("typ"),
          col("center_lon"), col("center_lat"),
          col("q_lon"), col("q_lat"),
          coalesce(col("fGeomBin"), lit(Array.emptyByteArray)).as("fGeomBin"),
          coalesce(col("fAddrnum"), emptyNested).as("fAddrnum"),
          coalesce(col("fRangetype"), lit("")).as("fRangetype"),
          coalesce(col("fLfromhn"), emptyNested).as("fLfromhn"),
          coalesce(col("fLtohn"), emptyNested).as("fLtohn"),
          coalesce(col("fRfromhn"), emptyNested).as("fRfromhn"),
          coalesce(col("fRtohn"), emptyNested).as("fRtohn"),
          coalesce(col("fParityl"), emptyNested).as("fParityl"),
          coalesce(col("fParityr"), emptyNested).as("fParityr"))
        .as[SnapRaw]
      raw.map { r =>
        val parts: Vector[Geom] =
          if (r.fGeomBin.isEmpty) Vector.empty
          else Geom.fromBin(r.fGeomBin) match {
            case Geom.Collection(gs) => gs
            case _ => Vector.empty
          }
        // addrpt: nearest cluster point (R7)
        val addrpt =
          if (r.fAddrnum.isEmpty || parts.isEmpty) None
          else AddressCluster.reverse(
            r.fAddrnum.toVector.zipWithIndex.map { case (nums0, k) =>
              // null slots align non-cluster geometries ([null, [...]])
              val nums = if (nums0 == null) Vector.empty[String]
                         else nums0.toVector
              parts.lift(k) match {
                case Some(Geom.MultiPoint(mp)) => AddressCluster.Part(nums, mp)
                case _ => AddressCluster.Part(nums, Vector.empty,
                  isMultiPoint = false)
              }
            }, r.q_lon, r.q_lat)
        // addritp: interpolated point on the nearest range line (V8)
        val addritp =
          if (r.fRangetype.isEmpty || parts.isEmpty) None
          else {
            val itpParts = parts.zipWithIndex.map { case (g, k) =>
              val lines = g match {
                case Geom.MultiLineString(ls) => ls
                case _ => Vector.empty[Vector[(Double, Double)]]
              }
              def at(v: Seq[Seq[String]]): Vector[String] =
                if (k < v.length && v(k) != null) v(k).toVector else Vector.empty
              AddressItp.Part(lines, at(r.fLfromhn), at(r.fLtohn),
                at(r.fRfromhn), at(r.fRtohn), at(r.fParityl), at(r.fParityr),
                isMultiLineString = lines.nonEmpty)
            }
            AddressItp.reverse(itpParts, r.q_lon, r.q_lat)
          }
        def km(lon1: Double, lat1: Double, lon2: Double, lat2: Double) =
          Mercator.haversineMiles(lon1, lat1, lon2, lat2) * 1.609344
        // R6 arbitration (context.js:703-716)
        val chosen: Option[(Option[String], Double, Double)] = (addrpt, addritp) match {
          case (Some(pt), Some((inum, ilon, ilat))) =>
            val qToItp = km(r.q_lon, r.q_lat, ilon, ilat)
            val qToPt = km(r.q_lon, r.q_lat, pt.lon, pt.lat)
            val ptToItp = km(pt.lon, pt.lat, ilon, ilat)
            if (qToItp < qToPt && ptToItp > 0.2)
              Some((inum.map(_.toString), ilon, ilat))
            else Some((Some(pt.number), pt.lon, pt.lat))
          case (Some(pt), None) => Some((Some(pt.number), pt.lon, pt.lat))
          case (None, Some((inum, ilon, ilat))) =>
            Some((inum.map(_.toString), ilon, ilat))
          case _ => None
        }
        chosen match {
          case Some((Some(num), lon, lat)) =>
            StackedRow(r.query_id, s"$num ${r.place_name}", r.feature_id,
              r.layer, lon, lat, r.rank, r.typ)
          case Some((None, lon, lat)) =>
            StackedRow(r.query_id, r.place_name, r.feature_id, r.layer,
              lon, lat, r.rank, r.typ)
          case None => StackedRow(r.query_id, r.place_name, r.feature_id,
            r.layer, r.center_lon, r.center_lat, r.rank, r.typ)
        }
      }.toDF()
        .select(col("query_id"), col("rank"), col("place_name"),
          col("feature_id"), col("layer"), col("typ"),
          col("center_lon"), col("center_lat"))
    }
  }

  /** nearest (reference context.js:268-304 + R9): k nearest features of a
    * type per point from a 3x3 tile neighborhood, each then given its own
    * context by [[reverseLimit]]. Subtype filters ("poi.landmark") apply
    * their score range (context.js:282-288).
    */
  def nearestK(spark: SparkSession, index: CarmenIndex, points: DataFrame,
               typ: String, limit: Int,
               opts: ReverseOptions = ReverseOptions()): DataFrame = {
    val pts = points.select(col("query_id").cast("long"), col("lon"), col("lat"))
    val typeSplit = typ.split("\\.", 2)
    val baseType = typeSplit(0)
    val wvIdxs = worldviewIdxs(index, opts.worldview)
    val layersOfType = index.layers.filter(l =>
      l.config.typ == baseType && wvIdxs.contains(l.config.idx))
    require(layersOfType.nonEmpty, s"no layer of type $baseType")
    // subtype score filter (context.js:282-288)
    val scoreFilter = opts.scoreFilter.orElse {
      if (typeSplit.length != 2) None
      else layersOfType.flatMap(l =>
        l.config.scoreranges.get(typeSplit(1)).map(r =>
          (r.head * l.scorefactor, r(1) * l.scorefactor))).headOption
    }

    // address layers expose their INDIVIDUAL cluster points (the engine's
    // analog of the reference's vectorized per-number vector-tile points,
    // context.js:268-304 + indexdocs vectorizable): each point is its own
    // nearest candidate carrying its house number
    val (addrLayers, plainLayers) = layersOfType.partition(_.config.geocoderAddress)
    // plain layers: the 3x3 tile neighborhood at each layer's zoom, probed
    // in the resident tile lookup
    val plainCand: Option[DataFrame] =
      if (plainLayers.isEmpty) None
      else {
        import spark.implicits._
        val plainIdxs = plainLayers.map(_.config.idx).toSet
        val near = pts.withColumn("sub", lit(0)).as[CandPoint]
        val rows = index.tileLookup.probe(TileLookup.keyed(near,
            plainLayers.map(_.config.zoom).distinct, ring = 1)) {
            (p: CandPoint, f: TileLookup.Feature) =>
          if (!plainIdxs.contains(f.idx) || f.score < 0) None
          // direct_hit_polygon: nearest-k never returns a polygon the
          // point is outside of
          else hitDistance(f, p.lon, p.lat)(_ => true).map { dist =>
            NearCand(p.query_id, f.idx, f.layer, f.featureId, f.text, f.score,
              dist, f.lon, f.lat, "")
          }
        }
        Some(spark.createDataset(rows).toDF())
      }
    // address layers: the 3x3 tile neighborhood joined to the address points
    val tiles = layersOfType.map(_.config.zoom).distinct.map { z =>
      pts.withColumn("z", lit(z))
        .withColumn("tx0", GeoOps.tileX(col("lon"), z))
        .withColumn("ty0", GeoOps.tileY(col("lat"), z))
    }.reduce(_ unionByName _)
      .withColumn("dxy", explode(lit((for (dx <- -1 to 1; dy <- -1 to 1)
        yield Array(dx, dy)).toArray)))
      .withColumn("tx", col("tx0") + col("dxy").getItem(0))
      .withColumn("ty", col("ty0") + col("dxy").getItem(1))
      .drop("dxy", "tx0", "ty0")
    val addrCand: Option[DataFrame] = addrLayers.map { l =>
      // per-layer cached address-point table (built once per index): the
      // per-call geometry decode + explode of every address feature is gone
      val pts0 = l.addrPoints
      tiles.join(pts0, tiles("z") === pts0("pz") && tiles("tx") === pts0("px") &&
          tiles("ty") === pts0("py"))
        .where(col("score") >= 0)
        .withColumn("dist_miles", haversineMilesCol(col("lon"), col("lat"),
          col("p_lon"), col("p_lat")))
        .select(col("query_id"), col("idx"), col("layer"), col("feature_id"),
          col("text"), col("score"), col("dist_miles"),
          col("p_lon").as("center_lon"), col("p_lat").as("center_lat"),
          col("number"))
    }.reduceOption(_ unionByName _)
    val cand = (plainCand.toSeq ++ addrCand.toSeq).reduce(_ unionByName _)
    val filtered = scoreFilter match {
      case Some((lo, hi)) => cand.where(col("score") > lo && col("score") <= hi)
      case None => cand
    }
    // dedupe features/points appearing in several neighborhood tiles
    val deduped = filtered.dropDuplicates("query_id", "feature_id", "number")
    val ordered =
      if (opts.reverseMode == "score")
        deduped.withColumn("rank", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(distscoreCol(col("dist_miles"), col("score")).desc,
            col("dist_miles"), col("feature_id"))))
      else
        deduped.withColumn("rank", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("dist_miles"), col("feature_id"), col("number"))))
    ordered.where(col("rank") <= limit)
      .select(col("query_id"), col("rank"), col("idx"), col("feature_id"),
        tmpidCol(col("idx"), col("feature_id")).as("tmpid"),
        col("layer"), col("text"), col("dist_miles"),
        col("center_lon"), col("center_lat"))
  }

  /** A plain-layer nearest-k candidate, in the address candidates' columns. */
  final case class NearCand(query_id: Long, idx: Int, layer: String,
                            feature_id: Long, text: String, score: Double,
                            dist_miles: Double, center_lon: Double,
                            center_lat: Double, number: String)

  final case class TargetMeta(query_id: Long, sub: Int,
                              target_idx: Int, target_tmpid: Long)

  /** limit>1 reverse (reference geocode.js:247-287): the k nearest features
    * of the single requested type each get their own full context at the
    * feature's location, the target layer loading ONLY the target feature
    * (exclusive short-circuit, context.js:116-127 + 502-513); contexts
    * dedupe by target tmpid (address layers may repeat, geocode.js:268-280).
    */
  def reverseLimit(spark: SparkSession, index: CarmenIndex, points: DataFrame,
                   typ: String, limit: Int,
                   opts: ReverseOptions = ReverseOptions()): DataFrame = {
    import spark.implicits._
    val capped = math.min(limit, 5) // geocode.js:216
    val near = nearestK(spark, index, points, typ, capped, opts)
      .localCheckpoint()
    val baseType = typ.split("\\.", 2)(0)
    val wvIdxs = worldviewIdxs(index, opts.worldview)
    val ctxPts = near.select(col("query_id"), col("rank").as("sub"),
      col("center_lon").as("lon"), col("center_lat").as("lat"))
    val cands = candidates(ctxPts, index, distanceMode = false,
      radiusMiles = opts.radiusMiles, Some(wvIdxs))
    val metaDs = near.select(col("query_id"), col("rank").as("sub"),
      col("idx").as("target_idx"), col("tmpid").as("target_tmpid"))
      .as[TargetMeta]
    val typByIdx: Map[Int, String] = index.layers.map(l =>
      l.config.idx -> l.config.typ).toMap
    val optsB = opts
    // the requested type IS the filter when none was given explicitly
    // (geocode.js:257-262 passes options.types, which limit-reverse
    // validation forces to [typ])
    val stackO = StackOpts(
      types = if (opts.types.nonEmpty) opts.types else Seq(typ),
      scoreMode = false, full = true)
    val paired = cands.joinWith(metaDs,
      cands("query_id") === metaDs("query_id") && cands("sub") === metaDs("sub"))
    val perTarget = PerQuery.kernel(paired, "_1.query_id", "_1.sub") {
        (_: (Long, Int), it: Iterator[(CandRow, TargetMeta)]) =>
        val v = it.toVector
        val meta = v.head._2
        val rows = v.map(_._1)
        val picks = rows.groupBy(_.idx).toVector.sortBy(_._1)
          .flatMap { case (idx, rs) =>
            val capped = rankCap(rs, ContextModeLimit)
            // target-type layers: only the target's own layer is queried,
            // exclusively for the target feature (context.js:116-127)
            if (typByIdx.getOrElse(idx, "") == baseType) {
              if (idx != meta.target_idx) None
              else pickPerIdx(capped, scoreMode = false, scoreModeEnabled = false,
                None, Some(meta.target_tmpid))
            } else pickPerIdx(capped, scoreMode = false, scoreModeEnabled = false,
              None, None)
          }
        // one context per target (no suffix splitting for limit reverse)
        stackContexts(picks, optsB.copy(limit = 1), stackO)
          .headOption
          .map(s => s.copy(rank = v.head._1.sub)).iterator
      }.toDF()
    // dedupe by lead feature across ranks; address layers may produce
    // multiple contexts for one cluster feature (geocode.js:268-280)
    val addressLayerNames = index.layers.filter(_.config.geocoderAddress)
      .map(_.config.name)
    val deduped = perTarget
      .withColumn("dd", row_number().over(Window
        .partitionBy(col("query_id"), col("feature_id"), col("layer"))
        .orderBy(col("rank"))))
      .where(col("dd") === 1 ||
        (if (addressLayerNames.isEmpty) lit(false)
         else col("layer").isin(addressLayerNames: _*)))
      .drop("dd")
    // snap each rank's context at ITS target point (the nearest-feature
    // position), not the original query point
    val snapped = snapAddresses(spark, index, deduped,
      near.select(col("query_id"), col("rank"),
        col("center_lon").as("lon"), col("center_lat").as("lat")),
      byRank = true)
    snapped
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(col("rank"))))
  }

  /** id geocode (reference geocode.js:150-204, R2): "{layerName}.{id}". */
  def idGeocode(spark: SparkSession, index: CarmenIndex,
                queries: DataFrame): DataFrame = {
    val parsed = queries.select(col("query_id").cast("long"),
      substring_index(col("query"), ".", 1).as("q_layer"),
      substring_index(col("query"), ".", -1).cast("long").as("q_id"))
    val feats = index.layers.map { l =>
      l.features.select(lit(l.config.name).as("q_layer"), col("id").as("q_id"),
        col("text"), col("center_lon"), col("center_lat"))
    }.reduce(_ unionByName _)
    parsed.join(feats, Seq("q_layer", "q_id"))
      .select(col("query_id"), col("q_layer").as("layer"),
        col("q_id").as("feature_id"),
        substring_index(col("text"), ",", 1).as("place_name"),
        col("center_lon"), col("center_lat"))
  }

  /** asReverse (reference termops.js:145-155): "lon,lat" -> reverse point. */
  def asReverse(query: String): Option[(Double, Double)] = {
    val parts = query.split(",", 3)
    if (parts.length != 2) None
    else {
      val lon = JsNum.jsNumber(parts(0).trim)
      val lat = JsNum.jsNumber(parts(1).trim)
      if (lon.isNaN || lat.isNaN) None else Some((lon, lat))
    }
  }

  /** Haversine miles as a pure Column expression (codegen). */
  def haversineMilesCol(lon1: Column, lat1: Column,
                        lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) + pow(sin(dLon / 2), 2) * cos(radians(lat1)) * cos(radians(lat2))
    lit(2) * atan2(sqrt(a), sqrt(lit(1) - a)) * lit(6371008.8 / 1609.344)
  }
}
