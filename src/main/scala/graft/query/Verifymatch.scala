package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.IndexBuilder
import graft.model._

/** Verifymatch (reference lib/geocoder/verifymatch.js:36-331, 363-521):
  * lead covers joined to their features, address-cluster/ITP resolution
  * and the feature-phase chunk machine, per query.
  */
object Verifymatch {

  // reference lib/constants.js:23-25
  val VerifymatchMaxFeatures = 50 // max spatialmatches loaded to fill stackLimit

  /** Lead cover joined to its feature, pre-address-resolution. `score` is
    * the cover's decoded score (the V6 disambiguation round-trip input).
    */
  final case class LeadRaw(
      query_id: Long, position: Int, tmpid: Long, idx: Int, mask: Int,
      relev: Double, text: String, score: Double, zoom: Int, smRelev: Double,
      scoredist: Double, addrNum: String, partial: Boolean, addrPos: Int,
      phraseHash: Int, matchesLang: Boolean, x: Int, y: Int,
      featureId: Long, lon: Double, lat: Double, display: String,
      fFullText: String, fScore: Double, fLangTexts: Map[String, String],
      fOverrides: Map[String, String],
      fAddressprops: Map[String, Map[Int, String]],
      fGeomBin: Array[Byte], fAddrnum: Seq[Seq[String]], fRangetype: String,
      fLfromhn: Seq[Seq[String]], fLtohn: Seq[Seq[String]],
      fRfromhn: Seq[Seq[String]], fRtohn: Seq[Seq[String]],
      fParityl: Seq[Seq[String]], fParityr: Seq[Seq[String]],
      fIntersections: Seq[Seq[String]],
      addressLayer: Boolean, fTypes: Seq[String],
      fReverseOnly: Boolean, fOmitted: Boolean)

  final case class LeadOut(
      query_id: Long, position: Int, kind: Int, tmpid: Long, idx: Int,
      mask: Int, relev: Double, text: String, zoom: Int, smRelev: Double,
      scoredist: Double, featureId: Long, lon: Double, lat: Double,
      display: String, number: String, fullText: String, fscore: Double,
      addrPenalty: Boolean,
      // V12 sort keys (reference sortContext verifymatch.js:1003-1053)
      addressPos: Int = -1, fromCluster: Boolean = false,
      interpolated: Boolean = false, omitted: Boolean = false,
      // O1 matching_text (format-features.js:383-479)
      matchingText: String = "",
      // "override:{type}" feature props (verifymatch.js:597-631)
      overrides: Map[String, String] = Map.empty,
      // F3 languageMode=strict verdict for this feature
      langOk: Boolean = true,
      // V9 routable point "lon,lat" (empty when none / not requested)
      routablePoints: String = "",
      // carmen:text_{lang} map for language-aware textAlike (V13)
      langTexts: Map[String, String] = Map.empty,
      // carmen:types of the lead feature: the LAST entry is its extid type
      // and the context maxtype (verifymatch.js:476-478, 546)
      leadTypes: Seq[String] = Nil,
      // spatialmatch.partialNumber: feeds the feature-phase chunk
      // machine's partial-number batch cap (verifymatch.js:186-212)
      partial: Boolean = false,
      // verified-order index (context chunks slice in this order) and the
      // reference's carmen:position value (startPos + pos, including the
      // off-by-one startPos quirk for backfill chunks, verifymatch.js:160)
      vorder: Int = -1, cpos: Int = 0)

  /** A resolved lead candidate with its V6 disambiguation key (the
    * per-(query, position) pick happens inside the verify kernel).
    */
  final case class LeadCand(out: LeadOut, d1: Int, d2: Int, d3: Int)

  /** Per-layer text info for verify/format (simple replacer, intersection
    * token, category set, routable flag).
    */
  final case class LayerTextInfo(simple: SimpleReplacer,
                                 intersectionToken: String,
                                 categories: Set[String],
                                 routable: Boolean = false)

  /** Address-cluster/ITP resolution for one lead feature (reference
    * verifymatch.js:363-492): exact intersection cross-street snap, exact
    * cluster match, then range interpolation, then a street-fallback 0.99
    * relevance penalty; partial-number searches use prefix matching with a
    * proximity pick. Also computes the O1 language-selected display text
    * and matching_text.
    *
    * @param layerText per-layer text info — intersection matching tokenizes
    *                  the stored street names with the layer's simple
    *                  replacer (verifymatch.js:377)
    */
  private def resolveLead(r: LeadRaw,
                          proximity: Option[(Double, Double)],
                          language: Option[String],
                          languageMode: String,
                          routing: Boolean,
                          globalMinScore: Double,
                          globalMaxScore: Double,
                          layerText: Map[Int, LayerTextInfo]): LeadOut = {
    val out = resolveLeadCore(r, proximity, language, languageMode, routing,
      layerText)
    // Verify-stage scoredist recompute (verifymatch.js:481-521): with a
    // proximity point, the sort scoredist comes from the feature's REAL
    // resolved center distance (not the coalesce tile distance), scaled by
    // the geocoder-wide max score.
    proximity match {
      case Some((plon, plat)) if out.featureId >= 0 && out.kind == 2 =>
        val dist = Proximity.distance(plon, plat, out.lon, out.lat,
          r.x, r.y, r.zoom)
        out.copy(scoredist = Proximity.scoredist(out.fscore, globalMinScore,
          math.max(globalMaxScore, 1.01), dist, r.zoom))
      case None if out.featureId >= 0 && out.kind == 2 =>
        // without proximity the sort scoredist IS the feature score
        // (verifymatch.js:519) — cross-index comparisons happen in raw
        // score space, not the coalesce tile approximation
        out.copy(scoredist = out.fscore)
      case _ => out
    }
  }

  private def resolveLeadCore(r: LeadRaw,
                              proximity: Option[(Double, Double)],
                              language: Option[String],
                              languageMode: String,
                              routing: Boolean,
                              layerText: Map[Int, LayerTextInfo]): LeadOut = {
    // F3 languageMode=strict (filter-sources.js:119-139), evaluated here
    // where the feature's text keys are in hand
    val langOk = r.featureId < 0 ||
      ClosestLang.featureMatchesLanguage(language, languageMode,
        "carmen:text" +: r.fLangTexts.keys.toVector.sorted.map("carmen:text_" + _))
    val info = layerText.getOrElse(r.idx,
      LayerTextInfo(SimpleReplacer(Map.empty), "and", Set.empty))
    // O1: language-aware text selection (closest-lang getText,
    // format-features.js:93)
    val langDisplay =
      if (language.isEmpty || r.fLangTexts.isEmpty || r.featureId < 0) r.display
      else ClosestLang.displayText(language, r.fFullText, r.fLangTexts)
    // O1: matching_text recovery (format-features.js:383-479)
    val matchingText =
      if (r.featureId < 0 || r.fFullText.isEmpty) ""
      else FormatPlace.getMatchingText(language, r.fFullText, r.fLangTexts,
        r.matchesLang, r.phraseHash, r.text, info.categories).getOrElse("")
    val noPenalty = LeadOut(r.query_id, r.position, 2, r.tmpid, r.idx, r.mask,
      r.relev, r.text, r.zoom, r.smRelev, r.scoredist, r.featureId, r.lon,
      r.lat, langDisplay, number = "", fullText = r.fFullText,
      fscore = r.fScore, addrPenalty = false, addressPos = r.addrPos,
      matchingText = matchingText,
      overrides = r.fOverrides.collect {
        case (k, v) if k.startsWith("override:") && v.nonEmpty =>
          k.stripPrefix("override:") -> v
        // per-feature carmen:format / carmen:format_{lang} templates ride
        // through under a reserved "carmen:" prefix (format-override)
        case (k, v) if (k == "format" || k.startsWith("format_")) && v.nonEmpty =>
          ("carmen:" + k) -> v
      },
      langOk = langOk, langTexts = r.fLangTexts, leadTypes = r.fTypes,
      partial = r.partial, omitted = r.fOmitted)
    // carmen:reverse_only features are never forward leads
    // (reference verifymatch.js:472)
    if (r.fReverseOnly) return noPenalty.copy(kind = -1)
    if (!r.addressLayer || r.featureId < 0) return noPenalty

    // pre-parsed binary geometry: no JSON parse per candidate
    val parts: Vector[Geom] =
      if (r.fGeomBin.isEmpty) Vector.empty
      else Geom.fromBin(r.fGeomBin) match {
        case Geom.Collection(gs) => gs
        // pre-addrTransform intersection docs carry a bare MultiPoint
        case mp: Geom.MultiPoint => Vector(mp)
        case _ => Vector.empty
      }

    // V3 intersection resolution (verifymatch.js:363-395): "+intersection
    // f st nw , 9th st" covers snap to the exact cross-street point from
    // carmen:intersections / the aligned MultiPoint part
    if (r.text.startsWith("+intersection") && r.fIntersections.nonEmpty) {
      val intersectionQuery =
        r.text.split(",")(0).replace("+intersection", "").trim
      val simple = info.simple
      val itoken = info.intersectionToken
      var found: Option[(Int, Int, String)] = None
      var i = 0
      while (found.isEmpty && i < r.fIntersections.length) {
        val row = r.fIntersections(i)
        var j = 0
        while (found.isEmpty && j < row.length) {
          val toks = simple(TextNormalize.tokenize(row(j)).tokens)
          if (intersectionQuery == toks.mkString(" "))
            found = Some((i, j, row(j)))
          j += 1
        }
        i += 1
      }
      found.foreach { case (gi, ji, crossStreet) =>
        val pt = parts.lift(gi).flatMap {
          case Geom.MultiPoint(pts) => pts.lift(ji)
          case _ => None
        }
        pt.foreach { case (ilon, ilat) =>
          // place-name street part: the feature synonym whose tokenized form
          // contains the queried street (format-features.js:489-500); the
          // queried street is the cover text after the comma
          // (verifymatch.js:639-645)
          val queryText = {
            val ci = r.text.indexOf(',')
            if (ci >= 0) r.text.substring(ci + 1).trim else ""
          }
          var streetName = ""
          r.fFullText.split(",").foreach { syn =>
            val t = simple(TextNormalize.tokenize(syn).tokens).mkString(" ")
            if (queryText.nonEmpty && t.contains(queryText)) streetName = syn
          }
          val display = s"$crossStreet $itoken ${streetName.trim}".trim
          // intersection display wins over matching_text (format-features.js:87-92)
          return noPenalty.copy(lon = ilon, lat = ilat, display = display,
            matchingText = "")
        }
      }
    }

    val hasAddressData = r.fAddrnum.nonEmpty || r.fRangetype.nonEmpty
    if (!hasAddressData) return noPenalty
    if (r.addrNum.isEmpty && !r.partial) return noPenalty
    val clusterParts = r.fAddrnum.toVector.zipWithIndex.map { case (nums0, k) =>
      // geometry-aligned slots are null for non-cluster geometries
      // (carmen:addressnumber = [null, [...]])
      val nums = if (nums0 == null) Vector.empty[String] else nums0.toVector
      parts.lift(k) match {
        case Some(Geom.MultiPoint(pts)) =>
          AddressCluster.Part(nums, pts, isMultiPoint = true)
        case _ => AddressCluster.Part(nums, Vector.empty, isMultiPoint = false)
      }
    }

    // the queried number: the original query token in both cases (for
    // partial searches addrNum carries query[0], verifymatch.js:410)
    val number =
      if (r.partial && r.addrNum.isEmpty) r.text.split(" ").head else r.addrNum

    // (lon, lat, number, fromCluster, interpolated, omitted, addressIdx)
    val resolved: Option[(Double, Double, String, Boolean, Boolean, Boolean, Option[Int])] =
      if (r.partial) {
        // partial-number searches never interpolate and never street-fall-
        // back: ITP-only features are skipped outright (verifymatch.js:400-416)
        if (clusterParts.isEmpty || clusterParts.forall(!_.isMultiPoint)) None
        else {
          val distFn: (Double, Double) => Double = (lon, lat) => proximity match {
            case Some((plon, plat)) =>
              Proximity.distance(plon, plat, lon, lat, 0, 0, r.zoom)
            case None => 0.0
          }
          // partial matches display the matched cluster number
          // (verifymatch.js:410 via forwardPrefixFiltered's carmen:address)
          AddressCluster.forwardPrefixFiltered(clusterParts, number, distFn)
            .map(p => (p._1.lon, p._1.lat, p._1.number, true, false, false, None))
        }
      } else {
        // exact matches display the QUERY's number token: the reference sets
        // carmen:address = address.number before the lookup
        // (verifymatch.js:418) and only queens style overrides it
        val exact = AddressCluster.forward(clusterParts, number).headOption
          .map(m => (m.lon, m.lat, number, true, false, false,
            Some(m.addressIdx): Option[Int]))
        exact.orElse {
          if (r.fRangetype.nonEmpty) {
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
            AddressItp.forward(itpParts, number)
              .map(p => (p.lon, p.lat, number, false, p.interpolated, p.omitted,
                None: Option[Int]))
          } else None
        }
      }

    resolved match {
      case Some((lon, lat, matchedNum, fromCluster, interp, omit, addrIdx)) =>
        // per-address property overrides (carmen:addressprops,
        // addresscluster.js:33-50): the matched address index selects its
        // override:{type} values; "" deletes the base override
        val effRaw = addrIdx match {
          case Some(i) =>
            r.fAddressprops.foldLeft(r.fOverrides) { case (acc, (prop, m)) =>
              m.get(i) match {
                case Some("") => acc - prop
                case Some(v) => acc.updated(prop, v)
                case None => acc
              }
            }
          case None => r.fOverrides
        }
        val eff = effRaw.collect {
          case (k, v) if k.startsWith("override:") && v.nonEmpty =>
            k.stripPrefix("override:") -> v
          case (k, v) if (k == "format" || k.startsWith("format_")) && v.nonEmpty =>
            ("carmen:" + k) -> v
        }
        // V9 routable points (reference lib/geocoder/routablepoint.js):
        // nearest point on the feature's line geometry to the resolved
        // address point, 1e-6 rounded
        val routablePts =
          if (routing && info.routable)
            Geom.nearestPointOnLine(Geom.Collection(parts), lon, lat)
              .map { case (x, y) =>
                s"${JsNum.roundTo(x, 6)},${JsNum.roundTo(y, 6)}" }
              .getOrElse("")
          else ""
        noPenalty.copy(lon = lon, lat = lat, number = matchedNum,
          fromCluster = fromCluster, interpolated = interp,
          omitted = omit || r.fOmitted,
          overrides = eff, routablePoints = routablePts)
      case None =>
        if (r.partial)
          // drop the feature entirely: no street fallback for prefixes
          // (verifymatch.js:411-416); kind -1 = filtered out downstream
          noPenalty.copy(kind = -1)
        else
          // street fallback (verifymatch.js:456-460, 489-492)
          noPenalty.copy(addrPenalty = true)
    }
  }

  /** V14 feature-phase chunk machine (reference verifymatch.js:85-227):
    * getSpatialmatchesChunk + afterFeatureChunk replayed over one query's
    * batch-loaded candidates. Input rows are position-ordered resolved lead
    * candidates (kind 2 = verified feature, kind -1 = loaded but dropped
    * inside verifyFeatures, featureId < 0 = load returned null); per-
    * feature verification already ran distributively in [[resolveLead]],
    * so only the chunking (stopEarly, partial-number batch cap, the 50-
    * load ceiling, the per-chunk sortFeature) replays here. Returns the
    * verified leads with `vorder` (context-chunk order) and `cpos` (the
    * reference's carmen:position, including its startPos-1 quirk) set.
    */
  private def verifyFeaturePhase(rows0: Vector[LeadOut], stackLimit: Int,
                                 proximitySet: Boolean, filtersActive: Boolean,
                                 featureOk: LeadOut => Boolean): Vector[LeadOut] = {
    val rows = rows0.sortBy(_.position)
    val verified = scala.collection.mutable.ArrayBuffer.empty[(LeadOut, Int, Double)]
    var remaining = rows
    var matchesSeen = 0
    var batchSize = stackLimit
    var startPos = 0
    var break = false
    while (!break) {
      // getSpatialmatchesChunk (verifymatch.js:178-227); the stopEarly /
      // partial-cap path only engages when more candidates remain than the
      // batch size (reference quirk preserved)
      var chunk = Vector.empty[LeadOut]
      val backfill = scala.collection.mutable.ArrayBuffer.empty[LeadOut]
      var stopEarly = false
      if (remaining.length > batchSize) {
        val partialLimit = 0.8 * stackLimit
        var pCount = 0
        var i = 0
        var done = false
        while (i < remaining.length && !done) {
          val sm = remaining(i)
          if (verified.nonEmpty && sm.smRelev < verified(0)._1.smRelev) {
            stopEarly = true; done = true
          } else {
            if (sm.partial && pCount > partialLimit) backfill += sm
            else {
              if (sm.partial) pCount += 1
              chunk :+= sm
            }
            if (chunk.length == batchSize) {
              backfill ++= remaining.drop(i + 1); done = true
            }
            i += 1
          }
        }
      } else chunk = remaining
      // afterFeatureChunk (verifymatch.js:115-135): featureAllowed filter
      // drops null loads and disallowed features BEFORE position indexes
      // are assigned; without filters, null loads keep their slot
      val arr =
        if (filtersActive)
          chunk.filter(r => r.featureId >= 0 && r.langOk && featureOk(r))
        else chunk
      val chunkVerified = arr.zipWithIndex.collect {
        case (r, p) if r.kind == 2 && r.featureId >= 0 =>
          val relevance =
            if (proximitySet)
              Proximity.relevanceScore(r.smRelev, r.scoredist,
                addressNull = r.number.isEmpty && !r.addrPenalty,
                ghost = r.fscore < 0)
            else 0.0
          (r, startPos + p, relevance)
      }
      // sortFeature (verifymatch.js:984-1001): relevance, spatialmatch
      // relev, address non-null, non-omitted, scoredist, position
      val sorted = chunkVerified.sortWith { case ((a, ap, ar), (b, bp, br)) =>
        if (ar != br) ar > br
        else if (a.smRelev != b.smRelev) a.smRelev > b.smRelev
        else {
          val an = if (a.number.isEmpty && !a.addrPenalty) 1 else 0
          val bn = if (b.number.isEmpty && !b.addrPenalty) 1 else 0
          if (an != bn) an < bn
          else if (a.omitted != b.omitted) !a.omitted
          else if (a.scoredist != b.scoredist) a.scoredist > b.scoredist
          else ap < bp
        }
      }
      verified ++= sorted
      val totalSeen = matchesSeen + chunk.length
      if (stopEarly || backfill.isEmpty || verified.length >= stackLimit ||
        totalSeen >= VerifymatchMaxFeatures) break = true
      else {
        batchSize = math.min(stackLimit - verified.length,
          VerifymatchMaxFeatures - totalSeen)
        matchesSeen = totalSeen
        startPos = totalSeen - 1 // reference off-by-one (verifymatch.js:160)
        remaining = backfill.toVector
      }
    }
    verified.iterator.zipWithIndex.map { case ((r, cpos, _), vo) =>
      r.copy(vorder = vo, cpos = cpos)
    }.toVector
  }

  /** The verified leads (kind 2, at most stackLimit per query) of the
    * spatialmatch [[Spatialmatch.covers]].
    */
  private[query] def run(call: Forward.Call, covers: DataFrame): DataFrame = {
    val spark = call.spark
    import spark.implicits._
    val index = call.index
    val opts = call.opts
    // Cached pre-partitioned on (f_idx, f_id24) — the wide feature rows
    // never re-shuffle per call (see CarmenIndex.allFeaturesWide)
    val featuresAll = index.allFeaturesWide
    // lead rows (kind 2): pos==0 cover joined to its feature on the
    // (idx, id24) key. shuffle_hash on the FEATURES side: the hash map is
    // built from the per-partition feature segment (bounded by index
    // size / partition count) while the lead side — the side that scales
    // with the query batch — streams; only the narrow lead rows cross an
    // exchange per call, the pre-partitioned feature cache none.
    // (Broadcasting features would cap at corpus sizes far below scale;
    // a query-side build OOMs large batches.)
    // S4 cover check (feature.js:164): the feature's zxy covers must
    // include the cover tile — prunes id24 hash collisions up front.
    // rank 0 is the loose-sets row (no feature load); leads are rank >= 1
    val leadJoined0 = covers.where(col("pos") === 0 && col("position") >= 1)
      .join(featuresAll.hint("shuffle_hash"),
        covers("idx") === featuresAll("f_idx") &&
          covers("id24") === featuresAll("f_id24") &&
          array_contains(featuresAll("f_zxy"),
            concat_ws("/", covers("zoom"), covers("x"), covers("y"))),
        "left")
    // V6 cover->feature disambiguation (feature.js:314-369): when several
    // features share id24 + tile, prefer the one whose 3-bit score
    // round-trips to the cover score, then the one with a synonym whose
    // phraseHash matches, closest by Levenshtein to the cover text.
    // The disambiguation key is computed in the same narrow map as
    // resolveLead (pipelined with the feature join — no window exchange of
    // the wide feature-payload rows) and the per-position pick happens
    // inside the per-query verify kernel.
    val sfByIdx: Map[Int, Double] = index.layers.map(l =>
      l.config.idx -> l.scorefactor).toMap
    val sfBc = spark.sparkContext.broadcast(sfByIdx)
    def disambOf(r: LeadRaw): (Int, Int, Int) = {
      if (r.featureId < 0) return (0, 0, 0)
      val sf = sfBc.value.getOrElse(r.idx, 0.0)
      val scoreMatch = sf == 0.0 || {
        val enc = GridCodec.encode3BitLogScale(r.fScore, sf)
        GridCodec.decode3BitLogScaleRounded(enc, sf) == JsNum.jsRound(r.score)
      }
      var hashMatch = false
      var minLev = Int.MaxValue
      r.fFullText.split(",").foreach { syn =>
        if (Murmur3.phraseHash(syn) == r.phraseHash) {
          hashMatch = true
          val d = Fuzzy.levenshtein(r.text, syn.trim.toLowerCase)
          if (d < minLev) minLev = d
        }
      }
      (if (scoreMatch) 0 else 1, if (hashMatch) 0 else 1, minLev)
    }
    val emptyNested = lit(array()).cast("array<array<string>>")
    val leadRaw = leadJoined0.select(col("query_id"), col("position"),
      col("tmpid"), col("idx"), col("mask"), col("relev"), col("text"),
      col("score"),
      col("zoom"), col("smRelev"), col("scoredist"), col("addrNum"),
      col("partial"), col("addrPos"), col("phraseHash"), col("matchesLang"),
      col("x"), col("y"),
      coalesce(col("feature_id"), lit(-1L)).as("featureId"),
      coalesce(col("center_lon"), lit(0.0)).as("lon"),
      coalesce(col("center_lat"), lit(0.0)).as("lat"),
      coalesce(trim(substring_index(col("f_text"), ",", 1)), lit("")).as("display"),
      coalesce(col("f_text"), lit("")).as("fFullText"),
      coalesce(col("f_score"), lit(0.0)).as("fScore"),
      coalesce(col("f_lang_texts"),
        map().cast("map<string,string>")).as("fLangTexts"),
      coalesce(col("f_overrides"),
        map().cast("map<string,string>")).as("fOverrides"),
      coalesce(col("f_addressprops"),
        map().cast("map<string,map<int,string>>")).as("fAddressprops"),
      coalesce(col("f_geom_bin"), lit(Array.emptyByteArray)).as("fGeomBin"),
      coalesce(col("f_addrnum"), emptyNested).as("fAddrnum"),
      coalesce(col("f_rangetype"), lit("")).as("fRangetype"),
      coalesce(col("f_lfromhn"), emptyNested).as("fLfromhn"),
      coalesce(col("f_ltohn"), emptyNested).as("fLtohn"),
      coalesce(col("f_rfromhn"), emptyNested).as("fRfromhn"),
      coalesce(col("f_rtohn"), emptyNested).as("fRtohn"),
      coalesce(col("f_parityl"), emptyNested).as("fParityl"),
      coalesce(col("f_parityr"), emptyNested).as("fParityr"),
      coalesce(col("f_intersections"), emptyNested).as("fIntersections"),
      coalesce(col("f_is_address"), lit(false)).as("addressLayer"),
      coalesce(col("f_types"), lit(array()).cast("array<string>")).as("fTypes"),
      coalesce(col("f_reverse_only"), lit(false)).as("fReverseOnly"),
      coalesce(col("f_omitted"), lit(false)).as("fOmitted"))
      .as[LeadRaw]
    // per-layer text info for V3 intersection matching + O1 formatting
    // inside resolveLead
    val layerText: Map[Int, LayerTextInfo] = index.layers.map { l =>
      l.config.idx -> LayerTextInfo(
        IndexBuilder.replacersFor(l.config).simple,
        if (l.config.intersectionToken.nonEmpty) l.config.intersectionToken
        else "and",
        l.config.categories,
        l.config.geocoderRoutable)
    }.toMap
    val layerTextBc = spark.sparkContext.broadcast(layerText)
    val language = call.requestedLangs.headOption
    val languageMode = opts.languageMode
    val routing = opts.routing
    val proximity = opts.proximity
    // geocoder-wide max score for the verify scoredist recompute
    // (reference geocoder.maxScore, index.js:343-345)
    val globalMaxScore =
      if (index.layers.isEmpty) 1.0 else index.layers.map(_.scorefactor).max
    // geocoder-wide min score (reference geocoder.minScore: min of source
    // meta minscore values, default 0)
    val globalMinScore =
      if (index.layers.isEmpty) 0.0
      else index.layers.map(_.config.minscore).min
    // F3 featureAllowed (filter-sources.js:64-110) gates the verified set
    // only when type/stack/strict-language filters are active (the
    // reference's afterFeatureChunk condition, verifymatch.js:119-135)
    val typesOpt = opts.types
    val filtersActive = typesOpt.nonEmpty || opts.stacks.nonEmpty ||
      opts.languageMode == "strict"
    val stackLim = opts.stackLimit
    val proximitySet = proximity.isDefined
    val layersBc = call.layersBc
    call.barrier("verifymatch", count = "verifymatch") {
      // resolveLead AND the V6 disambiguation key compute in one narrow map
      // pipelined with the feature join: the wide feature-payload rows never
      // cross an exchange (the old plan shuffled them through a
      // row_number window before resolution — one full exchange + sort of
      // feature payloads per call, deleted)
      val resolved = leadRaw
        .map { r =>
          val (d1, d2, d3) = disambOf(r)
          LeadCand(resolveLead(r, proximity, language, languageMode, routing,
            globalMinScore, globalMaxScore, layerTextBc.value), d1, d2, d3)
        }
      // V14: the feature-phase chunk machine replays per query over the
      // batch-loaded candidates, emitting only the verified leads (at most
      // stackLimit) that context fill + re-rank run on
      PerQuery.kernel(resolved, "out.query_id") {
          (_: Long, it: Iterator[LeadCand]) =>
        val (cfgs, _) = layersBc.value
        val cfgByIdxA: Map[Int, (String, LayerConfig)] =
          cfgs.map { case (name, (c, _)) => c.idx -> ((name, c)) }
        def typeAllowedA(r: LeadOut): Boolean =
          typesOpt.isEmpty || {
            val types =
              if (r.leadTypes.nonEmpty) r.leadTypes
              else cfgByIdxA.get(r.idx).map(_._2.typ).toSeq
            typesOpt.exists { t =>
              val parts = t.split("\\.", 2)
              if (parts.length == 1) types.contains(t)
              else types.contains(parts(0)) && cfgByIdxA.get(r.idx).exists {
                case (name, c) =>
                  c.scoreranges.get(parts(1)).exists { rr =>
                    val sf = cfgs(name)._2
                    r.fscore >= sf * rr.head && r.fscore <= sf * rr(1)
                  }
              }
            }
          }
        // V6 pick per (query, position): several features sharing the
        // cover's (idx, id24, tile) resolve to the best disambiguation key
        // (was a row_number window over the wide joined rows)
        val picked = it.toVector.groupBy(_.out.position).valuesIterator
          .map { cands =>
            (if (cands.length == 1) cands.head
             else cands.minBy(c => (c.d1, c.d2, c.d3, c.out.featureId))).out
          }.toVector
        verifyFeaturePhase(picked, stackLim, proximitySet, filtersActive,
          typeAllowedA).iterator
      }.toDF()
    }
  }
}
