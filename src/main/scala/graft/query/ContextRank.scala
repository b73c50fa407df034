package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.model._

/** Context assembly and re-rank (reference verifymatch.js:264-331,
  * 542-548, context.js, format-features.js): each verified lead's context
  * stack through [[Reverse.candidates]], then the per-query context-phase
  * chunk machine, strict/loose re-rank, dedupe and formatting.
  */
object ContextRank {

  // reference lib/constants.js:23-25
  val MaxContextsLimit = 20       // max contexts loaded to get limitVerify good ones

  /** Tagged row feeding the per-query verify re-rank (kind: 0=cover,
    * 1=context feature, 2=lead feature, 3=loose-sets cover — the best
    * cover per tmpid over ALL spatialmatches, spatialmatch.js:64-68). */
  final case class VRowT(query_id: Long, position: Int, kind: Int, tmpid: Long,
                         idx: Int, mask: Int, relev: Double, text: String,
                         zoom: Int, smRelev: Double, scoredist: Double,
                         featureId: Long, lon: Double, lat: Double,
                         display: String, number: String,
                         fullText: String, fscore: Double,
                         addressPos: Int, fromCluster: Boolean,
                         interpolated: Boolean, omitted: Boolean,
                         pos: Int, matchingText: String,
                         overrides: Map[String, String], langOk: Boolean,
                         routablePoints: String,
                         langTexts: Map[String, String],
                         // matched-grid phrase hash (covers/sets rows; 0
                         // elsewhere) for matching-text recovery
                         phraseHash: Int,
                         // context claimed type + stack order (R8); lead
                         // carmen:types array (kind 2)
                         ctyp: String, corder: Int, allTypes: Seq[String],
                         // kind 2 only: verified order + carmen:position
                         vorder: Int, cpos: Int)

  /** Per-lead context-fill meta (maxidx source + maxtype). */
  final case class CtxMeta(query_id: Long, sub: Int, lead_idx: Int,
                           maxtype: String)

  /** One stacked context element out of the R8 kernel. */
  final case class CtxOut(query_id: Long, position: Int, idx: Int,
                          feature_id: Long, text: String, score: Double,
                          center_lon: Double, center_lat: Double,
                          lang_texts: Map[String, String], ctyp: String,
                          corder: Int)

  final case class FinalRow(query_id: Long, rank: Int, relev: Double,
                            scoredist: Double, place_name: String,
                            feature_id: Long, center_lon: Double,
                            center_lat: Double, lead_idx: Int,
                            matching_text: String, routable_points: String,
                            place_type: String,
                            place_names: Map[String, String] = Map.empty,
                            matching_place_name: String = "")

  // isShortAddressQuery (format-features.js:358-374)
  private val shortAddressPattern =
    java.util.regex.Pattern.compile("^[\\d#]+\\s*\\S{0,2}$")

  /** Per-result output metadata carried through ranking to formatting. */
  final case class Meta(placeName: String, fid: Long, lon: Double, lat: Double,
                        leadIdx: Int, number: String, omitted: Boolean,
                        interpolated: Boolean, addrKey: Option[String],
                        matchingText: String, leadText: String,
                        leadScore: Double, langOk: Boolean,
                        routablePoints: String,
                        leadTypes: Seq[String] = Nil,
                        // lang -> place_name_{lang} for multi-language
                        // requests (reference dynamic output keys)
                        placeNames: Map[String, String] = Map.empty,
                        // matching_place_name ("" = none): place name over
                        // each member's matched synonym
                        matchingPlaceName: String = "")

  /** The formatted, ranked forward output of the spatialmatch
    * [[Spatialmatch.covers]] and the [[Verifymatch]] leads.
    */
  private[query] def run(call: Forward.Call, covers: DataFrame,
                         leadOut: DataFrame): DataFrame = {
    val spark = call.spark
    import spark.implicits._
    val index = call.index
    val opts = call.opts
    val leadRows = leadOut.select(col("query_id"), col("position"), col("kind"),
      col("tmpid"), col("idx"), col("mask"), col("relev"), col("text"),
      col("zoom"), col("smRelev"), col("scoredist"), col("featureId"),
      col("lon"), col("lat"), col("display"), col("number"),
      col("fullText"), col("fscore"), col("addressPos"), col("fromCluster"),
      col("interpolated"), col("omitted"), lit(0).as("pos"),
      col("matchingText"), col("overrides"), col("langOk"),
      col("routablePoints"), col("langTexts"), lit(0).as("phraseHash"),
      lit("").as("ctyp"), lit(0).as("corder"), col("leadTypes").as("allTypes"),
      col("vorder"), col("cpos"))

    // cover rows (kind 0); the pos==0 cover takes the street-fallback
    // penalty when its address number failed to resolve
    // inner join against the VERIFIED positions: covers travel to the
    // re-rank only for candidates the feature phase kept
    val penalties = leadOut.select(col("query_id"), col("position"),
      col("addrPenalty"))
    val coverRows = covers.where(col("position") >= 1)
      .join(penalties, Seq("query_id", "position"), "inner")
      .select(col("query_id"), col("position"),
      lit(0).as("kind"), col("tmpid"), col("idx"), col("mask"),
      when(col("pos") === 0 && coalesce(col("addrPenalty"), lit(false)),
        col("relev") * 0.99).otherwise(col("relev")).as("relev"),
      col("text"), col("zoom"), col("smRelev"), col("scoredist"),
      lit(-1L).as("featureId"), lit(0.0).as("lon"), lit(0.0).as("lat"),
      lit("").as("display"), lit("").as("number"),
      lit("").as("fullText"), lit(0.0).as("fscore"),
      lit(-1).as("addressPos"), lit(false).as("fromCluster"),
      lit(false).as("interpolated"), lit(false).as("omitted"),
      col("pos"), lit("").as("matchingText"),
      map().cast("map<string,string>").as("overrides"), lit(true).as("langOk"),
      lit("").as("routablePoints"),
      map().cast("map<string,string>").as("langTexts"),
      col("phraseHash"),
      lit("").as("ctyp"), lit(0).as("corder"),
      lit(array()).cast("array<string>").as("allTypes"),
      lit(0).as("vorder"), lit(0).as("cpos"))

    // loose-sets rows (kind 3): the rank-0 best-cover-per-tmpid list —
    // the reference's matched.sets, consumed by the loose verify pass
    val setsRows = covers.where(col("position") === 0)
      .select(col("query_id"), col("position"),
      lit(3).as("kind"), col("tmpid"), col("idx"), col("mask"),
      col("relev"), col("text"), col("zoom"), col("smRelev"),
      col("scoredist"),
      lit(-1L).as("featureId"), lit(0.0).as("lon"), lit(0.0).as("lat"),
      lit("").as("display"), lit("").as("number"),
      lit("").as("fullText"), lit(0.0).as("fscore"),
      lit(-1).as("addressPos"), lit(false).as("fromCluster"),
      lit(false).as("interpolated"), lit(false).as("omitted"),
      col("pos"), lit("").as("matchingText"),
      map().cast("map<string,string>").as("overrides"), lit(true).as("langOk"),
      lit("").as("routablePoints"),
      map().cast("map<string,string>").as("langTexts"),
      col("phraseHash"),
      lit("").as("ctyp"), lit(0).as("corder"),
      lit(array()).cast("array<string>").as("allTypes"),
      lit(0).as("vorder"), lit(0).as("cpos"))

    // context rows (kind 1): reverse-lookup of the lead center in every
    // layer coarser than the lead's name-group firstidx (maxidx,
    // verifymatch.js:542-548), stacked with the FULL stackFeatures
    // semantics — forward-phrasematch priority from the query's cover sets
    // (R4/R5), carmen:conflict keys, maxtype exclusion and multi-type
    // shifting (R8, context.js:116-254).
    // O1: context display text is language-selected (format-features.js:93).
    val requestedLangs = call.requestedLangs
    val language = requestedLangs.headOption
    val langSelUdf = udf((text: String, langTexts: Map[String, String]) =>
      ClosestLang.getText(language,
        ("carmen:text" -> text) +: langTexts.toVector.sortBy(_._1)
          .map { case (k, v) => ("carmen:text_" + k, v) })._1)
    val ctxDisplay =
      if (language.isEmpty) trim(substring_index(col("text"), ",", 1))
      else langSelUdf(col("text"),
        coalesce(col("lang_texts"), map().cast("map<string,string>")))
    // matched sets: every verified cover tmpid of the query (the reference's
    // `sets` — approximated by the top-limitVerify results' covers, the
    // same documented equivalence as V1/V14)
    val matchedSets = covers.select(col("query_id"), col("tmpid")).distinct()
    val byNameFirstIdx: Map[Int, Int] = {
      val byName = index.layers.groupBy(_.config.gname)
      index.layers.map(l =>
        l.config.idx -> byName(l.config.gname).map(_.config.idx).min).toMap
    }
    val leadMeta = call.barrier("context_rank") {
      leadRows.where(col("kind") === 2)
        .select(col("query_id"), col("position").as("sub"),
          col("idx").as("lead_idx"), col("lon"), col("lat"),
          coalesce(element_at(col("allTypes"), -1), lit("")).as("maxtype"))
    }
    val ctxCands = Reverse.candidates(
      leadMeta.select(col("query_id"), col("sub"), col("lon"), col("lat")),
      index, distanceMode = false, radiusMiles = 0.0,
      matchedDf = Some(matchedSets), allowedIdxs = Some(call.wvIdxs))
    val metaDs = leadMeta.select(col("query_id"), col("sub"),
      col("lead_idx"), col("maxtype")).as[CtxMeta]
    val ctxPaired = ctxCands
      .joinWith(metaDs, ctxCands("query_id") === metaDs("query_id") &&
        ctxCands("sub") === metaDs("sub"))
      .filter(p => p._1.idx < byNameFirstIdx.getOrElse(p._2.lead_idx, p._2.lead_idx))
    val ctxStacked = PerQuery.kernel(ctxPaired, "_1.query_id", "_1.sub") {
        (key: (Long, Int), it: Iterator[(Reverse.CandRow, CtxMeta)]) =>
        val (qid, pos) = key
        val v = it.toVector
        val maxtype = v.head._2.maxtype
        val rows = v.map(_._1)
        val picks = rows.groupBy(_.idx).toVector.sortBy(_._1)
          .flatMap { case (_, rs) =>
            Reverse.pickPerIdx(Reverse.rankCap(rs, Reverse.ContextModeLimit),
              scoreMode = false, scoreModeEnabled = false, None, None)
          }
        Reverse.stackMemo(picks, Reverse.StackOpts(maxtype = maxtype))
          .map(s => CtxOut(qid, pos, s.cand.idx, s.cand.feature_id,
            s.cand.text, s.cand.score, s.cand.center_lon, s.cand.center_lat,
            s.cand.langTexts, s.claimedType, s.order)).iterator
      }.toDF()
    val contextRows = ctxStacked
        .select(col("query_id"), col("position"), lit(1).as("kind"),
          (col("idx").cast("long") * (1L << 25) +
            pmod(abs(col("feature_id")), lit(1L << 24))).as("tmpid"),
          col("idx"), lit(0).as("mask"), lit(0.0).as("relev"),
          col("text"), lit(0).as("zoom"), lit(0.0).as("smRelev"),
          lit(0.0).as("scoredist"), col("feature_id").as("featureId"),
          col("center_lon").as("lon"), col("center_lat").as("lat"),
          ctxDisplay.as("display"),
          lit("").as("number"), col("text").as("fullText"),
          col("score").as("fscore"),
          lit(-1).as("addressPos"), lit(false).as("fromCluster"),
          lit(false).as("interpolated"), lit(false).as("omitted"),
          lit(0).as("pos"), lit("").as("matchingText"),
          map().cast("map<string,string>").as("overrides"),
          lit(true).as("langOk"), lit("").as("routablePoints"),
          coalesce(col("lang_texts"),
            map().cast("map<string,string>")).as("langTexts"),
          lit(0).as("phraseHash"),
          col("ctyp"), col("corder"),
          lit(array()).cast("array<string>").as("allTypes"),
          lit(0).as("vorder"), lit(0).as("cpos"))

    val tagged = coverRows.unionByName(leadRows).unionByName(contextRows)
      .unionByName(setsRows)
      .as[VRowT]

    // templating context: user-supplied inline helpers + the active
    // worldview ride into the formatting closures (reference
    // opts.formatHelpers / getPlaceName's renderObj.worldview)
    val formatHelpers = opts.formatHelpers
    val worldviewName = call.worldview
    val allowDupes = opts.allowDupes
    val limitVerify = opts.limitVerify
    val proximity = opts.proximity
    val layersBc = call.layersBc
    // hard cap 10 (reference geocode.js:340)
    val limit = math.min(opts.limit, 10)
    val finals = PerQuery.kernel(tagged, "query_id") {
        (qid: Long, it: Iterator[VRowT]) =>
      val (cfgs, ndxs) = layersBc.value
      // idx-keyed config lookups, built once per query group (not
      // collectFirst per row)
      val cfgByIdx: Map[Int, (String, LayerConfig)] =
        cfgs.map { case (name, (c, _)) => c.idx -> ((name, c)) }
      def ndxOf(idx: Int): Int =
        cfgByIdx.get(idx).map { case (name, _) => ndxs(name) }.getOrElse(idx)
      def typFmtOf(idx: Int): (String, String) =
        cfgByIdx.get(idx).map { case (_, c) => (c.typ, c.geocoderFormat) }
          .getOrElse(("", ""))
      def flagsOf(idx: Int): (Boolean, Boolean, Boolean) =
        cfgByIdx.get(idx).map { case (_, c) =>
          (c.geocoderInheritScore, c.geocoderGrantScore, c.geocoderIgnoreOrder) }
          .getOrElse((false, true, false))
      val rows = it.toVector
      // loose sets (kind 3): best cover per tmpid over ALL spatialmatches
      val setsCovers = rows.filter(_.kind == 3).map(r =>
        VerifyRank.VCover(r.tmpid, r.idx, r.mask, r.relev, r.text, r.zoom,
          r.phraseHash))
      val loose = VerifyRank.looseSets(setsCovers)
      val byPos = rows.filter(_.kind != 3).groupBy(_.position)
      val vresults = byPos.toVector.sortBy(_._1).flatMap { case (posn, rs) =>
        // spatialmatch cover order (pos) — covers.head is the lead cover
        val covers = rs.filter(_.kind == 0).sortBy(_.pos).map(r =>
          VerifyRank.VCover(r.tmpid, r.idx, r.mask, r.relev, r.text, r.zoom,
            r.phraseHash))
        val leadOpt = rs.find(_.kind == 2)
        leadOpt.map { lead =>
          // override:{type} substitution (verifymatch.js:597-631): the lead's
          // override prop replaces a context element's text; the replaced
          // element no longer matches any cover (no tmpid). The CHUNK-scoped
          // peer bumps are resolved inside VerifyRank.rankChunk from the
          // applied (type, override) list collected here.
          val applied = Vector.newBuilder[(String, String)]
          // R8: context order is the stackFeatures claim order (corder),
          // fine->coarse, not plain idx order (shifting can reorder)
          val ctx: Vector[(VRowT, Boolean)] =
            rs.filter(_.kind == 1).sortBy(_.corder).map { r =>
              // override:{type} keys on the SOURCE type (verifymatch.js:598)
              val typ = typFmtOf(r.idx)._1
              lead.overrides.get(typ) match {
                case Some(ov) if r.fullText != ov =>
                  applied += ((typ, ov))
                  (r.copy(display = ov.split(",")(0).trim, fullText = ov,
                    fscore = 0.0, featureId = lead.featureId), true)
                case _ => (r, false)
              }
            }.toVector
          val context = {
            val (li, lg, lo) = flagsOf(lead.idx)
            VerifyRank.VCtx(lead.tmpid, lead.idx, ndxOf(lead.idx),
              lead.display, ignoreOrder = lo, fullText = lead.fullText,
              score = lead.fscore, inheritScore = li, grantScore = lg,
              langTexts = lead.langTexts) +:
              ctx.map { case (r, replaced) =>
                val (ci, cg, cio) = flagsOf(r.idx)
                // replaced elements carry no cover identity (tmpid/idx -1)
                VerifyRank.VCtx(if (replaced) -1L else r.tmpid,
                  if (replaced) -1 else r.idx, ndxOf(r.idx), r.display,
                  ignoreOrder = cio, fullText = r.fullText, score = r.fscore,
                  inheritScore = ci, grantScore = cg, langTexts = r.langTexts)
              }
          }
          // O1: geocoder_format template of the lead layer, else the
          // default "number name, name..." join (format-features.js:50-112).
          // place_name is always built with matched=false (format-features
          // .js:162); the recovered matching_text is a SEPARATE output field
          // (matching_place_name uses it, place_name never does).
          // extid type: lead = last of carmen:types (verifymatch.js:476-478),
          // context = the type it CLAIMED in stackFeatures (context.js:211)
          val leadTyp =
            if (lead.allTypes.nonEmpty) lead.allTypes.last
            else typFmtOf(lead.idx)._1
          def ctxTyp(r: VRowT): String =
            if (r.ctyp.nonEmpty) r.ctyp else typFmtOf(r.idx)._1
          val ctxFeats = FormatPlace.CtxFeat(leadTyp, lead.display, lead.number) +:
            ctx.map { case (r, _) =>
              FormatPlace.CtxFeat(ctxTyp(r), r.display, r.number) }.toVector
          // template precedence (format-features.js getFormatString):
          // feature carmen:format_{lang} > feature carmen:format >
          // source geocoder_format_{lang} > source geocoder_format
          def templateFor(lang: Option[String]): String = {
            val featFormats = lead.overrides.collect {
              case (k, v) if k.startsWith("carmen:format") =>
                k.stripPrefix("carmen:format").stripPrefix("_") -> v
            }
            val layerCfg = cfgByIdx.get(lead.idx).map(_._2)
            val layerFormats = layerCfg.map(_.geocoderFormats).getOrElse(Map.empty)
            def langPick(m: Map[String, String]): Option[String] = lang.flatMap { l =>
              ClosestLang.closestLangLabel(l.replace("-", "_"),
                m.keys.filter(_.nonEmpty).toVector.sorted).flatMap(m.get)
            }
            // getFormatString guard (format-features.js:21-36): the source's
            // language template applies only when some context member has
            // text in (something close to) the queried language
            val anyLangText = lang.exists { l =>
              val ll = l.replace("-", "_")
              (lead.langTexts +: ctx.map(_._1.langTexts)).exists(lts =>
                ClosestLang.closestLangLabel(ll,
                  lts.keys.toVector.sorted).isDefined)
            }
            langPick(featFormats).orElse(featFormats.get(""))
              .orElse(if (anyLangText) langPick(layerFormats) else None)
              .getOrElse(typFmtOf(lead.idx)._2)
          }
          val placeName = FormatPlace.placeName(ctxFeats,
            templateFor(language), formatHelpers, worldviewName)
          // multi-language request: place_name per requested language, each
          // with language-selected member text and that language's template
          val placeNames: Map[String, String] =
            if (requestedLangs.size < 2) Map.empty
            else {
              def disp(fullText: String, lts: Map[String, String], lang: String): String =
                ClosestLang.getText(Some(lang),
                  ("carmen:text" -> fullText) +: lts.toVector.sortBy(_._1)
                    .map { case (k, v) => ("carmen:text_" + k) -> v })._1
              requestedLangs.map { lang =>
                val feats = FormatPlace.CtxFeat(leadTyp,
                  disp(lead.fullText, lead.langTexts, lang), lead.number) +:
                  ctx.map { case (r, _) => FormatPlace.CtxFeat(ctxTyp(r),
                    disp(r.fullText, r.langTexts, lang), r.number) }.toVector
                lang -> FormatPlace.placeName(feats,
                  templateFor(Some(lang)), formatHelpers, worldviewName)
              }.toMap
            }
          // matching_place_name (format-features.js:162-183 matched=true):
          // each member whose tmpid is in the query's cover sets recovers
          // the synonym it matched; assembled only when some member (lead
          // or context) actually matched a non-display synonym
          val matchingPlaceName: String = {
            def memberMatch(r: VRowT): Option[String] =
              loose.get(r.tmpid).flatMap { c =>
                FormatPlace.getMatchingText(language, r.fullText, r.langTexts,
                  matchesLanguage = true, c.phraseHash, c.text,
                  cfgByIdx.get(r.idx).map(_._2.categories).getOrElse(Set.empty))
              }
            val leadMatch = Option(lead.matchingText).filter(_.nonEmpty)
            val ctxMatches = ctx.map { case (r, _) => memberMatch(r) }
            if (leadMatch.isEmpty && ctxMatches.forall(_.isEmpty)) ""
            else {
              val feats = FormatPlace.CtxFeat(leadTyp,
                leadMatch.getOrElse(lead.display), lead.number) +:
                ctx.zip(ctxMatches).map { case ((r, _), m) =>
                  FormatPlace.CtxFeat(ctxTyp(r), m.getOrElse(r.display), r.number)
                }.toVector
              FormatPlace.placeName(feats, templateFor(language),
                formatHelpers, worldviewName)
            }
          }
          // O2 address-unique dedupe key (format-features.js:320-374):
          // cover texts + context extids; skipped for short address queries
          // ("100 ma"-style autocomplete) to avoid over-deduping
          val shortAddress = covers.headOption.exists(c =>
            shortAddressPattern.matcher(c.text).matches())
          // the key applies to every address-layer lead: street fallbacks
          // carry carmen:address=null, which the reference treats as SET
          // (format-features.js:270 `!== undefined`), so same-cover-text
          // streets dedupe (geocode-unit.duplicate-address)
          val isAddrLead = cfgByIdx.get(lead.idx).exists(_._2.geocoderAddress)
          val addrKey =
            if (isAddrLead && !shortAddress) {
              val coverTexts = covers.map(" " + _.text).mkString
              val ctxIds = ctx.map { case (r, _) =>
                s"${ctxTyp(r)}.${r.featureId}" }
              Some("_" + (coverTexts +: ctxIds).mkString(":"))
            } else None
          // chunk ghost-dedupe text: the language-selected full text
          // (verifymatch.js:662-665)
          val dedupeText =
            if (language.isEmpty || lead.langTexts.isEmpty) lead.fullText
            else ClosestLang.closestLangLabel(
                language.get.replace("-", "_"),
                lead.langTexts.keys.toVector.sorted)
              .flatMap(lead.langTexts.get).getOrElse(lead.fullText)
          (VerifyRank.VResult(posn, lead.smRelev, lead.scoredist,
            covers.toVector, context, lead.featureId, ndxOf(lead.idx),
            addressNull = lead.number.isEmpty,
            ghost = lead.fscore < 0,
            hasAddress = lead.number.nonEmpty, addressPos = lead.addressPos,
            fromCluster = lead.fromCluster, interpolated = lead.interpolated,
            omitted = lead.omitted, appliedOverrides = applied.result(),
            leadType = typFmtOf(lead.idx)._1, leadScore = lead.fscore,
            dedupeText = dedupeText, sortPos = lead.cpos,
            addressOrder = cfgByIdx.get(lead.idx)
              .map(_._2.geocoderAddressOrder).getOrElse("ascending")),
            Meta(placeName, lead.featureId, lead.lon, lead.lat, lead.idx,
              lead.number, lead.omitted, lead.interpolated, addrKey,
              lead.matchingText, lead.fullText, lead.fscore, lead.langOk,
              lead.routablePoints,
              if (lead.allTypes.nonEmpty) lead.allTypes else
                Seq(typFmtOf(lead.idx)._1),
              placeNames = placeNames,
              matchingPlaceName = matchingPlaceName),
            lead.vorder)
        }
      }
      val meta = vresults.map { case (vr, m, _) => vr.position -> m }.toMap
      // V14 context-phase chunk machine (verifymatch.js:56-66, 264-331):
      // chunks of limitVerify in verified order through the chunk-scoped
      // verifyContexts, accumulating until limitVerify good contexts or
      // MAX_CONTEXTS_LIMIT results, then the final sortContext + slice +
      // relevance clamp
      val ordered = vresults.sortBy(_._3)
      var acc = Vector.empty[(VerifyRank.Verified, Double)]
      var good = 0
      var batch = ordered.take(limitVerify)
      var backfill = ordered.drop(limitVerify)
      var ctxDone = batch.isEmpty
      while (!ctxDone) {
        val chunkOut = VerifyRank.rankChunk(batch.map(_._1), loose,
          proximity.isDefined)
        acc ++= chunkOut
        if (backfill.isEmpty) ctxDone = true
        else {
          good += chunkOut.count(p => p._1.relevance >= p._1.smRelev)
          if (good <= limitVerify && acc.length < MaxContextsLimit) {
            batch = backfill.take(limitVerify)
            backfill = backfill.drop(limitVerify)
          } else ctxDone = true
        }
      }
      // the verifymatch result: final sortContext, limit_verify slice,
      // relevance clamp (verifymatch.js:292-297); the ghost-text dedupe
      // already ran per chunk inside rankChunk, and featureAllowed /
      // languageMode=strict filtering ran in the feature phase
      val ranked = VerifyRank.sortAll(acc).take(limitVerify)
        .map { case (v, _) => v.copy(relevance = math.min(v.relevance, 1.0)) }
      // O2 dedupe with preference (format-features.js:267-299): dedupe by
      // place_name + address-unique key; an omitted/interpolated result is
      // replaced by a non-omitted/non-interpolated duplicate; a street
      // fallback never replaces a resolved address
      val byKey = scala.collection.mutable.HashMap.empty[String, Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(VerifyRank.Verified, Meta)]
      ranked.foreach { v =>
        val m = meta(v.position)
        val keys = m.placeName +: m.addrKey.toVector
        // allow_dupes skips the O2 dedupe (format-features.js:267)
        (if (allowDupes) None
         else keys.iterator.flatMap(byKey.get(_)).nextOption()) match {
          case Some(i) =>
            val (_, pm) = out(i)
            if (pm.number.nonEmpty && m.number.isEmpty) ()
            else if (pm.omitted && !m.omitted) out(i) = (v, m)
            else if (pm.interpolated && !m.interpolated) out(i) = (v, m)
          case None =>
            keys.foreach(k => byKey(k) = out.length)
            out += ((v, m))
        }
      }
      val resorted =
        if (out.length != ranked.length) out.sortBy(-_._1.relevance) else out
      resorted.iterator.take(limit).zipWithIndex.map { case ((v, m), i) =>
        FinalRow(qid, i + 1, v.relevance, v.scoredist, m.placeName, m.fid,
          m.lon, m.lat, m.leadIdx, m.matchingText, m.routablePoints,
          if (m.leadTypes.nonEmpty) m.leadTypes.last
          else typFmtOf(m.leadIdx)._1,
          place_names = m.placeNames,
          matching_place_name = m.matchingPlaceName)
      }
    }

    // materialized before the sort: the range partitioner's sampling job
    // then reads the checkpoint instead of running the kernel a second time
    call.barrier("context_rank", count = "results") {
      finals.toDF()
        .select(col("query_id"), col("rank"), col("relev"), col("scoredist"),
          col("place_name"), col("feature_id"), col("center_lon"),
          col("center_lat"), col("lead_idx"), col("matching_text"),
          col("routable_points"), col("place_type"), col("place_names"),
          col("matching_place_name"))
    }.orderBy(col("query_id"), col("rank"))
  }
}
