package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.model._

/** Context assembly and re-rank (reference verifymatch.js:264-331,
  * 542-548, context.js, format-features.js) in one per-query kernel: each
  * verified lead's context stack out of the [[Reverse.candidates]] tile
  * lookup at its center, then the per-query context-phase chunk machine,
  * strict/loose re-rank, dedupe and formatting.
  */
object ContextRank {

  // reference lib/constants.js:23-25
  val MaxContextsLimit = 20       // max contexts loaded to get limitVerify good ones

  /** The kernel input, keyed on `query_id`: exactly one part is set — a
    * spatialmatch result (rank 0 is the loose `sets` row), a verified lead,
    * or a context-fill tile candidate at a lead's center (`sub` is the
    * lead's position).
    */
  final case class QueryPart(query_id: Long, result: Spatialmatch.ResultRow,
                             lead: Verifymatch.LeadOut, cand: Reverse.CandRow)

  /** One stacked context element of a lead: its claimed type (R8) and the
    * text the re-rank and the formatter read.
    */
  private final case class Ctx(tmpid: Long, idx: Int, display: String,
                               fullText: String, fscore: Double,
                               featureId: Long, langTexts: Map[String, String],
                               ctyp: String)

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

  /** The first synonym of a comma-joined text with U+0020 stripped from
    * both ends — Spark's `trim(substring_index(text, ",", 1))`, which
    * `String.trim` (every char <= U+0020) is not.
    */
  private def firstSynonym(text: String): String = {
    val comma = text.indexOf(',')
    val first = if (comma < 0) text else text.substring(0, comma)
    var s = 0
    var e = first.length
    while (s < e && first.charAt(s) == ' ') s += 1
    while (e > s && first.charAt(e - 1) == ' ') e -= 1
    first.substring(s, e)
  }

  /** The formatted, ranked forward output of the spatialmatch `results`
    * ([[Spatialmatch.run]]) and the [[Verifymatch]] leads.
    */
  private[query] def run(call: Forward.Call, results: DataFrame,
                         leadOut: DataFrame): DataFrame = {
    val spark = call.spark
    import spark.implicits._
    val index = call.index
    val opts = call.opts
    // context fill: reverse lookup of every verified lead's center in the
    // layers it may take context from (R4/R5)
    val cands = Reverse.candidates(
      leadOut.select(col("query_id"), col("position").as("sub"), col("lon"),
        col("lat")),
      index, distanceMode = false, radiusMiles = 0.0,
      allowedIdxs = Some(call.wvIdxs)).toDF()
    // one row type keyed on query_id: each input fills its own part, the
    // other parts are typed nulls
    val inputs = Seq(("result", results, "queryId"),
      ("lead", leadOut, "query_id"), ("cand", cands, "query_id"))
    val parts = inputs.map { case (name, df, qid) =>
      df.select(col(qid).as("query_id") +: inputs.map { case (n, d, _) =>
        (if (n == name) struct(d.columns.map(col): _*)
         else lit(null).cast(d.schema)).as(n)
      }: _*)
    }.reduce(_ unionByName _).as[QueryPart]

    // O1: context display text is language-selected (format-features.js:93)
    val requestedLangs = call.requestedLangs
    val language = requestedLangs.headOption
    // maxidx (verifymatch.js:542-548): context comes from layers coarser
    // than the lead's name-group firstidx
    val byNameFirstIdx: Map[Int, Int] = {
      val byName = index.layers.groupBy(_.config.gname)
      index.layers.map(l =>
        l.config.idx -> byName(l.config.gname).map(_.config.idx).min).toMap
    }
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
    val finals = PerQuery.kernel(parts, "query_id") {
        (qid: Long, it: Iterator[QueryPart]) =>
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
      val results = Vector.newBuilder[Spatialmatch.ResultRow]
      val leads = Vector.newBuilder[Verifymatch.LeadOut]
      val cands = Vector.newBuilder[Reverse.CandRow]
      it.foreach { p =>
        if (p.result != null) results += p.result
        else if (p.lead != null) leads += p.lead
        else cands += p.cand
      }
      val coversByRank = results.result().map(r => r.rank -> r.covers).toMap
      def vcover(c: Spatialmatch.CoverRow, relev: Double): VerifyRank.VCover =
        VerifyRank.VCover(c.tmpid, c.idx, c.mask, relev, c.text, c.zoom,
          c.phraseHash)
      // loose sets (rank 0): best cover per tmpid over ALL spatialmatches
      val loose = VerifyRank.looseSets(
        coversByRank.getOrElse(0, Nil).map(c => vcover(c, c.relev)))
      // the query's matched set (the reference's `sets`): every result
      // cover's tmpid — context candidates in it take the forward-
      // phrasematch pick priority (R4/R5)
      val matchedSet: Set[Long] =
        coversByRank.valuesIterator.flatMap(_.map(_.tmpid)).toSet
      val candsBySub = cands.result().groupBy(_.sub)
      val vresults = leads.result().sortBy(_.position).map { lead =>
        val posn = lead.position
        // spatialmatch cover order (pos) — covers.head is the lead cover,
        // which takes the street-fallback penalty when its address number
        // failed to resolve
        val covers = coversByRank.getOrElse(posn, Nil).zipWithIndex.map {
          case (c, pos) =>
            vcover(c, if (pos == 0 && lead.addrPenalty) c.relev * 0.99 else c.relev)
        }
        // the context stack (R8, context.js:116-254): one pick per layer
        // coarser than the lead's name-group firstidx, then stackFeatures
        // with the lead's last carmen:type as maxtype
        val maxidx = byNameFirstIdx.getOrElse(lead.idx, lead.idx)
        val picks = candsBySub.getOrElse(posn, Vector.empty)
          .filter(_.idx < maxidx)
          .map(c => c.copy(matched = matchedSet.contains(c.tmpid)))
          .groupBy(_.idx).toVector.sortBy(_._1)
          .flatMap { case (_, rs) =>
            Reverse.pickPerIdx(Reverse.rankCap(rs, Reverse.ContextModeLimit),
              scoreMode = false, scoreModeEnabled = false, None, None)
          }
        val stacked = Reverse.stackMemo(picks,
          Reverse.StackOpts(maxtype = lead.leadTypes.lastOption.getOrElse("")))
        // override:{type} substitution (verifymatch.js:597-631): the lead's
        // override prop replaces a context element's text; the replaced
        // element no longer matches any cover (no tmpid). The CHUNK-scoped
        // peer bumps are resolved inside VerifyRank.rankChunk from the
        // applied (type, override) list collected here.
        val applied = Vector.newBuilder[(String, String)]
        // R8: context order is the stackFeatures claim order, fine->coarse,
        // not plain idx order (shifting can reorder)
        val ctx: Vector[(Ctx, Boolean)] = stacked.map { s =>
          val c = s.cand
          val r = Ctx(c.tmpid, c.idx,
            if (language.isEmpty) firstSynonym(c.text)
            else ClosestLang.displayText(language, c.text, c.langTexts),
            c.text, c.score, c.feature_id, c.langTexts, s.claimedType)
          // override:{type} keys on the SOURCE type (verifymatch.js:598)
          val typ = typFmtOf(r.idx)._1
          lead.overrides.get(typ) match {
            case Some(ov) if r.fullText != ov =>
              applied += ((typ, ov))
              (r.copy(display = ov.split(",")(0).trim, fullText = ov,
                fscore = 0.0, featureId = lead.featureId), true)
            case _ => (r, false)
          }
        }
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
          if (lead.leadTypes.nonEmpty) lead.leadTypes.last
          else typFmtOf(lead.idx)._1
        def ctxTyp(r: Ctx): String =
          if (r.ctyp.nonEmpty) r.ctyp else typFmtOf(r.idx)._1
        val ctxFeats = FormatPlace.CtxFeat(leadTyp, lead.display, lead.number) +:
          ctx.map { case (r, _) =>
            FormatPlace.CtxFeat(ctxTyp(r), r.display, "") }.toVector
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
            requestedLangs.map { lang =>
              val feats = FormatPlace.CtxFeat(leadTyp, ClosestLang.displayText(
                Some(lang), lead.fullText, lead.langTexts), lead.number) +:
                ctx.map { case (r, _) => FormatPlace.CtxFeat(ctxTyp(r),
                  ClosestLang.displayText(Some(lang), r.fullText, r.langTexts),
                  "") }.toVector
              lang -> FormatPlace.placeName(feats,
                templateFor(Some(lang)), formatHelpers, worldviewName)
            }.toMap
          }
        // matching_place_name (format-features.js:162-183 matched=true):
        // each member whose tmpid is in the query's cover sets recovers
        // the synonym it matched; assembled only when some member (lead
        // or context) actually matched a non-display synonym
        val matchingPlaceName: String = {
          def memberMatch(r: Ctx): Option[String] =
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
                FormatPlace.CtxFeat(ctxTyp(r), m.getOrElse(r.display), "")
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
            if (lead.leadTypes.nonEmpty) lead.leadTypes else
              Seq(typFmtOf(lead.idx)._1),
            placeNames = placeNames,
            matchingPlaceName = matchingPlaceName),
          lead.vorder)
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
