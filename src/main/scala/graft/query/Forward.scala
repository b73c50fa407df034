package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.CarmenIndex
import graft.model._

/** Batch forward geocode: a Dataset of queries joined against the phrase
  * index, then per-query stack+coalesce+format. This is the geocode-join:
  * the throughput metric's unit of work.
  *
  * Stages (mirrors reference lib/geocoder/geocode.js:341-493):
  *  1. tokenize + per-layer-group token replacement + subquery window
  *     enumeration (flatMap; pure port). Address-capable groups add
  *     numTokenized and intersection permutations
  *     (reference phrasematch.js:176-260)
  *  2. phrasematch: subqueries x postings equi-join (exact) + bounded
  *     prefix-key equi-join (autocomplete) + symmetric-delete fuzzy join
  *  3. per-query spatialmatch (stackable + coalesce + rebalance) in
  *     flatMapGroups — distributes over queries; grids per query are bounded
  *     by the same caps as the reference
  *  4. verify + format: lead covers joined to features, address-cluster/ITP
  *     resolution (reference verifymatch.js:397-492), reverse-context fill,
  *     per-query strict/loose re-rank
  */
object Forward {

  // reference lib/constants.js:23-25
  val VerifymatchMaxFeatures = 50 // max spatialmatches loaded to fill stackLimit
  val MaxContextsLimit = 20       // max contexts loaded to get limitVerify good ones

  /** Speculative feature-load cap. The reference loads features
    * SEQUENTIALLY in chunks (verifymatch.js:85-227), stopping at 50 loads;
    * this engine replaces the sequential loads with ONE batch equi-join of
    * every spatialmatch the chunk machine could ever reach, then replays
    * the exact chunk state machine per query with all loads in hand. The
    * machine can reach past the first 50 candidates only via deferred
    * partial-number entries (verifymatch.js:203-212), so 70 bounds 50
    * loads plus a full chunk of deferrals; at cluster scale one wide join
    * beats up to four narrow sequential join rounds.
    */
  val SpeculativeLoadLimit = 70

  final case class Options(
      limit: Int = 5,
      autocomplete: Boolean = true,
      fuzzy: Boolean = true,
      proximity: Option[(Double, Double)] = None,
      // V14 verify chunking (reference verifymatch.js:36-331): limitVerify
      // is the reference's limit_verify (context chunk size + final result
      // slice), stackLimit its verifymatch_stack_limit (the verified-
      // feature target the feature-phase backfill loop fills toward)
      limitVerify: Int = 10,
      stackLimit: Int = 20,
      language: Option[String] = None,
      languageMode: String = "",                      // F3 "strict" filter
      types: Seq[String] = Nil,                       // F2/F3 layer-type filter (+subtypes)
      stacks: Seq[String] = Nil,                      // F2 country-stack filter
      bbox: Option[(Double, Double, Double, Double)] = None, // F4/F5 (W,S,E,N)
      routing: Boolean = false,                       // V9 routable points
      worldview: String = "",                         // "" = first configured
      // max_correction_length (geocode.js:59, constants.js:22): queries
      // longer than this many tokens get no fuzzy edit budget
      maxCorrectionLength: Int = 8,
      // allow_dupes: skip the O2 place_name/address-unique dedupe
      allowDupes: Boolean = false,
      // spatialmatch_stack_limit (constants.js:21): spatialmatch result cap
      spatialmatchStackLimit: Int = StackCoalesce.SpatialmatchStackLimit,
      // user-supplied inline template helpers for geocoder_format rendering
      // (reference opts.formatHelpers, lib/util/helpers.js); must be
      // serializable — they ship to executors with the format closure
      formatHelpers: Map[String, String => String] = Map.empty
  )

  /** F1 option validation with the reference's error messages
    * (reference lib/geocoder/geocode.js:67-147). None = valid.
    */
  def validateOptions(index: CarmenIndex, opts: Options): Option[String] = {
    if (opts.worldview.nonEmpty && !index.worldviews.contains(opts.worldview))
      return Some("Worldview must be one of " + index.worldviews.mkString(", "))
    val types = index.layers.flatMap(_.config.allTypes).distinct
    val subtypes = index.layers.flatMap(l =>
      l.config.scoreranges.keys.map(s => s"${l.config.typ}.$s")).distinct
    val acceptable = (types ++ subtypes).distinct
    for (t <- opts.types)
      if (!acceptable.contains(t))
        return Some(s"""Type "$t" is not a known type. Must be one of: ${acceptable.mkString(", ")}""")
    val knownStacks = index.layers.flatMap(_.config.stack).distinct
    for (s0 <- opts.stacks) {
      val s = s0.toLowerCase
      if (!knownStacks.contains(s))
        return Some(s"""Stack "$s" is not a known stack. Must be one of: ${knownStacks.mkString(", ")}""")
    }
    for ((lon, lat) <- opts.proximity) {
      if (lon.isNaN || lon < -180 || lon > 180)
        return Some("Proximity lon value must be a number between -180 and 180")
      if (lat.isNaN || lat < -90 || lat > 90)
        return Some("Proximity lat value must be a number between -90 and 90")
    }
    for (l0 <- opts.language) {
      // comma-separated request list (reference geocode.js:103-124)
      val langs = l0.split(",").map(_.trim).filter(_.nonEmpty)
      if (langs.length > 20)
        return Some("options.language should be a list of no more than 20 languages")
      if (langs.distinct.length != langs.length)
        return Some("options.language should be a list of unique language codes")
      for (l <- langs)
        if (!ClosestLang.hasLanguage(l.replace("-", "_")))
          return Some(s"'$l' is not a valid language code")
    }
    if (opts.languageMode.nonEmpty && opts.languageMode != "strict")
      return Some(s"'${opts.languageMode}' is not a valid language mode")
    for ((w, s, e, n) <- opts.bbox) {
      if (w.isNaN || w < -180 || w > 180)
        return Some("BBox minX value must be a number between -180 and 180")
      if (s.isNaN || s < -90 || s > 90)
        return Some("BBox minY value must be a number between -90 and 90")
      if (e.isNaN || e < -180 || e > 180)
        return Some("BBox maxX value must be a number between -180 and 180")
      if (n.isNaN || n < -90 || n > 90)
        return Some("BBox maxY value must be a number between -90 and 90")
      if (w > e) return Some("BBox minX value cannot be greater than maxX value")
      if (s > n) return Some("BBox minY value cannot be greater than maxY value")
    }
    None
  }

  /** Query-side fuzzy variant row. The address fields ride along so the
    * edit budget covers address/intersection permutation windows too
    * (reference fuzzyMatchMulti, phrasematch.js:183-296).
    */
  final case class FuzzVar(queryId: Long, subquery: String, mask: Int,
                           ender: Boolean, weight: Double, qlen: Int,
                           qsig: String, variant: String,
                           addrPos: Int, addrNum: String,
                           numberOrder: String)

  /** Query-side fuzzy-PREFIX variant row (autocomplete ender windows):
    * carries the ending type so the residual verify can demand whole-word
    * completion for wordBoundaryPrefix endings.
    */
  final case class FuzzPfxVar(queryId: Long, subquery: String, mask: Int,
                              weight: Double, qlen: Int, qsig: String,
                              variant: String, addrPos: Int, addrNum: String,
                              numberOrder: String, wordBoundary: Boolean)

  private val phraseDistUdf = udf((q: String, c: String) =>
    Fuzzy.phraseDistance(q, c).getOrElse(-1))
  private val penaltyUdf = udf((original: String, ed: Int) =>
    Fuzzy.editPenalty(original, ed))
  /** Residual fuzzy-prefix verify: (edit, corrected cover text) or null. */
  private val fuzzyPrefixUdf = udf(
    (q: String, p: String, wordBoundary: Boolean) =>
      Fuzzy.fuzzyPrefixMatch(q, p, wordBoundary))

  final case class FuzzPfxKeep(phrase: String, edit: Int, corrected: String)

  /** Array kernel over a grouped deletes hit: the phrases whose vtext is
    * within exactly one DL edit of the window text, deduped (several vtexts
    * may map to one phrase; the edit is 1 by construction, so the phrase
    * alone identifies the output row).
    */
  private val fuzzyKeepUdf = udf((q: String, cands: Seq[org.apache.spark.sql.Row]) => {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    cands.foreach { r =>
      val vt = r.getString(0)
      if (vt != q && Fuzzy.phraseDistance(q, vt).contains(1))
        out += r.getString(1)
    }
    out.toSeq
  })

  /** Array kernel over a grouped prefix-deletes hit: the distinct verified
    * (phrase, edit, corrected-window-text) tuples under the word-budgeted
    * fuzzy-prefix match (several vtexts may verify the same phrase with
    * different corrections — all distinct outcomes survive, exactly like
    * the flat join + row verify + distinct).
    */
  private val fuzzyPfxKeepUdf = udf(
    (q: String, wordBoundary: Boolean, cands: Seq[org.apache.spark.sql.Row]) => {
      val out = scala.collection.mutable.LinkedHashSet.empty[FuzzPfxKeep]
      cands.foreach { r =>
        Fuzzy.fuzzyPrefixMatch(q, r.getString(0), wordBoundary).foreach {
          case (ed, corr) => out += FuzzPfxKeep(r.getString(1), ed, corr)
        }
      }
      out.toSeq
    })

  /** Subquery window row. addrPos = -1 when the window carries no masked
    * house number; partial marks a proximity partial-number search. The mask
    * lives in ORIGINAL query-token space (owner-mapped, P2); editDist > 0
    * marks a whitespace-corrected hypothesis whose fuzzy budget is spent.
    */
  final case class SubQ(queryId: Long, subquery: String, mask: Int,
                        ender: Boolean, weight: Double, qlen: Int,
                        addrPos: Int, addrNum: String, partial: Boolean,
                        qsig: String, numberOrder: String, editDist: Int,
                        // wordBoundaryPrefix ending (phrasematch.js:84-92):
                        // the query ends in a separator or a replaced last
                        // word, so ender windows only prefix-match at WHOLE
                        // WORD boundaries
                        wordBoundary: Boolean = false,
                        // query under max_correction_length: fuzzy matching
                        // may spend an edit on this window
                        fuzzyOk: Boolean = true)

  /** One (query window, phrase) match with its grid list — the per-query
    * spatialmatch input (the reference's phrasematch result shape:
    * phrases with grid ranges, not exploded grid rows).
    *
    * Grid layout: two-long packed grids (the pm_join aggregation hot spot
    * measured in SCALING_r4.json: ~56B struct per grid -> 16B in primitive
    * long arrays). A = x(14)<<42 | y(14)<<28 | score3(3)<<25 | id24(25);
    * B = unsigned phraseHash(32)<<2 | relev2(2), relev 0.2-quantized at
    * index time (Phrases.scala enumerate: jsRound(relev*5)/5, >=0.8).
    * The packed form travels INTO the spatialmatch kernels (StackCoalesce
    * gX/gY/gRelev/... accessors decode fields on demand) — zero per-grid
    * allocation in the per-query hot loop; matchesLanguage folds into
    * B bit 34 at flatten time.
    */
  final case class PmPhraseRow(queryId: Long, layer: String, subquery: String,
                               mask: Int, weight: Double, prefix: Boolean,
                               qlen: Int, addrPos: Int, addrNum: String,
                               partial: Boolean, numberOrder: String,
                               fuzzy: Boolean,
                               // dense index phrase id (IndexBuilder S7) —
                               // consumed only as a distinct count per Pm
                               // group, so the row ships a long, not the
                               // phrase string
                               phraseId: Long,
                               // matchesLanguage, resolved in codegen (the
                               // lang_set string never reaches the kernel)
                               ml: Boolean,
                               // primitive arrays: the encoder decodes via
                               // toLongArray (no per-element Long boxing)
                               gridsA: Array[Long], gridsB: Array[Long])

  /** Joined phrasematch grid row (input to per-query spatialmatch). */
  final case class PmRow(queryId: Long, layer: String, subquery: String,
                         mask: Int, weight: Double, prefix: Boolean,
                         qlen: Int, relev: Double, score3: Int,
                         id24: Long, x: Int, y: Int, phraseHash: Int,
                         addrPos: Int, addrNum: String, partial: Boolean,
                         langSet: String, numberOrder: String,
                         phrase: String, fuzzy: Boolean)

  /** Spatialmatch output row: one result with its covers. */
  final case class ResultRow(queryId: Long, rank: Int, relev: Double,
                             scoredist: Double, covers: Seq[CoverRow])
  final case class CoverRow(idx: Int, layer: String, id24: Long, x: Int, y: Int,
                            zoom: Int, relev: Double, score: Double,
                            tmpid: Long, mask: Int, text: String,
                            addrNum: String, partial: Boolean, phraseHash: Int,
                            addrPos: Int, matchesLang: Boolean)

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

  /** One query-side text-processing group: layers sharing geocoder_tokens /
    * address behavior share one enumerated-subquery set.
    */
  final case class QueryGroup(qsig: String, replacers: IndexBuilder.Replacers,
                              geocoderAddress: Boolean, intersectionToken: String)

  private def queryGroups(index: CarmenIndex): Vector[QueryGroup] =
    index.layers.map(_.config).groupBy(_.querySignature).map { case (sig, cfgs) =>
      val c = cfgs.head
      QueryGroup(sig, IndexBuilder.replacersFor(c), c.geocoderAddress,
        c.intersectionToken)
    }.toVector

  private val onlyDigits = java.util.regex.Pattern.compile("^\\d+$")
  private val digitsHash = java.util.regex.Pattern.compile("^[\\d#]+$")
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

  /** T18 whitespace corrector (reference lib/util/whitespace.js): split
    * letters+digits fused tokens ("fake123" -> "fake 123") as a second
    * zero-fuzz hypothesis for address indexes.
    */
  private val numberLetter = java.util.regex.Pattern.compile(
    "^(([A-Za-z\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u00FF]{3,})([0-9]+)|([0-9]+)([A-Za-z\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u00FF]{4,}))$")

  /** T18 whitespace corrector over a TokenizedQuery (reference
    * lib/util/whitespace.js): the split parts stay joined by a space inside
    * ONE token, so normalizeQuery re-splits them under the same owner and
    * the owner-mapped masks land on the original glued token.
    */
  private[graft] def whitespaceCorrectQ(q: TokenizedQuery): Option[TokenizedQuery] = {
    var found = false
    val newTokens = q.tokens.map { t =>
      val m = numberLetter.matcher(t)
      if (m.matches()) {
        found = true
        if (m.group(2) != null) s"${m.group(2)} ${m.group(3)}"
        else s"${m.group(4)} ${m.group(5)}"
      } else t
    }
    if (found) Some(q.copy(tokens = newTokens)) else None
  }

  def subqueries(spark: SparkSession, queries: DataFrame,
                 groups: Vector[QueryGroup],
                 proximityDefined: Boolean,
                 fuzzyEnabled: Boolean = true,
                 maxCorrectionLength: Int = 8): DataFrame = {
    import spark.implicits._
    val groupsBc = spark.sparkContext.broadcast(groups)
    queries.select(col("query_id").cast("long"), col("query").cast("string"))
      .as[(Long, String)]
      .flatMap { case (qid, q) =>
        groupsBc.value.iterator.flatMap { g =>
          val origQ = TextNormalize.tokenize(q)
          val origLen = origQ.tokens.length
          if (origLen == 0) Iterator.empty
          else {
            // hypotheses (reference phrasematch.js:52-77): the base query,
            // plus — for address groups with fuzzy budget — ONE
            // whitespace-corrected hypothesis at initialDistance 1
            val maxDistance =
              if (fuzzyEnabled && origLen <= maxCorrectionLength) 1 else 0
            val hyps: Vector[(TokenizedQuery, Int)] =
              if (g.geocoderAddress && maxDistance > 0)
                whitespaceCorrectQ(origQ) match {
                  case Some(corr) => Vector((origQ, 0), (corr, 1))
                  case None => Vector((origQ, 0))
                }
              else Vector((origQ, 0))
            val tried = scala.collection.mutable.HashSet.empty[(Vector[String], Boolean, Int)]
            hyps.iterator.zipWithIndex.flatMap { case ((hq, initDist), h) =>
              // per-hypothesis text processing (phrasematch.js:79-96): complex
              // replacement, gap masks over the pre-normalization positions,
              // owner-tracked normalization, simple word replacement
              val replaced = TokenReplace.replaceToken(g.replacers.complexQuery, hq)
              val gaps = Phrases.gapMasks(replaced)
              val normalized = TextNormalize.normalizeQuery(replaced)
              val tokens = g.replacers.simple(normalized.tokens)
              // endsInBoundary / lastWord -> wordBoundaryPrefix ending
              // (phrasematch.js:84-92); a simple word replacement of the
              // final term counts as lastWord (the reference preloads word
              // replacements into carmen-core, which tracks the same flag)
              val wordBoundarySep = normalized.lastWord ||
                (normalized.separators.nonEmpty && normalized.separators.last.nonEmpty)
              val lastSimpleReplaced = tokens.nonEmpty &&
                normalized.tokens.nonEmpty && tokens.last != normalized.tokens.last
              val wordBoundaryHyp = wordBoundarySep || lastSimpleReplaced
              if (tokens.isEmpty) Iterator.empty
              else {
                val owner = normalized.owner
                val nlen = tokens.length
                // token runs sharing an owner must be covered whole
                // (requiredMasks/demandWindows, phrasematch.js:190, 224)
                val required = Phrases.requiredMasks(normalized)
                var partial = false
                val perms: Vector[Phrases.Perm] =
                  if (!g.geocoderAddress) Phrases.permutations(tokens, None, all = false)
                  else if (tokens.length > 1) {
                    // housenum-tokenized + intersection perms
                    // (reference phrasematch.js:191-206)
                    var all = Phrases.permutations(tokens, None, all = false)
                    for (v <- AddressTokens.numTokenize(tokens))
                      all = all ++ Phrases.permutations(v.tokens, None, all = false,
                        addressPosition = Some(v.position),
                        addressNumber = Some(v.number))
                    all = AddressTokens.addressPermutations(all)
                    if (g.intersectionToken.nonEmpty)
                      all = all ++ AddressTokens.intersectionPermutations(tokens,
                        g.intersectionToken)
                    all
                  } else if (onlyDigits.matcher(tokens.head).matches() && proximityDefined) {
                    // proximity partial-number search (phrasematch.js:207-217)
                    partial = true
                    var all = Phrases.permutations(tokens, None, all = false)
                    for (v <- AddressTokens.numTokenizePrefix(tokens))
                      all = all ++ Phrases.permutations(v, None, all = false)
                    all
                  } else Phrases.permutations(tokens, None, all = false)
                perms.iterator
                  .filter(p => p.mask != 0 && Phrases.demandWindows(required, p.mask))
                  // no number-only single-token phrases in address indexes
                  // unless partial-number (phrasematch.js:224-226)
                  .filter(p => !g.geocoderAddress || partial || p.terms.length != 1 ||
                    !digitsHash.matcher(p.terms.head).matches())
                  // cross-hypothesis dedupe (alreadyTried, phrasematch.js:228-231)
                  .filter { p =>
                    val key = (p.terms, p.ender, p.mask)
                    val seen = tried.contains(key)
                    tried += key
                    !(h > 0 && seen)
                  }
                  .flatMap { p =>
                    // P1/P2: remap the window mask from normalized-token space
                    // to ORIGINAL query-token space via the owner array
                    // (phrasematch.js:271-283); ender windows reaching the last
                    // normalized token mask out to the original query end
                    val lim = Phrases.findMaskBounds(p.mask, nlen)
                    val maskBegin = owner(lim._1)
                    val origMask =
                      if (p.ender && lim._2 == owner.length - 1)
                        Phrases.buildMask(maskBegin, origLen - maskBegin)
                      else
                        Phrases.buildMask(maskBegin, 1 + owner(lim._2) - maskBegin)
                    // coverGaps (phrasematch.js:536-562): if replacement
                    // removed tokens adjacent to this window, also emit
                    // variants whose masks consume the gap positions
                    val additions = scala.collection.mutable.HashSet(origMask)
                    val masks = origMask +: gaps.flatMap { gm =>
                      if ((gm & origMask) != 0) {
                        val m = gm | origMask
                        if (additions.add(m)) Some(m) else None
                      } else None
                    }
                    val subqText = p.terms.mkString(" ")
                    // the un-replaced final word rides as a SECOND ender
                    // hypothesis: the reference never simple-replaces the
                    // query (fuzzy-phrase knows the word replacements), so
                    // a typed 'fort' both completes to stored 'ft ...' AND
                    // prefixes 'fortenberry ...' (loadWordReplacements,
                    // reference index.js:356)
                    val altText: Option[String] =
                      if (p.ender && lastSimpleReplaced && p.terms.nonEmpty &&
                        p.terms.last == tokens.last)
                        Some((p.terms.dropRight(1) :+ normalized.tokens.last)
                          .mkString(" "))
                      else None
                    masks.iterator.flatMap { m =>
                      // weight = covered original-token span / original query
                      // length (phrasematch.js:324-326), times the edit
                      // penalty when the hypothesis spent fuzz budget
                      val b = Phrases.findMaskBounds(m, TextNormalize.MaxQueryTokens)
                      var weight = (b._2 - b._1 + 1).toDouble / origLen
                      if (initDist > 0) weight *= Fuzzy.editPenalty(subqText, initDist)
                      // partial-number searches resolve with the ORIGINAL
                      // query token (reference verifymatch.js:410 uses
                      // query[0]), not the waffled subquery text
                      val base = SubQ(qid, subqText, m, p.ender, weight, origLen,
                        p.addressPos.map(owner(_)).getOrElse(-1),
                        p.addressNumber.getOrElse(
                          if (partial) tokens.head else ""),
                        partial, g.qsig, p.numberOrder.getOrElse(""), initDist,
                        wordBoundary = wordBoundaryHyp,
                        fuzzyOk = maxDistance > 0)
                      Iterator(base) ++ altText.iterator.map(alt =>
                        base.copy(subquery = alt, wordBoundary = wordBoundarySep))
                    }
                  }
              }
            }
          }
        }
      }.toDF()
  }

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
      else ClosestLang.getText(language,
        ("carmen:text" -> r.fFullText) +: r.fLangTexts.toVector.sortBy(_._1)
          .map { case (k, v) => ("carmen:text_" + k, v) })._1
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

  /** O3 stats surface (reference geocode.js:355-366, 398-450): per-stage
    * wall time and row counts, filled when passed to [[forward]]. The
    * engine's stage boundaries are its eager materialization points, so
    * "phrasematch" covers subquery enumeration, "spatialmatch" the
    * phrasematch joins + per-query coalesce, "verifymatch" the feature
    * join + address resolution, and "context_rank" context fill + re-rank
    * (only measured when `forceOutput`; otherwise the tail stays lazy for
    * the caller).
    */
  final class GeocodeStats(val forceOutput: Boolean = true) {
    val stageSeconds: scala.collection.mutable.LinkedHashMap[String, Double] =
      scala.collection.mutable.LinkedHashMap.empty
    val counts: scala.collection.mutable.LinkedHashMap[String, Long] =
      scala.collection.mutable.LinkedHashMap.empty
    override def toString: String =
      (stageSeconds.map { case (k, v) => f"$k=$v%.3fs" } ++
        counts.map { case (k, v) => s"$k.count=$v" }).mkString(" ")
  }

  private def timed[T](stats: Option[GeocodeStats], stage: String)(f: => T): T =
    stats match {
      case Some(st) =>
        val t0 = System.nanoTime()
        val r = f
        st.stageSeconds(stage) =
          st.stageSeconds.getOrElse(stage, 0.0) + (System.nanoTime() - t0) / 1e9
        r
      case None => f
    }

  def forward(spark: SparkSession, index: CarmenIndex, queries: DataFrame,
              opts: Options = Options(),
              stats: Option[GeocodeStats] = None): DataFrame = {
    import spark.implicits._

    // F1: option validation with reference error messages
    validateOptions(index, opts).foreach(msg =>
      throw new IllegalArgumentException(msg))
    // F2: prune layers by types/stacks up front (reference
    // filter-sources.js:23-57) — a subtype filter ("poi.landmark") keeps
    // layers of the base type whose scoreranges declare the subtype;
    // search joins run on the allowed subset; context fill still sees
    // every layer
    def boundsOf(l: IndexBuilder.LayerIndex): (Double, Double, Double, Double) = {
      val b = l.config.bounds
      if (b.length == 4) (b(0), b(1), b(2), b(3)) else (-180.0, -85.0, 180.0, 85.0)
    }
    // worldview visibility (reference byworldview, index.js:139-153)
    val wvIdxs = index.idxsForWorldview(
      if (opts.worldview.nonEmpty) opts.worldview else index.worldviews.head)
    // phrasematch prunes on stacks + bbox + worldview ONLY (reference
    // phrasematch.js:36-45): type-filtered queries still match context
    // covers in disallowed layers; the types filter applies to the LEAD
    // cover's source at verify (verifymatch.js:191-196) and to the final
    // feature (featureAllowed)
    // maxidx (reference geocode.js:368-394): with a types filter only
    // layers BELOW the highest allowed type idx are searched — parents
    // still contribute context covers, finer layers are never leads
    val searchMaxidx: Int =
      if (opts.types.isEmpty) Int.MaxValue
      else index.layers.filter { l =>
        l.config.allTypes.exists(opts.types.contains) ||
          l.config.scoreranges.keys.exists(st =>
            opts.types.contains(s"${l.config.typ}.$st"))
      }.map(_.config.idx + 1).foldLeft(0)(math.max)
    val allowedLayers = index.layers.filter { l =>
      val stackOk = opts.stacks.isEmpty || l.config.stack.isEmpty ||
        l.config.stack.exists(s => opts.stacks.exists(_.equalsIgnoreCase(s)))
      // F4: skip layers whose source bounds miss the option bbox
      // (phrasematch.js:41-44, AM-crossing aware)
      val bboxOk = opts.bbox.forall(b => Bbox.amIntersect(b, boundsOf(l)))
      stackOk && bboxOk && wvIdxs.contains(l.config.idx) &&
        l.config.idx < searchMaxidx
    }
    val searchIndex =
      if (allowedLayers.length == index.layers.length) index
      else CarmenIndex(allowedLayers)
    val groups = queryGroups(searchIndex)

    // localCheckpoint (not cache): materializes once and truncates lineage
    // without registering with the CacheManager — repeated forward() calls
    // with cache() degrade as every new plan is matched against all
    // previously cached plans (measured 10s -> 27s per call)
    val subs = timed(stats, "phrasematch") {
      subqueries(spark, queries, groups, opts.proximity.isDefined,
        opts.fuzzy, opts.maxCorrectionLength).localCheckpoint()
    }

    // F4/F5: bbox in tile space at the max layer zoom; spatialmatch prunes
    // covers whose ancestor/descendant tiles fall outside
    val tileBbox: Option[(Int, Int, Int, Int, Int)] = opts.bbox.map {
      case (w, s0, e, n) =>
        val z = searchIndex.maxZoom
        def tx(lon: Double) = math.floor((lon + 180.0) / 360.0 * (1 << z)).toInt
        def ty(lat: Double) = {
          val r = math.toRadians(lat)
          math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi)
            / 2.0 * (1 << z)).toInt
        }
        (z, tx(w), ty(n), tx(e), ty(s0))
    }
    val matched = phrasematchJoins(index, searchIndex, subs, opts.autocomplete,
      opts.fuzzy)
    runForward(spark, index, searchIndex, matched, tileBbox, opts, stats)
  }

  /** Phrasematch joins (stage 2): exact + (strict) bounded-prefix-key for
    * autocomplete enders + symmetric-delete fuzzy. The prefix branch
    * equi-joins on bounded-length prefix keys (the distributed analog of
    * the reference's sorted phrase_id_range, docs/index-structure.md:10-12)
    * with a residual startsWith filter — no nested-loop scan.
    */
  private def phrasematchJoins(fullIndex: CarmenIndex, searchIndex: CarmenIndex,
                               subs: DataFrame,
                               autocomplete: Boolean,
                               fuzzy: Boolean): DataFrame = {
    val candAll = candidateBranches(fullIndex, searchIndex, subs, autocomplete,
      fuzzy).map(_._2).reduce(_ unionByName _)
    // Cached pre-partitioned postings (see CarmenIndex.allPostingsQsig):
    // the probe's required (qsig, phrase) distribution is satisfied by the
    // cache layout, so only the NARROW candidate side shuffles per call;
    // the shuffle_hash hint sits on the POSTINGS side, so the hash map is
    // built from the per-partition INDEX segment — bounded by index size /
    // partition count, NOT by the query batch (a candidate-side build
    // OOMs the 8 GiB 50k-query run: the build side must never be the side
    // that scales with queries). No sort of either side (guide §3.1).
    val postings =
      if (searchIndex.layers.length == fullIndex.layers.length)
        fullIndex.allPostingsQsig
      else fullIndex.allPostingsQsig.where(col("layer")
        .isInCollection(searchIndex.layers.map(_.config.name)))
    postings.hint("shuffle_hash").join(candAll, Seq("qsig", "phrase"))
      .drop("qsig")
  }

  /** The labeled candidate branches of [[phrasematchJoins]] (exposed for
    * stage attribution probes).
    */
  private[graft] def candidateBranches(fullIndex: CarmenIndex,
                                       searchIndex: CarmenIndex, subs: DataFrame,
                                       autocomplete: Boolean,
                                       fuzzy: Boolean): Vector[(String, DataFrame)] = {
    val spark = subs.sparkSession
    import spark.implicits._
    // Per-qsig MERGED candidate tables, cached on the stable full index
    // (one row per join key across sibling layers — the per-query
    // sibling-layer dedupe shuffle never exists). Restricting to the
    // allowed layers' qsigs keeps the probe minimal; phrases that only
    // exist in pruned layers die in the postings inner join.
    val qsigs = searchIndex.layers.map(_.config.querySignature).distinct
    def byQsig(pick: ((DataFrame, DataFrame, DataFrame)) => DataFrame): DataFrame =
      qsigs.map(q => pick(fullIndex.candByQsig(q))).reduce(_ unionByName _)
    // Exact, prefix and fuzzy matching produce one unified small CANDIDATE
    // table keyed (qsig, phrase) and the posting grids load with ONE probe
    // of the postings union — a third of the scan volume of three separate
    // joins (the postings union is the big side; candidates broadcast).
    val candCols = Seq("qsig", "phrase", "queryId", "subquery", "mask",
      "weight", "qlen", "addrPos", "addrNum", "partial", "numberOrder",
      "is_prefix", "is_fuzzy").map(col)
    // wordBoundaryPrefix: only whole-word phrase extensions. Residuals run
    // against `vtext` (the replacement-variant text a typed prefix actually
    // extends — reference loadWordReplacements semantics); `phrase` stays
    // the stored form that keys the postings.
    val exactCand = subs
      .withColumn("phrase", col("subquery"))
      .withColumn("is_prefix", lit(false))
      .withColumn("is_fuzzy", lit(false))
      .select(candCols: _*)
    val prefixCand: Option[DataFrame] =
      if (!autocomplete) None
      else Some {
        val maxPfx = IndexBuilder.MaxPrefixLen
        val pfxSubs = subs.where(col("ender"))
          .withColumn("pfx", substring(col("subquery"), 1, maxPfx))
          .withColumn("pfx_len", least(length(col("subquery")), lit(maxPfx)))
        // merged grouped prefix table: ONE row per (pfx, pfx_len, qsig)
        // across sibling layers; the startsWith residual runs as an array
        // filter (codegen higher-order function) BEFORE the explode, so
        // non-extending phrases never become rows, and array_distinct over
        // the projected phrases collapses multi-vtext duplicates INSIDE
        // the row — the former 530k-row per-query distinct() shuffle is
        // gone entirely
        byQsig(_._2).join(pfxSubs, Seq("pfx", "pfx_len", "qsig"))
          .select(col("qsig"), col("queryId"), col("subquery"), col("mask"),
            col("weight"), col("qlen"), col("addrPos"), col("addrNum"),
            col("partial"), col("numberOrder"),
            explode(array_distinct(transform(filter(col("cands"), c =>
              when(col("wordBoundary"),
                c.getField("vtext").startsWith(concat(col("subquery"), lit(" "))))
              .otherwise(c.getField("vtext").startsWith(col("subquery")) &&
                c.getField("vtext") =!= col("subquery"))),
              c => c.getField("phrase")))).as("phrase"))
          .withColumn("is_prefix", lit(true))
          .withColumn("is_fuzzy", lit(false))
          .select(candCols: _*)
      }
    // fuzzy branch (P6): symmetric-delete candidate join + DL<=1 verify +
    // levenshtein-ratio weight penalty (reference phrasematch.js:328-345)
    val fuzzyCand: Option[DataFrame] =
      if (!fuzzy) None
      else Some {
        val qVariants = subs.as[SubQ]
          // fuzzy on any window whose hypothesis has fuzz budget left —
          // plain, address-permutation and intersection windows alike
          // (reference fuzzyMatchMulti covers the numTokenized/intersection
          // batches too, phrasematch.js:183-296); partial-number searches
          // and whitespace-corrected hypotheses have spent the budget
          .filter(s => !s.partial && s.editDist == 0 && s.fuzzyOk)
          .flatMap { s =>
            Fuzzy.phraseVariants(s.subquery).map(v =>
              FuzzVar(s.queryId, s.subquery, s.mask, s.ender, s.weight, s.qlen,
                s.qsig, v, s.addrPos, s.addrNum, s.numberOrder))
          }.toDF()
        // grouped deletes table: the DL<=1 verify runs as an array kernel
        // per key hit (fuzzyKeepUdf) and only verified phrases explode —
        // the exploded-row distinct + per-row verify of the flat join is
        // gone. The edit is always exactly 1 here, so the weight penalty
        // depends only on the window's original subquery.
        byQsig(_._1).join(qVariants, Seq("variant", "qsig"))
          .select(col("qsig"),
            col("queryId"), col("subquery"), col("mask"),
            col("weight"), col("qlen"), col("addrPos"), col("addrNum"),
            col("numberOrder"),
            explode(fuzzyKeepUdf(col("subquery"), col("cands"))).as("cand_phrase"))
          .withColumn("weight", col("weight") * penaltyUdf(col("subquery"), lit(1)))
          // the MATCHED phrase becomes the cover text (reference
          // phrasematch.js:242 `sq = phraseSetMatches[i].phrase`): dedupe
          // keys and V6 disambiguation see the corrected text, so a fuzzy
          // result is never address-unique-deduped against its exact twin
          .withColumn("subquery", col("cand_phrase"))
          .withColumn("phrase", col("cand_phrase"))
          .withColumn("partial", lit(false))
          .withColumn("is_prefix", lit(false))
          .withColumn("is_fuzzy", lit(true))
          .select(candCols: _*)
          // one row per (window, phrase): several delete VARIANTS of the
          // same window may verify the same candidate (sibling-layer
          // duplication is gone — the merged per-qsig table has one row
          // per variant key)
          .distinct()
      }
    // fuzzy-prefix branch (P6 tail): autocomplete ender windows whose typo
    // may sit in ANY word — including the final, partially-typed one —
    // join symmetric-delete variants of their bounded prefix key against
    // the index's prefix-delete table, then verify word-budgeted DL<=1
    // with the window-as-prefix semantics (reference fuzzyMatchWindows /
    // fuzzyMatchMulti with endingType anyPrefix / wordBoundaryPrefix,
    // phrasematch.js:83-96,106,235-247)
    val fuzzyPrefixCand: Option[DataFrame] =
      if (!autocomplete || !fuzzy) None
      else Some {
        val maxPfx = IndexBuilder.MaxPrefixLen
        val qVariants = subs.as[SubQ]
          .filter(s => s.ender && !s.partial && s.editDist == 0 && s.fuzzyOk &&
            s.subquery.length >= Fuzzy.MinCorrectionLength)
          .flatMap { s =>
            val k = s.subquery.substring(0, math.min(maxPfx, s.subquery.length))
            Fuzzy.deleteVariants(k).map(v =>
              FuzzPfxVar(s.queryId, s.subquery, s.mask, s.weight, s.qlen,
                s.qsig, v, s.addrPos, s.addrNum, s.numberOrder,
                s.wordBoundary))
          }.toDF()
        // grouped prefix-delete table: the word-budgeted DL<=1 prefix
        // verify runs as an array kernel per key hit (fuzzyPfxKeepUdf),
        // emitting only the distinct verified (phrase, edit, corrected)
        // tuples — the flat join's multi-million-row explode + distinct
        // (3.5M intermediate rows for 2k queries, measured) never exists
        byQsig(_._3).join(qVariants, Seq("variant", "qsig"))
          .select(col("qsig"),
            col("queryId"), col("subquery"), col("mask"), col("weight"),
            col("qlen"), col("addrPos"), col("addrNum"), col("numberOrder"),
            explode(fuzzyPfxKeepUdf(col("subquery"), col("wordBoundary"),
              col("cands"))).as("k"))
          .withColumn("weight", col("weight") * penaltyUdf(col("subquery"),
            col("k.edit")))
          // as in the full-phrase fuzzy branch: the corrected text becomes
          // the cover text (dedupe keys and V6 disambiguation see it)
          .withColumn("subquery", col("k.corrected"))
          .withColumn("phrase", col("k.phrase"))
          .withColumn("partial", lit(false))
          .withColumn("is_prefix", lit(true))
          .withColumn("is_fuzzy", lit(true))
          .select(candCols: _*)
          .distinct()
      }
    (Vector("exact" -> exactCand) ++ prefixCand.map("prefix" -> _) ++
      fuzzyCand.map("fuzzy" -> _) ++ fuzzyPrefixCand.map("fuzzyPfx" -> _))
  }

  /** Probe hooks: the phrasematch internals with default options, for the
    * stage-attribution probes (`Probe pm`, `Probe ctx`).
    */
  private[graft] def subqueriesForProbe(spark: SparkSession, index: CarmenIndex,
                                        queries: DataFrame): DataFrame =
    subqueries(spark, queries, queryGroups(index), proximityDefined = false)
      .localCheckpoint()
  private[graft] def phrasematchBranchesForProbe(index: CarmenIndex,
                                                 subs: DataFrame): Vector[(String, DataFrame)] =
    candidateBranches(index, index, subs, autocomplete = true, fuzzy = true)
  private[graft] def phrasematchJoinsForProbe(index: CarmenIndex,
                                              subs: DataFrame): DataFrame =
    phrasematchJoins(index, index, subs, autocomplete = true, fuzzy = true)
  private[graft] def pmRowsForProbe(index: CarmenIndex,
                                    matched: DataFrame): DataFrame = {
    val langTargetExpr = coalesce(
      element_at(typedLit(index.layers.map(l =>
        l.config.name -> "default").toMap), col("layer")), lit("default"))
    val langsExpr = split(col("lang_set"), ",")
    val mlExpr = when(col("lang_set").isNull || col("lang_set") === "",
        lit(true))
      .otherwise(array_contains(langsExpr, "all") ||
        array_contains(langsExpr, langTargetExpr))
    matched.select(
      col("queryId"), col("layer"), col("subquery"), col("mask"),
      col("weight"), col("is_prefix").as("prefix"), col("qlen"),
      col("addrPos"), col("addrNum"), col("partial"), col("numberOrder"),
      col("is_fuzzy").as("fuzzy"), col("phrase_id").as("phraseId"),
      mlExpr.as("ml"), col("gridsA"), col("gridsB"))
  }

  /** O3 debug surface (reference geocode.js:402-414, options.debug
    * .phrasematch): every matched subquery window per (query, layer) with
    * its weight and match kind — the "which phrases hit which index"
    * introspection a geocoder operator reads before blaming ranking.
    */
  def phrasematchDebug(spark: SparkSession, index: CarmenIndex,
                       queries: DataFrame,
                       opts: Options = Options()): DataFrame = {
    val groups = queryGroups(index)
    val subs = subqueries(spark, queries, groups, opts.proximity.isDefined,
      opts.fuzzy)
    phrasematchJoins(index, index, subs, opts.autocomplete, opts.fuzzy)
      .select(col("queryId").as("query_id"), col("layer"), col("subquery"),
        col("mask"), col("weight"), col("is_prefix"), col("is_fuzzy"))
      .distinct()
  }

  /** Stages 3-4: spatialmatch + verify + context + re-rank over the
    * phrasematch join output.
    */
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

  private def runForward(spark: SparkSession, index: CarmenIndex,
                         searchIndex: CarmenIndex, matched: DataFrame,
                         tileBbox: Option[(Int, Int, Int, Int, Int)],
                         opts: Options,
                         stats: Option[GeocodeStats]): DataFrame = {
    import spark.implicits._
    val wvIdxs = index.idxsForWorldview(
      if (opts.worldview.nonEmpty) opts.worldview else index.worldviews.head)
    // sourceAllowed for lead covers (filter-sources.js:23-57)
    val leadAllowedIdxs: Set[Int] = index.layers.filter { l =>
      val typeOk = opts.types.isEmpty ||
        opts.types.exists(t => l.config.allTypes.contains(t)) ||
        l.config.scoreranges.keys.exists(sub =>
          opts.types.contains(s"${l.config.typ}.$sub"))
      val stackOk = opts.stacks.isEmpty || l.config.stack.isEmpty ||
        l.config.stack.exists(s => opts.stacks.exists(_.equalsIgnoreCase(s)))
      typeOk && stackOk
    }.map(_.config.idx).toSet

    val cfgByLayer = index.layers.map(l =>
      l.config.name -> (l.config, l.scorefactor)).toMap
    // language target per layer (reference phrasematch.js:297-310): the
    // requested language resolves to the layer's closest configured label,
    // else "unmatched"; grids tagged with other languages take the x0.96
    // coalesce penalty
    val langTargetByLayer: Map[String, String] = {
      val languageName = opts.language.map(_.replace("-", "_")).getOrElse("default")
      index.layers.map { l =>
        val langMap = "default" +: l.config.languages.map(_.replace("-", "_")).sorted.toVector
        val target =
          if (langMap.contains(languageName)) languageName
          else ClosestLang.closestLangLabel(languageName, langMap).getOrElse("unmatched")
        l.config.name -> target
      }.toMap
    }
    // ndx groups by geocoder_name: same-gname layers never stack together
    // (reference index.js:286-322)
    val ndxByGname = index.layers.map(_.config.gname).distinct.zipWithIndex.toMap
    val ndxByName = index.layers.map(l =>
      l.config.name -> ndxByGname(l.config.gname)).toMap
    val cfgBc = spark.sparkContext.broadcast((cfgByLayer, ndxByName))

    // The postings are gridstore-shaped (IndexBuilder: one row per
    // (phrase, lang_set) with packed-long grid arrays built ONCE at index
    // build), so the candidate join already delivers one row per (query,
    // window, phrase) with its grids attached — no per-query collect_list
    // re-aggregation (the round-4 measured hot spot: 55 MB/query allocated
    // re-materializing hot phrases' grid lists, 8 GiB OOM at 32 threads)
    // and one less shuffle per forward() call. This is also the reference
    // shape: phrasematch returns PHRASE matches, grids travel as lists.
    // matchesLanguage resolves HERE, inside whole-stage codegen (per-layer
    // target via a literal map), so the shuffled row carries one boolean
    // instead of the lang_set string and the kernel does no per-row split.
    val langTargetExpr = coalesce(
      element_at(typedLit(langTargetByLayer), col("layer")), lit("default"))
    val langsExpr = split(col("lang_set"), ",")
    val mlExpr = when(col("lang_set").isNull || col("lang_set") === "",
        lit(true))
      .otherwise(array_contains(langsExpr, "all") ||
        array_contains(langsExpr, langTargetExpr))
    val pmRowsBase = matched.select(
        col("queryId"), col("layer"), col("subquery"), col("mask"),
        col("weight"), col("is_prefix").as("prefix"), col("qlen"),
        col("addrPos"), col("addrNum"), col("partial"), col("numberOrder"),
        col("is_fuzzy").as("fuzzy"), col("phrase_id").as("phraseId"),
        mlExpr.as("ml"), col("gridsA"), col("gridsB"))
    // with stats on, the phrasematch joins materialize separately so
    // "pm_join" vs "spatialmatch" (coalesce kernel) attribute honestly
    val pmRows = stats match {
      case Some(st) =>
        val ck = timed(stats, "pm_join")(pmRowsBase.localCheckpoint())
        st.counts("pm_join") = ck.count()
        ck.as[PmPhraseRow]
      case None => pmRowsBase.as[PmPhraseRow]
    }

    val proximity = opts.proximity
    val limitVerify = opts.limitVerify
    val smStackLimitB = opts.spatialmatchStackLimit
    val bboxB = tileBbox
    val leadAllowedB = leadAllowedIdxs

    // 3. per-query spatialmatch
    val results0 = pmRows.groupByKey(_.queryId).flatMapGroups { (qid, it) =>
      val (cfgs, ndxs) = cfgBc.value
      // idx-keyed layer-name lookup, built once per query group (no
      // collectFirst scan per cover row)
      val nameByIdx: Map[Int, String] =
        cfgs.map { case (name, (c, _)) => c.idx -> name }
      val rows = it.toVector
      val qlen = rows.iterator.map(_.qlen).min // base hypothesis length
      val pms = rows.groupBy(r => (r.layer, r.mask, r.subquery, r.prefix,
          r.addrNum, r.partial, r.numberOrder, r.addrPos, r.fuzzy))
        .flatMap { case ((layer, mask, subq, pfx, addrNum, partial, numberOrder, addrPos, fuzzy), prs) =>
          val (cfg, scorefactor) = cfgs(layer)
          // concatenate the per-phrase packed grid arrays (matchesLanguage
          // resolved in codegen upstream, folded into B bit 34 here) —
          // arraycopy + an OR loop, zero per-grid allocation; the kernels
          // consume the packed longs directly
          var sz = 0
          prs.foreach(pr => sz += pr.gridsA.length)
          val ga0 = new Array[Long](sz)
          val gb0 = new Array[Long](sz)
          var off = 0
          prs.foreach { pr =>
            val pa = pr.gridsA; val pb = pr.gridsB
            System.arraycopy(pa, 0, ga0, off, pa.length)
            val mlBit = if (pr.ml) StackCoalesce.MlBit else 0L
            var gi = 0
            while (gi < pb.length) { gb0(off + gi) = pb(gi) | mlBit; gi += 1 }
            off += pa.length
          }
          // partial-number searches require the proximity point INSIDE the
          // source bounds (proxMatch, phrasematch.js:46-48, 207) and keep
          // only grids near the proximity point (nearby_only — the
          // carmen-core behavior observable in
          // geocode-unit.address-partial-number.js)
          val (gaF, gbF) =
            if (!partial) (ga0, gb0)
            else proximity match {
              case Some((plon, plat))
                if Bbox.amInside(plon, plat, {
                  val b = cfg.bounds
                  if (b.length == 4) (b(0), b(1), b(2), b(3))
                  else (-180.0, -85.0, 180.0, 85.0)
                }) =>
                val radius =
                  if (cfg.coalesceRadius > 0) cfg.coalesceRadius
                  else Proximity.scaleRadius(cfg.zoom)
                var n = 0
                var gi = 0
                while (gi < ga0.length) {
                  val a = ga0(gi)
                  val gx = StackCoalesce.gX(a); val gy = StackCoalesce.gY(a)
                  val cLon = Mercator.ll((gx + 0.5) * Mercator.TileSize, 0, cfg.zoom)._1
                  val cLat = Mercator.ll(0, (gy + 0.5) * Mercator.TileSize, cfg.zoom)._2
                  if (Proximity.distance(plon, plat, cLon, cLat, gx, gy, cfg.zoom) < radius) {
                    ga0(n) = a; gb0(n) = gb0(gi); n += 1
                  }
                  gi += 1
                }
                (java.util.Arrays.copyOf(ga0, n), java.util.Arrays.copyOf(gb0, n))
              case _ => (Array.emptyLongArray, Array.emptyLongArray)
            }
          if (gaF.isEmpty) None
          else Some {
          // number-order penalty (phrasematch.js:357-369): the layer expects
          // the house number first/last and this match has it elsewhere
          val w0 = prs.head.weight
          val weight =
            if (cfg.expectedNumberOrder.nonEmpty && numberOrder.nonEmpty &&
              numberOrder != cfg.expectedNumberOrder) w0 * 0.99
            else w0
          StackCoalesce.Pm(layer, cfg.idx, ndxs(layer), cfg.nonOverlapping,
            cfg.zoom, subq, mask, weight, pfx,
            math.max(scorefactor, 1.0),
            gaF, gbF,
            addrNum, partial, catMatch = cfg.categories.contains(subq),
            addrPos = addrPos, fuzzy = fuzzy,
            nPhrases = prs.iterator.map(_.phraseId).toSet.size,
            radius = cfg.coalesceRadius)
          }
        }.toVector
      // P1 suppressions, per source (phrasematch.js:385-402): at z>=14 a
      // source with both single-char and longer matches (and no partial-
      // number search) drops the single-char ones; masks accumulating > 6
      // short fuzzy corrections while a correctly-spelled alternative
      // exists drop those corrections.
      val pmsFiltered = pms.groupBy(_.idx).values.flatMap { layerPms0 =>
        val layerPms = layerPms0.toVector
        val anyPartial = layerPms.exists(_.partial)
        val afterSingle =
          if (layerPms.head.zoom >= 14 && !anyPartial &&
            layerPms.exists(_.subquery.length == 1) &&
            layerPms.exists(_.subquery.length > 1))
            layerPms.filter(_.subquery.length > 1)
          else layerPms
        def isShort(pm: StackCoalesce.Pm): Boolean =
          !pm.subquery.contains(' ') || pm.subquery.length <= 6
        val fuzzyShortCount: Map[Int, Int] = afterSingle
          .filter(pm => pm.fuzzy && isShort(pm))
          .groupBy(_.mask).map { case (m, v) => m -> v.map(_.nPhrases).sum }
        val hasCorrect: Set[Int] = afterSingle.filter(!_.fuzzy).map(_.mask).toSet
        afterSingle.filter { pm =>
          !(pm.fuzzy && isShort(pm) && hasCorrect.contains(pm.mask) &&
            fuzzyShortCount.getOrElse(pm.mask, 0) > 6)
        }
      }.toVector
      val sms0 = StackCoalesce.spatialmatch(qlen, pmsFiltered, proximity,
        bboxB, smStackLimitB)
      // lead-cover sourceAllowed filter (verifymatch.js:191-196)
      val sms =
        if (leadAllowedB.size == cfgs.size) sms0
        else sms0.filter(sm => sm.covers.headOption.exists(c =>
          leadAllowedB.contains(c.idx)))
      def coverRowOf(c: CoverEntry): CoverRow =
        CoverRow(c.idx, nameByIdx.getOrElse(c.idx, "?"), c.id24,
          c.x, c.y, c.zoom, c.relev, c.score, c.tmpid, c.mask, c.text,
          c.addrNum, c.partial, c.phraseHash, c.addrPos, c.matchesLanguage)
      // rank-0 row: the loose `sets` covers — best relev per tmpid over ALL
      // spatialmatches, pre-filter (the reference's matched.sets,
      // spatialmatch.js:64-68) — feeds the verify loose pass and the
      // context matched-set
      val bestByTmpid = scala.collection.mutable.HashMap.empty[Long, CoverEntry]
      for (sm <- sms0; c <- sm.covers) {
        val cur = bestByTmpid.get(c.tmpid)
        if (cur.isEmpty || cur.get.relev < c.relev) bestByTmpid(c.tmpid) = c
      }
      val setsRow = ResultRow(qid, 0, 0.0, 0.0,
        bestByTmpid.values.toVector.sortBy(_.tmpid).map(coverRowOf))
      Iterator(setsRow) ++
        sms.take(SpeculativeLoadLimit).zipWithIndex.map { case (sm, i) =>
          ResultRow(qid, i + 1, JsNum.roundTo(sm.relev, 4), sm.scoredist,
            sm.covers.map(coverRowOf))
        }.iterator
    }
    val resultsCk = timed(stats, "spatialmatch") {
      // reused by cover/lead/context branches below — materialize once
      val ck = results0.toDF().localCheckpoint()
      stats.foreach(_.counts("spatialmatch") = ck.count())
      ck
    }

    // 4. verify + format (reference verifymatch.js): join lead covers to
    // features, resolve address numbers, reverse-context fill, per-query
    // strict/loose re-rank
    // Cached pre-partitioned on (f_idx, f_id24) — the wide feature rows
    // never re-shuffle per call (see CarmenIndex.allFeaturesWide)
    val featuresAll = index.allFeaturesWide

    val results = resultsCk
    val exploded = results.select(col("queryId").as("query_id"),
        col("rank").as("position"), col("relev").as("smRelev"), col("scoredist"),
        posexplode(col("covers")).as(Seq("pos", "cover")))
      .select(col("query_id"), col("position"), col("smRelev"), col("scoredist"),
        col("pos"), col("cover.*"))

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
    val leadJoined0 = exploded.where(col("pos") === 0 && col("position") >= 1)
      .join(featuresAll.hint("shuffle_hash"),
        exploded("idx") === featuresAll("f_idx") &&
          exploded("id24") === featuresAll("f_id24") &&
          array_contains(featuresAll("f_zxy"),
            concat_ws("/", exploded("zoom"), exploded("x"), exploded("y"))),
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
    // primary display language = first of the request list; the full list
    // drives the per-language place_name map (multilanguage surface)
    val requestedLangs: Vector[String] =
      opts.language.map(_.split(",").map(_.trim).toVector.filter(_.nonEmpty))
        .getOrElse(Vector.empty)
    val language = requestedLangs.headOption
    val allowDupes = opts.allowDupes
    val languageMode = opts.languageMode
    val routing = opts.routing
    // templating context: user-supplied inline helpers + the active
    // worldview ride into the formatting closures (reference
    // opts.formatHelpers / getPlaceName's renderObj.worldview)
    val formatHelpers = opts.formatHelpers
    val worldviewName =
      if (opts.worldview.nonEmpty) opts.worldview else index.worldviews.head
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
    val leadOut = timed(stats, "verifymatch") {
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
      val ck = resolved.groupByKey(_.out.query_id).flatMapGroups { (_, it) =>
        val (cfgs, _) = cfgBc.value
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
      }.toDF().localCheckpoint()
      stats.foreach(_.counts("verifymatch") = ck.count())
      ck
    }

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
    val coverRows = exploded.where(col("position") >= 1)
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
    val setsRows = exploded.where(col("position") === 0)
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
    val matchedSets = exploded.select(col("query_id"), col("tmpid")).distinct()
    val byNameFirstIdx: Map[Int, Int] = {
      val byName = index.layers.groupBy(_.config.gname)
      index.layers.map(l =>
        l.config.idx -> byName(l.config.gname).map(_.config.idx).min).toMap
    }
    val leadMeta = timed(stats, "context_rank") {
      leadRows.where(col("kind") === 2)
        .select(col("query_id"), col("position").as("sub"),
          col("idx").as("lead_idx"), col("lon"), col("lat"),
          coalesce(element_at(col("allTypes"), -1), lit("")).as("maxtype"))
        .localCheckpoint()
    }
    val ctxCands = Reverse.candidates(
      leadMeta.select(col("query_id"), col("sub"), col("lon"), col("lat")),
      index, distanceMode = false, radiusMiles = 0.0,
      matchedDf = Some(matchedSets), allowedIdxs = Some(wvIdxs))
    val metaDs = leadMeta.select(col("query_id"), col("sub"),
      col("lead_idx"), col("maxtype")).as[CtxMeta]
    val firstIdxB = byNameFirstIdx
    val ctxStacked = ctxCands
      .joinWith(metaDs, ctxCands("query_id") === metaDs("query_id") &&
        ctxCands("sub") === metaDs("sub"))
      .filter(p => p._1.idx < firstIdxB.getOrElse(p._2.lead_idx, p._2.lead_idx))
      .groupByKey(p => (p._1.query_id, p._1.sub))
      .flatMapGroups { (key: (Long, Int), it) =>
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

    // hard cap 10 (reference geocode.js:340)
    val limit = math.min(opts.limit, 10)
    val finals = tagged.groupByKey(_.query_id).flatMapGroups { (qid, it) =>
      val (cfgs, ndxs) = cfgBc.value
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

    val out = finals.toDF()
      .select(col("query_id"), col("rank"), col("relev"), col("scoredist"),
        col("place_name"), col("feature_id"), col("center_lon"),
        col("center_lat"), col("lead_idx"), col("matching_text"),
        col("routable_points"), col("place_type"), col("place_names"),
        col("matching_place_name"))
      .orderBy(col("query_id"), col("rank"))
    stats match {
      case Some(st) if st.forceOutput =>
        val ck = timed(stats, "context_rank")(out.localCheckpoint())
        st.counts("results") = ck.count()
        ck
      case _ => out
    }
  }

}
