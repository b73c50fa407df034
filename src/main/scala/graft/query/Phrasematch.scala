package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.CarmenIndex

/** Phrasematch (reference lib/geocoder/phrasematch.js): per-layer-group
  * query text processing and subquery window enumeration, then the
  * candidate branches (exact, autocomplete prefix, symmetric-delete fuzzy,
  * fuzzy prefix) and one postings probe that attaches each matched
  * phrase's packed grids.
  */
object Phrasematch {

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

  private val penaltyUdf = udf((original: String, ed: Int) =>
    Fuzzy.editPenalty(original, ed))

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

  /** One query-side text-processing group: layers sharing geocoder_tokens /
    * address behavior share one enumerated-subquery set.
    */
  final case class QueryGroup(qsig: String, replacers: IndexBuilder.Replacers,
                              geocoderAddress: Boolean, intersectionToken: String)

  private[graft] def queryGroups(index: CarmenIndex): Vector[QueryGroup] =
    index.layers.map(_.config).groupBy(_.querySignature).map { case (sig, cfgs) =>
      val c = cfgs.head
      QueryGroup(sig, IndexBuilder.replacersFor(c), c.geocoderAddress,
        c.intersectionToken)
    }.toVector

  private val onlyDigits = java.util.regex.Pattern.compile("^\\d+$")
  private val digitsHash = java.util.regex.Pattern.compile("^[\\d#]+$")

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

  /** The phrasematch joins: exact + (strict) bounded-prefix-key for
    * autocomplete enders + symmetric-delete fuzzy. The prefix branch
    * equi-joins on bounded-length prefix keys (the distributed analog of
    * the reference's sorted phrase_id_range, docs/index-structure.md:10-12)
    * with a residual startsWith filter — no nested-loop scan.
    */
  private[graft] def joins(fullIndex: CarmenIndex, searchIndex: CarmenIndex,
                            subs: DataFrame, autocomplete: Boolean,
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

  /** The labeled candidate branches of [[joins]] (exposed for stage
    * attribution probes).
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
}
