package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.IndexBuilder.CarmenIndex
import graft.model._

/** Spatialmatch (reference lib/geocoder/spatialmatch.js): the pm-row
  * projection of the phrasematch join, then one per-query kernel that
  * stacks and coalesces the query's phrase matches ([[StackCoalesce]]) into
  * ranked [[ResultRow]]s with their covers.
  */
object Spatialmatch {

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

  /** Spatialmatch output row: one result with its covers. */
  final case class ResultRow(queryId: Long, rank: Int, relev: Double,
                             scoredist: Double, covers: Seq[CoverRow])
  final case class CoverRow(idx: Int, layer: String, id24: Long, x: Int, y: Int,
                            zoom: Int, relev: Double, score: Double,
                            tmpid: Long, mask: Int, text: String,
                            addrNum: String, partial: Boolean, phraseHash: Int,
                            addrPos: Int, matchesLang: Boolean)

  /** The spatialmatch input: the phrasematch join output projected to
    * [[PmPhraseRow]] columns. The postings are gridstore-shaped
    * (IndexBuilder: one row per (phrase, lang_set) with packed-long grid
    * arrays built ONCE at index build), so the candidate join already
    * delivers one row per (query, window, phrase) with its grids attached —
    * no per-query collect_list re-aggregation (the round-4 measured hot
    * spot: 55 MB/query allocated re-materializing hot phrases' grid lists,
    * 8 GiB OOM at 32 threads) and one less shuffle per forward() call. This
    * is also the reference shape: phrasematch returns PHRASE matches, grids
    * travel as lists. matchesLanguage resolves HERE, inside whole-stage
    * codegen (per-layer target via a literal map), so the shuffled row
    * carries one boolean instead of the lang_set string and the kernel does
    * no per-row split.
    */
  private[graft] def pmRows(index: CarmenIndex, language: Option[String],
                            matched: DataFrame): DataFrame = {
    // language target per layer (reference phrasematch.js:297-310): the
    // first requested language (the one verify and format read, not the
    // whole "en,es" list) resolves to the layer's closest configured label,
    // else "unmatched"; grids tagged with other languages take the x0.96
    // coalesce penalty
    val langTargetByLayer: Map[String, String] = {
      val languageName = language.map(_.replace("-", "_")).getOrElse("default")
      index.layers.map { l =>
        val langMap = "default" +: l.config.languages.map(_.replace("-", "_")).sorted.toVector
        val target =
          if (langMap.contains(languageName)) languageName
          else ClosestLang.closestLangLabel(languageName, langMap).getOrElse("unmatched")
        l.config.name -> target
      }.toMap
    }
    val langTargetExpr = coalesce(
      element_at(typedLit(langTargetByLayer), col("layer")), lit("default"))
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

  /** Per-query spatialmatch over [[pmRows]]: rank 0 is the loose `sets`
    * row, ranks 1.. the stacked results (at most [[SpeculativeLoadLimit]]).
    */
  private[query] def run(call: Forward.Call, pmRows: DataFrame): DataFrame = {
    val spark = call.spark
    import spark.implicits._
    val index = call.index
    val opts = call.opts
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
    // F4/F5: bbox in tile space at the max layer zoom; spatialmatch prunes
    // covers whose ancestor/descendant tiles fall outside
    val tileBbox: Option[(Int, Int, Int, Int, Int)] = opts.bbox.map {
      case (w, s0, e, n) =>
        val z = call.searchIndex.maxZoom
        def tx(lon: Double) = math.floor((lon + 180.0) / 360.0 * (1 << z)).toInt
        def ty(lat: Double) = {
          val r = math.toRadians(lat)
          math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi)
            / 2.0 * (1 << z)).toInt
        }
        (z, tx(w), ty(n), tx(e), ty(s0))
    }
    // with stats on, the phrasematch joins materialize separately so
    // "pm_join" vs "spatialmatch" (coalesce kernel) attribute honestly
    val pms = call.barrier("pm_join", count = "pm_join", statsOnly = true)(pmRows)
      .as[PmPhraseRow]
    val layersBc = call.layersBc

    val proximity = opts.proximity
    val smStackLimit = opts.spatialmatchStackLimit

    val results = PerQuery.kernel(pms, "queryId") {
        (qid: Long, it: Iterator[PmPhraseRow]) =>
      val (cfgs, ndxs) = layersBc.value
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
          new StackCoalesce.Pm(layer, cfg.idx, ndxs(layer), cfg.nonOverlapping,
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
        tileBbox, smStackLimit)
      // lead-cover sourceAllowed filter (verifymatch.js:191-196)
      val sms =
        if (leadAllowedIdxs.size == cfgs.size) sms0
        else sms0.filter(sm => sm.covers.headOption.exists(c =>
          leadAllowedIdxs.contains(c.idx)))
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
    // read by verify (as covers) and by the context-rank kernel:
    // materialize once
    call.barrier("spatialmatch", count = "spatialmatch")(results.toDF())
  }

  /** One row per result cover (`pos` 0 is the lead cover; position 0 is
    * the loose-sets row): the verify input.
    */
  private[query] def covers(results: DataFrame): DataFrame =
    results.select(col("queryId").as("query_id"),
        col("rank").as("position"), col("relev").as("smRelev"), col("scoredist"),
        posexplode(col("covers")).as(Seq("pos", "cover")))
      .select(col("query_id"), col("position"), col("smRelev"), col("scoredist"),
        col("pos"), col("cover.*"))
}
