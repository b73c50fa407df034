package graft.query

import org.apache.spark.broadcast.Broadcast
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
  * Stages (mirrors reference lib/geocoder/geocode.js:341-493), one file
  * each, named like the [[GeocodeStats]] stages that time them:
  *  1. [[Phrasematch]]: tokenize + per-layer-group token replacement +
  *     subquery window enumeration (address-capable groups add
  *     numTokenized and intersection permutations, reference
  *     phrasematch.js:176-260), then the postings equi-join (exact) +
  *     bounded prefix-key equi-join (autocomplete) + symmetric-delete fuzzy
  *     join
  *  2. [[Spatialmatch]]: per-query stackable + coalesce + rebalance in
  *     flatMapGroups — distributes over queries; grids per query are
  *     bounded by the same caps as the reference
  *  3. [[Verifymatch]]: lead covers joined to features, address-cluster/
  *     ITP resolution (reference verifymatch.js:397-492), the feature-phase
  *     chunk machine
  *  4. [[ContextRank]]: one tile-lookup probe at the verified leads' centers
  *     (context fill), then one per-query kernel over the spatialmatch
  *     results, the leads and their tile candidates: context stacking,
  *     strict/loose re-rank and format
  */
object Forward {

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

  /** O3 stats surface (reference geocode.js:355-366, 398-450): per-stage
    * wall time and row counts, filled when passed to [[forward]]. The
    * engine's stage boundaries are its eager materialization points, so
    * "phrasematch" covers subquery enumeration, "pm_join" the phrasematch
    * joins, "spatialmatch" the per-query coalesce, "verifymatch" the
    * feature join + address resolution, and "context_rank" context fill +
    * re-rank + format.
    */
  final class GeocodeStats {
    val stageSeconds: scala.collection.mutable.LinkedHashMap[String, Double] =
      scala.collection.mutable.LinkedHashMap.empty
    val counts: scala.collection.mutable.LinkedHashMap[String, Long] =
      scala.collection.mutable.LinkedHashMap.empty
    override def toString: String =
      (stageSeconds.map { case (k, v) => f"$k=$v%.3fs" } ++
        counts.map { case (k, v) => s"$k.count=$v" }).mkString(" ")
  }

  /** One forward() call as its stages see it: the full index (feature
    * loads and context fill), the index the search matches against, the
    * options, the stats sink and the per-layer configs the per-query
    * kernels read.
    */
  private[query] final class Call(val spark: SparkSession,
                                  val index: CarmenIndex, val opts: Options,
                                  val stats: Option[GeocodeStats]) {
    // worldview visibility (reference byworldview, index.js:139-153)
    val worldview: String =
      if (opts.worldview.nonEmpty) opts.worldview else index.worldviews.head
    val wvIdxs: Set[Int] = index.idxsForWorldview(worldview)

    // F2: prune layers by types/stacks up front (reference
    // filter-sources.js:23-57) — a subtype filter ("poi.landmark") keeps
    // layers of the base type whose scoreranges declare the subtype;
    // search joins run on the allowed subset; context fill still sees
    // every layer.
    val searchIndex: CarmenIndex = {
      def boundsOf(l: IndexBuilder.LayerIndex): (Double, Double, Double, Double) = {
        val b = l.config.bounds
        if (b.length == 4) (b(0), b(1), b(2), b(3)) else (-180.0, -85.0, 180.0, 85.0)
      }
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
      if (allowedLayers.length == index.layers.length) index
      else CarmenIndex(allowedLayers)
    }

    // primary display language = first of the request list; the full list
    // drives the per-language place_name map (multilanguage surface)
    val requestedLangs: Vector[String] =
      opts.language.map(_.split(",").map(_.trim).toVector.filter(_.nonEmpty))
        .getOrElse(Vector.empty)

    /** (layer name -> (config, scorefactor), layer name -> ndx group),
      * broadcast once per call. ndx groups by geocoder_name: same-gname
      * layers never stack together (reference index.js:286-322).
      */
    lazy val layersBc: Broadcast[(Map[String, (LayerConfig, Double)], Map[String, Int])] = {
      val ndxByGname = index.layers.map(_.config.gname).distinct.zipWithIndex.toMap
      spark.sparkContext.broadcast((
        index.layers.map(l => l.config.name -> (l.config, l.scorefactor)).toMap,
        index.layers.map(l => l.config.name -> ndxByGname(l.config.gname)).toMap))
    }

    /** The one per-call materialization point: `df` is localCheckpointed,
      * its rows counted under `count` when stats are on, and the time
      * charged to `stage`. A `statsOnly` barrier exists only when stats are
      * on, to split stage times that otherwise share one materialization;
      * its row count is taken after the timed span, so the stage time holds
      * the materialization alone.
      * localCheckpoint (not cache): materializes once and truncates lineage
      * without registering with the CacheManager — repeated forward() calls
      * with cache() degrade as every new plan is matched against all
      * previously cached plans (measured 10s -> 27s per call).
      */
    def barrier(stage: String, count: String = "", statsOnly: Boolean = false)(
        df: => DataFrame): DataFrame =
      if (statsOnly && stats.isEmpty) df
      else {
        val t0 = System.nanoTime()
        val ck = df.localCheckpoint()
        def countRows(): Unit =
          if (count.nonEmpty) stats.foreach(_.counts(count) = ck.count())
        if (!statsOnly) countRows()
        stats.foreach(st => st.stageSeconds(stage) =
          st.stageSeconds.getOrElse(stage, 0.0) + (System.nanoTime() - t0) / 1e9)
        if (statsOnly) countRows()
        ck
      }
  }

  def forward(spark: SparkSession, index: CarmenIndex, queries: DataFrame,
              opts: Options = Options(),
              stats: Option[GeocodeStats] = None): DataFrame = {
    // F1: option validation with reference error messages
    validateOptions(index, opts).foreach(msg =>
      throw new IllegalArgumentException(msg))
    val call = new Call(spark, index, opts, stats)
    val subs = call.barrier("phrasematch") {
      Phrasematch.subqueries(spark, queries,
        Phrasematch.queryGroups(call.searchIndex), opts.proximity.isDefined,
        opts.fuzzy, opts.maxCorrectionLength)
    }
    val matched = Phrasematch.joins(index, call.searchIndex, subs,
      opts.autocomplete, opts.fuzzy)
    val results = Spatialmatch.run(call,
      Spatialmatch.pmRows(index, call.requestedLangs.headOption, matched))
    ContextRank.run(call, results,
      Verifymatch.run(call, Spatialmatch.covers(results)))
  }

  /** O3 debug surface (reference geocode.js:402-414, options.debug
    * .phrasematch): every matched subquery window per (query, layer) with
    * its weight and match kind — the "which phrases hit which index"
    * introspection a geocoder operator reads before blaming ranking.
    */
  def phrasematchDebug(spark: SparkSession, index: CarmenIndex,
                       queries: DataFrame,
                       opts: Options = Options()): DataFrame = {
    val subs = Phrasematch.subqueries(spark, queries,
      Phrasematch.queryGroups(index), opts.proximity.isDefined, opts.fuzzy,
      opts.maxCorrectionLength)
    Phrasematch.joins(index, index, subs, opts.autocomplete, opts.fuzzy)
      .select(col("queryId").as("query_id"), col("layer"), col("subquery"),
        col("mask"), col("weight"), col("is_prefix"), col("is_fuzzy"))
      .distinct()
  }
}
