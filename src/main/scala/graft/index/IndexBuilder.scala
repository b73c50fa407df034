package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._
import graft.model._

/** Batch index build: geo docs -> (features, postings, tile_features) per
  * layer — the Spark dataflow equivalent of the reference indexer
  * (reference lib/indexer/index.js, lib/indexer/indexdocs.js).
  *
  * Scale notes (100 TB design point):
  *  - term frequency (I8) is a hash aggregate with map-side combine; the
  *    resulting term->count map is broadcast (vocabulary-bounded, like the
  *    reference's freq object);
  *  - phrase enumeration (I10/I11) is a flatMap — embarrassingly parallel;
  *  - phrase_id assignment (S7) is a dense rank over the sorted distinct
  *    phrase set, the Spark analog of the FST finalize renumbering; at full
  *    scale this becomes rangepartition + per-partition offsets;
  *  - postings are written partitioned by layer and bucketable by
  *    (cell prefix, phrase hash) — the explicit range+hash scheme;
  *  - tile_features is the exploded (z, x, y) cover table; queries probe
  *    it through the resident [[TileLookup]] built from it.
  */
object IndexBuilder {

  /** All built tables for one layer. `postings` and `tileFeatures` are
    * uncached views: queries read them through the [[CarmenIndex]] union
    * table and tile lookup, which hold the only resident copy.
    */
  final case class LayerIndex(
      config: LayerConfig,
      features: DataFrame,     // id, id24, text, score, geometry/geom_bin, center_lon/lat, zxy
      postings: DataFrame,     // layer, phrase, phrase_id, lang_set, gridsA, gridsB (packed-long grid arrays; see packGridA/B)
      tileFeatures: DataFrame, // z, x, y, id, id24, text, score, center_lon/lat, geom_bin
      scorefactor: Double,     // max score of the layer (3-bit decode factor)
      deletes: DataFrame,      // variant, phrase, layer (fuzzy candidates)
      prefixes: DataFrame,     // pfx, pfx_len, phrase, layer (autocomplete keys)
      prefixDeletes: DataFrame, // variant, phrase, layer (fuzzy-prefix keys)
      quarantine: DataFrame    // id, error (I1/I18 rejects, reference error strings)
  ) {
    /** Address layers only: every individual cluster point exploded to a
      * row (feature_id, text, score, number, p_lon, p_lat, pz/px/py tile,
      * idx, layer) — the engine analog of the reference's vectorized
      * per-number vector-tile points. Built once and cached: nearest-k
      * reverse lookups previously re-decoded every address feature's
      * geometry on every call.
      */
    lazy val addrPoints: DataFrame = {
      val spark = features.sparkSession
      import spark.implicits._
      val zoom = config.zoom
      features
        .select(col("id"), col("text"), col("score"), col("addressnumber"),
          col("geom_bin"))
        .as[(Long, String, Double, Seq[Seq[String]], Array[Byte])]
        .flatMap { case (id, text, score, nums, bin) =>
          if (bin == null || bin.isEmpty || nums.isEmpty) Iterator.empty
          else Geom.fromBin(bin) match {
            case Geom.Collection(parts) =>
              nums.iterator.zipWithIndex.flatMap { case (ns, k) =>
                parts.lift(k) match {
                  case Some(Geom.MultiPoint(mp)) =>
                    ns.iterator.zipWithIndex.filter(_._2 < mp.length)
                      .map { case (n, j) =>
                        (id, text, score, n, mp(j)._1, mp(j)._2) }
                  case _ => Iterator.empty
                }
              }
            case _ => Iterator.empty
          }
        }.toDF("feature_id", "text", "score", "number", "p_lon", "p_lat")
        .withColumn("pz", lit(zoom))
        .withColumn("px", graft.ops.GeoOps.tileX(col("p_lon"), zoom))
        .withColumn("py", graft.ops.GeoOps.tileY(col("p_lat"), zoom))
        .withColumn("idx", lit(config.idx))
        .withColumn("layer", lit(config.name))
        .cache()
    }
  }

  /** Group a flat candidate table by its join key: key cols + a deduped
    * array of (vtext, phrase). collect_set: duplicates collapse at build,
    * and every consumer is order-insensitive (outputs pass through a
    * distinct over the final candidate columns).
    */
  private def groupCands(flat: DataFrame, keys: Seq[String]): DataFrame =
    flat.groupBy(keys.map(col): _*)
      .agg(collect_set(struct(col("vtext"), col("phrase"))).as("cands"))
      .cache()

  /** Max indexed prefix length: longer query prefixes equi-join on their
    * first [[MaxPrefixLen]] chars and finish with a residual startsWith
    * filter. The bounded-length prefix table is the distributed analog of
    * the reference's sorted-phrase prefix ranges
    * (reference docs/index-structure.md:10-12) — an equi-joinable key
    * instead of a binary-searchable FST.
    */
  val MaxPrefixLen = 6

  /** Driver-side term-frequency map cap (I8 at web scale). */
  val VocabCap = 2 * 1024 * 1024

  /** Packed-grid encoding (the gridstore payload, S6/I15): each grid is two
    * longs. A = x(14) << 42 | y(14) << 28 | score3(3) << 25 | id24(25);
    * B = unsigned phraseHash(32) << 2 | relev2(2), relev 0.2-quantized
    * (reference 53-bit grid packing, lib/indexer/index.js:139-197 +
    * carmen-core gridstore). Inputs are the flat per-grid posting columns.
    */
  def packGridA: org.apache.spark.sql.Column =
    shiftleft(col("x").cast("long"), 42)
      .bitwiseOR(shiftleft(col("y").cast("long"), 28))
      .bitwiseOR(shiftleft(col("score3").cast("long"), 25))
      .bitwiseOR(col("id24").cast("long"))
  def packGridB: org.apache.spark.sql.Column =
    shiftleft(col("phrase_hash").cast("long").bitwiseAND(lit(0xFFFFFFFFL)), 2)
      .bitwiseOR(round((col("relev") - 0.4) / 0.2).cast("long"))

  /** Explode gridstore-shaped postings back to one row per grid with the
    * decoded payload columns — the analyze/export view (S10, oracle scans).
    */
  def flattenPostings(grouped: DataFrame): DataFrame =
    grouped
      .select(col("layer"), col("phrase"), col("phrase_id"), col("lang_set"),
        explode(arrays_zip(col("gridsA"), col("gridsB"))).as("g"))
      .select(col("layer"), col("phrase"), col("phrase_id"), col("lang_set"),
        round(col("g.gridsB").bitwiseAND(lit(3L)) * 0.2 + 0.4, 1).as("relev"),
        shiftright(col("g.gridsA"), 25).bitwiseAND(lit(7L)).cast("int")
          .as("score3"),
        col("g.gridsA").bitwiseAND(lit(0x1FFFFFFL)).as("id24"),
        shiftright(col("g.gridsA"), 42).bitwiseAND(lit(0x3FFFL)).cast("int")
          .as("x"),
        shiftright(col("g.gridsA"), 28).bitwiseAND(lit(0x3FFFL)).cast("int")
          .as("y"),
        shiftright(col("g.gridsB"), 2).bitwiseAND(lit(0xFFFFFFFFL)).cast("int")
          .as("phrase_hash"))

  final case class CarmenIndex(layers: Vector[LayerIndex]) {
    // Forward's layer pruning filters the union tables by layer name.
    locally {
      val names = layers.map(_.config.name)
      require(names.distinct == names,
        s"duplicate layer names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    }
    def layer(name: String): LayerIndex = layers.find(_.config.name == name).get
    def maxZoom: Int = layers.map(_.config.zoom).max
    /** Union of all layers' postings, read from the [[allPostingsQsig]]
      * cache (the per-layer postings are not cached).
      */
    lazy val allPostings: DataFrame = allPostingsQsig.drop("qsig")
    /** Per-grid exploded view of [[allPostings]] (analyze/export scans). */
    lazy val allPostingsFlat: DataFrame = flattenPostings(allPostings)
    /** Every layer's tile rows in one resident (z, x, y) lookup, probed by
      * reverse lookups and context fill; the only resident copy of the
      * tile rows (the per-layer `tileFeatures` are not cached).
      */
    lazy val tileLookup: TileLookup = TileLookup.build(layers)
    /** All layers' tile rows unified with idx/layer columns (idx, layer, z,
      * x, y, feature_id, id24, text, score, f_lon, f_lat, geom_bin,
      * geom_type, langTexts, types, conflict): an uncached view over
      * [[tileLookup]] that no query path reads. Counting it fills the
      * lookup.
      */
    lazy val allTileFeatures: DataFrame = tileLookup.rows
    /** Worldviews configured across layers ("default" first). */
    lazy val worldviews: Vector[String] = {
      val declared = layers.map(_.config.worldview).filter(_.nonEmpty).distinct
      if (declared.isEmpty) Vector("default") else declared
    }
    /** Layer idxs visible to a worldview (reference byworldview,
      * index.js:139-153): "" layers are in every worldview.
      */
    def idxsForWorldview(wv: String): Set[Int] =
      layers.filter(l => l.config.worldview.isEmpty || l.config.worldview == wv)
        .map(_.config.idx).toSet
    /** Distinct layer zooms (for point -> per-zoom tile explosion). */
    lazy val zooms: Vector[Int] = layers.map(_.config.zoom).distinct.sorted
    /** All layers' postings tagged with their query signature, cached
      * PRE-PARTITIONED on the phrasematch probe's join key (qsig, phrase).
      * The probe join's required distribution is then already satisfied by
      * the cached layout, so the per-call plan never re-shuffles the
      * posting rows — the heavy packed-grid arrays cross an exchange ONCE
      * at cache fill instead of once per forward() call (guide §8: move
      * heavy bytes once; §2.4 remove shuffles outright). Partition count
      * comes from spark.sql.shuffle.partitions (scale-adaptive conf, no
      * constant).
      */
    lazy val allPostingsQsig: DataFrame =
      layers.map { l =>
        l.postings.withColumn("qsig", lit(l.config.querySignature))
      }.reduce(_ unionByName _)
        .repartition(col("qsig"), col("phrase"))
        .cache()
    /** All layers' features in the verifymatch join projection, cached
      * PRE-PARTITIONED on the lead-cover feature-load key (f_idx, f_id24).
      * Same rationale as [[allPostingsQsig]]: the per-call join's
      * required distribution is satisfied by the cache layout, so the
      * WIDE feature rows (geometry, address arrays, language maps) never
      * re-shuffle per forward() call — only the narrow lead-cover side
      * does. Partition count from spark.sql.shuffle.partitions.
      */
    lazy val allFeaturesWide: DataFrame =
      layers.map { l =>
        l.features.select(lit(l.config.idx).as("f_idx"),
          col("id24").as("f_id24"),
          col("id").as("feature_id"), col("text").as("f_text"),
          col("center_lon"), col("center_lat"),
          col("geom_bin").as("f_geom_bin"),
          col("score").as("f_score"),
          col("langTexts").as("f_lang_texts"),
          col("overrides").as("f_overrides"),
          col("addressprops").as("f_addressprops"),
          col("addressnumber").as("f_addrnum"),
          col("rangetype").as("f_rangetype"),
          col("lfromhn").as("f_lfromhn"), col("ltohn").as("f_ltohn"),
          col("rfromhn").as("f_rfromhn"), col("rtohn").as("f_rtohn"),
          col("parityl").as("f_parityl"), col("parityr").as("f_parityr"),
          col("intersections").as("f_intersections"),
          col("zxy").cast("array<string>").as("f_zxy"),
          lit(l.config.geocoderAddress).as("f_is_address"),
          col("types").as("f_types"),
          col("reverseOnly").as("f_reverse_only"),
          col("omitted").as("f_omitted"))
      }.reduce(_ unionByName _)
        .repartition(col("f_idx"), col("f_id24"))
        .cache()
    /** Per-querySignature MERGED grouped candidate tables (`deletes`,
      * `prefixes` and `prefixDeletes`, each grouped on its join key by
      * [[groupCands]]), built once per index and cached. Sibling layers
      * sharing a query signature collapse into ONE row per join key
      * (collect_set dedupes (vtext, phrase) across layers), so the
      * phrasematch candidate joins hit one row per key and never
      * re-deduplicate sibling-layer fan-out per query. Safe under
      * layer pruning: a candidate phrase that only exists in a pruned
      * layer cannot survive the postings inner join (postings are
      * restricted to the allowed layers), so the full-index tables serve
      * every pruned subset with identical results — which is what lets
      * them be cached HERE, on the stable index, instead of per call.
      */
    lazy val candByQsig: Map[String, (DataFrame, DataFrame, DataFrame)] =
      layers.groupBy(_.config.querySignature).map { case (qsig, ls) =>
        def merged(f: LayerIndex => DataFrame, keys: Seq[String]) =
          groupCands(ls.map(f).reduce(_ unionByName _), keys)
            .withColumn("qsig", lit(qsig))
        qsig -> ((merged(_.deletes, Seq("variant")),
          merged(_.prefixes, Seq("pfx", "pfx_len")),
          merged(_.prefixDeletes, Seq("variant"))))
      }
    /** Fill every cache that queries read: per-layer `features`, the
      * [[candByQsig]] tables, [[allPostingsQsig]], [[allFeaturesWide]] and
      * the [[tileLookup]] (through a count of [[allTileFeatures]]). Later
      * calls then pay for lookups, not index build. A repeated call only
      * rescans the filled caches.
      */
    def materialize(): CarmenIndex = {
      layers.foreach(_.features.count())
      candByQsig.values.foreach { case (d, p, pd) =>
        d.count(); p.count(); pd.count()
      }
      allPostingsQsig.count()
      allFeaturesWide.count()
      allTileFeatures.count()
      this
    }
  }

  private val coverUdf = udf((geojson: String, zoom: Int, lon: Double, lat: Double) => {
    // I4: cap covers at 10k keeping those nearest the center
    DocHygiene.capCovers(TileCover.zxy(Geom.fromJson(geojson), zoom), lon, lat, zoom)
  })

  private val centerFixUdf = udf((lon: Double, lat: Double, zxy: Seq[String],
                                  geojson: String) => {
    // I6: recompute the center when it falls outside every cover
    if (DocHygiene.verifyCenter(lon, lat, zxy)) Array(lon, lat)
    else {
      val c = DocHygiene.centroid(Geom.fromJson(geojson))
      Array(c._1, c._2)
    }
  })

  /** Per-layer compiled replacers (reference index.js:224-227). */
  final case class Replacers(
      simple: SimpleReplacer,
      complexQuery: Vector[ReplaceRule],
      complexIndexing: Vector[ReplaceRule],
      global: Vector[ReplaceRule])

  def replacersFor(cfg: LayerConfig): Replacers = {
    val (simple, complex) = TokenReplace.categorizeTokenReplacements(cfg.geocoderTokens)
    Replacers(
      simple = TokenReplace.createSimpleReplacer(simple),
      complexQuery = TokenReplace.createComplexReplacer(complex),
      complexIndexing = TokenReplace.createComplexReplacer(complex,
        includeUnambiguous = true, includeRelevanceReduction = true),
      global = TokenReplace.createGlobalReplacer(cfg.globalTokens))
  }

  /** Doc slice carried into the phrase-enumeration flatMap. */
  final case class DocCover(
      id: Long, id24: Long, text: String, score: Double, zxy: Seq[String],
      addressnumber: Seq[Seq[String]], rangetype: String,
      lfromhn: Seq[Seq[String]], ltohn: Seq[Seq[String]],
      rfromhn: Seq[Seq[String]], rtohn: Seq[Seq[String]],
      intersections: Seq[Seq[String]], langTexts: Map[String, String],
      numGeometries: Int)

  /** GeometryCollection-aligned parallel arrays carry null entries for
    * non-address geometries (carmen:addressnumber = [null, [...]] when a
    * doc mixes ITP lines and cluster points) — treat null as empty.
    */
  private def nullSafe(a: Seq[Seq[String]]): Vector[Vector[String]] =
    if (a == null) Vector.empty
    else a.map(p => if (p == null) Vector.empty[String] else p.toVector).toVector

  private def housenumRangeOf(d: DocCover): Vector[String] =
    AddressTokens.getHousenumRangeV3(
      nullSafe(d.addressnumber),
      hasRangeType = d.rangetype.nonEmpty,
      lfromhn = nullSafe(d.lfromhn),
      ltohn = nullSafe(d.ltohn),
      rfromhn = nullSafe(d.rfromhn),
      rtohn = nullSafe(d.rtohn),
      numGeometries = d.numGeometries)

  private val numGeomsUdf = udf((geojson: String) =>
    Geom.fromJson(geojson) match {
      case Geom.Collection(gs) => gs.length
      case _ => 0
    })

  /** Pre-parsed geometry: the JSON is decoded ONCE at build time into the
    * engine's compact binary form plus its type tag, so no per-candidate
    * JSON parse survives in any query path (reverse PIP/distance, forward
    * context fill, address resolution).
    */
  private val geomBinUdf = udf((geojson: String) =>
    Geom.toBin(Geom.fromJson(geojson)))
  private val geomTypeUdf = udf((geojson: String) =>
    Geom.fromJson(geojson).typeName)

  /** Bounds-mask derivation (reference index.js:325-341): layers whose
    * geocoder_stack sets are disjoint can never spatialmatch together, so
    * each stacked layer masks out every other stacked layer it shares no
    * stack member with. Explicit nonOverlapping entries are kept.
    */
  def deriveNonOverlapping(configs: Seq[LayerConfig]): Seq[LayerConfig] =
    configs.map { a =>
      if (a.stack.isEmpty) a
      else {
        val mask = configs.filter(b => b.stack.nonEmpty &&
          !b.stack.exists(a.stack.contains)).map(_.idx).toSet
        a.copy(nonOverlapping = a.nonOverlapping ++ mask)
      }
    }

  def build(spark: SparkSession, layers0: Seq[(LayerConfig, Dataset[GeoDoc])]): CarmenIndex = {
    import spark.implicits._
    val cfgs2 = deriveNonOverlapping(layers0.map(_._1))
    val layers = layers0.zip(cfgs2).map { case ((_, d), c) => (c, d) }
    val built = layers.map { case (cfg, docs0) =>
      val replBc = spark.sparkContext.broadcast(replacersFor(cfg))
      // 1a. standardize front half (I2 rewind -> I1 validate -> I18
      // addrTransform) with a quarantine side-output: invalid docs are
      // rejected with the reference's error strings instead of flowing
      // silently into the index (reference indexdocs.js:164-226)
      val checked = docs0
        .map(d => DocHygiene.standardizeDoc(d) match {
          case Right(ok) => (ok, "")
          case Left(err) => (d, err)
        })
        .localCheckpoint()
      val quarantine = checked.filter(_._2.nonEmpty)
        .map { case (d, err) => (d.id, err) }
        .toDF("id", "error")
      // 1b. I5 outlier clamp, tile covers at the layer zoom (I3/I4),
      // center verification (I6)
      val docs = checked.filter(_._2.isEmpty).map(_._1)
        .map(DocHygiene.clampRanges _)
      val withCovers = docs.toDF()
        .withColumn("zxy", coverUdf(col("geometry"), lit(cfg.zoom),
          col("centerLon"), col("centerLat")))
        .withColumn("center_fixed", centerFixUdf(col("centerLon"),
          col("centerLat"), col("zxy").cast("array<string>"), col("geometry")))
        .withColumn("centerLon", col("center_fixed").getItem(0))
        .withColumn("centerLat", col("center_fixed").getItem(1))
        .drop("center_fixed")
        .withColumn("id24", pmod(abs(col("id")), lit(1L << 24)))
        // carmen:types default [source type] (reference feature.js:124)
        .withColumn("types", when(size(col("types")) > 0, col("types"))
          .otherwise(array(lit(cfg.typ))))
        .withColumn("num_geoms", numGeomsUdf(col("geometry")))
        .withColumn("geom_bin", geomBinUdf(col("geometry")))
        .withColumn("geom_type", geomTypeUdf(col("geometry")))
        .cache()

      val docCovers = withCovers
        .select(col("id"), col("id24"), col("text"), col("score"),
          col("zxy").cast("array<string>"), col("addressnumber"),
          col("rangetype"), col("lfromhn"), col("ltohn"), col("rfromhn"),
          col("rtohn"), col("intersections"), col("langTexts"),
          col("num_geoms").as("numGeometries"))
        .as[DocCover]

      // 2. corpus frequency (I8): distributed hash agg, broadcast result
      // (reference indexdocs.js:68: simple + complex QUERY replacer).
      // The driver collect is capped at the top VocabCap terms by count
      // (TakeOrdered, no global sort): a web-scale vocabulary cannot
      // overflow the driver, and dropped tail terms fall back to the
      // cutoff count — an upper bound on their true count, so their IDF
      // weight is at most slightly underestimated.
      val freqAgg = docCovers
        .flatMap { d =>
          val r = replBc.value
          Phrases.minimalIndexableTextFull(r.simple, r.complexQuery, r.global,
            d.text, d.langTexts.toVector.sortBy(_._1), housenumRangeOf(d)).flatten
        }
        .groupByKey(identity).count()
        .toDF("term", "cnt")
        .localCheckpoint()
      val total = freqAgg.agg(coalesce(sum(col("cnt")), lit(0L)))
        .head().getLong(0)
      val freqRows = freqAgg.orderBy(col("cnt").desc, col("term"))
        .limit(VocabCap)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val defaultCount =
        if (freqRows.length >= VocabCap) freqRows.map(_._2).min else 1L
      val maxScore =
        if (cfg.maxscore >= 0) cfg.maxscore
        else withCovers.agg(coalesce(max(col("score")), lit(0.0)))
          .as[Double].head()
      val freq = Phrases.Freq(freqRows.toMap, total, maxScore, defaultCount)
      val freqBc = spark.sparkContext.broadcast(freq)

      // 3. phrase enumeration + grid assembly (I10/I11/I14), one flatMap
      // (reference indexdocs.js:83 loadDoc: simple + complex INDEXING replacer)
      val layerName = cfg.name
      val languages = cfg.languages.toVector
      val autoPopulate = cfg.autoPopulate.toVector
      val categories = cfg.categories
      // I12: per-language fallback chains for the fill step
      // (reference indexdocs.js:77-79)
      val fallbackMatrix = ClosestLang.fallbackMatrix(
        languages.filter(_ != "default"))
      val postingsDs = docCovers
        .flatMap { d =>
          val f = freqBc.value
          val r = replBc.value
          val score3 = GridCodec.encode3BitLogScale(d.score, f.maxScore)
          val xy = d.zxy.flatMap { s =>
            val parts = s.split("/")
            val x = parts(1).toInt
            val y = parts(2).toInt
            if (x < 0 || y < 0) None else Some((x, y))
          }
          val texts = Phrases.getIndexableTextFull(r.simple, r.complexIndexing,
            r.global, d.text, d.langTexts.toVector.sortBy(_._1), autoPopulate,
            categories,
            intersections = AddressTokens.getIntersectionText(
              d.intersections.map(_.toVector).toVector),
            housenumRange = housenumRangeOf(d))
          // per-phrase best relev across text variants (loadDoc semantics)
          val byPhrase = scala.collection.mutable.LinkedHashMap
            .empty[String, (Double, Int, scala.collection.mutable.LinkedHashSet[String])]
          for (t <- texts;
               p <- Phrases.getIndexablePhrases(t, f)) {
            val cur = byPhrase.get(p.phrase)
            val entry = cur.getOrElse((p.relev, p.hash,
              scala.collection.mutable.LinkedHashSet.empty[String]))
            val relev = math.max(entry._1, p.relev)
            t.languages.foreach(entry._3 += _)
            byPhrase(p.phrase) = (relev, entry._2, entry._3)
          }
          // I12 language fallback fill (reference indexdocs.js:420-449):
          // configured languages with no phrases inherit the phrases of
          // their closest present language
          if (languages.nonEmpty) {
            val present = byPhrase.valuesIterator.flatMap(_._3).toSet
            for (lang <- languages if lang != "all" && lang != "default" &&
                 !present.contains(lang)) {
              fallbackMatrix.getOrElse(lang, Vector.empty)
                .find(present.contains)
                .foreach { candidate =>
                  for ((_, (_, _, langs)) <- byPhrase if langs.contains(candidate))
                    langs += lang
                }
            }
          }
          for {
            (phrase, (relev, hash, langs)) <- byPhrase.iterator
            (x, y) <- xy
          } yield (layerName, phrase, langs.toVector.sorted.mkString(","),
            relev, score3, d.id24, x, y, hash)
        }
        .toDF("layer", "phrase", "lang_set", "relev", "score3", "id24", "x", "y",
          "phrase_hash")

      // 4. phrase ids: lexicographically dense ids (S7 analog, reference
      // lib/indexer/index.js:221-225) WITHOUT a global single-partition
      // window: range-partition the distinct phrases, rank within each
      // partition, then add per-partition offsets (one tiny collect of
      // partition counts). Scales to any vocabulary.
      val distinctPhrases = postingsDs.select(col("phrase")).distinct()
      val idParts = math.max(2, spark.sparkContext.defaultParallelism / 2)
      val rankedLocal = distinctPhrases
        .repartitionByRange(idParts, col("phrase"))
        .withColumn("pid", spark_partition_id())
        .withColumn("local_rank", row_number().over(
          Window.partitionBy(col("pid")).orderBy(col("phrase"))))
        .localCheckpoint()
      val counts = rankedLocal.groupBy(col("pid"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
        (pid, acc + n)
      }.tail.zip(counts).map { case ((pid, end), (_, n)) => (pid, end - n) }
      val offsetsDf = spark.createDataFrame(offsets.toSeq).toDF("pid", "offset")
      val phraseIndex = rankedLocal
        .join(broadcast(offsetsDf), Seq("pid"))
        .select(col("phrase"), (col("offset") + col("local_rank")).as("phrase_id"))
      // gridstore shape (S6, reference lib/indexer/index.js:139-197): the
      // stored posting row is ONE row per (phrase, lang_set) with its grids
      // pre-packed into two parallel long arrays — the same 2-long packing
      // the spatialmatch kernels decode on demand (StackCoalesce's
      // gX/gY/gRelev/... packed-field accessors). Grouping here, at
      // index build, means the per-query phrasematch join delivers ready
      // grid arrays: no per-query collect_list re-aggregation of hot
      // phrases' grid lists (the measured 55 MB/query allocation hot spot,
      // SCALING_r4.json) and one less shuffle per forward() call. The
      // struct sort makes array order deterministic (stable goldens).
      val postings = postingsDs
        .join(phraseIndex, Seq("phrase"))
        .groupBy(col("layer"), col("phrase"), col("phrase_id"), col("lang_set"))
        .agg(sort_array(collect_list(struct(
          packGridA.as("a"), packGridB.as("b")))).as("g"))
        .select(col("layer"), col("phrase"), col("phrase_id"), col("lang_set"),
          col("g.a").as("gridsA"), col("g.b").as("gridsB"))

      // 5. tile_features: explode covers (S8); geometry travels pre-parsed
      // (geom_bin/geom_type), the JSON string stays on `features` only
      val tileFeatures = withCovers
        .select(col("id"), col("id24"), col("text"), col("score"),
          col("centerLon").as("center_lon"), col("centerLat").as("center_lat"),
          col("geom_bin"), col("geom_type"), col("langTexts"), col("types"),
          explode(col("zxy")).as("zxy_str"))
        .withColumn("z", split(col("zxy_str"), "/").getItem(0).cast("int"))
        .withColumn("x", split(col("zxy_str"), "/").getItem(1).cast("int"))
        .withColumn("y", split(col("zxy_str"), "/").getItem(2).cast("int"))
        .drop("zxy_str")

      // I16 cleanDocs (reference lib/indexer/index.js:254-262): non-address
      // sources drop the feature-store geometry — tile_features keeps the
      // pre-parsed geometry for reverse/context, so nothing downstream
      // reads these columns for non-address layers
      val features0 = withCovers
        .withColumnRenamed("centerLon", "center_lon")
        .withColumnRenamed("centerLat", "center_lat")
      val features =
        if (cfg.geocoderAddress) features0
        else features0
          .withColumn("geometry", lit(""))
          .withColumn("geom_bin", lit(null).cast("binary"))

      // Word-replacement awareness (the engine analog of fuzzy-phrase's
      // loadWordReplacements, reference index.js:356): each candidate row
      // carries `vtext` — the phrase with ONE stored word reverted to its
      // un-replaced source ("ft" -> "fort") — so a typed partial prefix of
      // the source still reaches the stored phrase ("fo" / "30th stre").
      // One position at a time suffices: complete query words are already
      // simple-replaced to stored form before matching.
      val reverseSimple: Map[String, Vector[String]] =
        replacersFor(cfg).simple.tokens.toVector
          .groupMap(_._2)(_._1).view.mapValues(_.sorted).toMap
      def wordVariantsOf(p: String): Vector[String] =
        if (reverseSimple.isEmpty) Vector(p)
        else {
          val ws = p.split(" ", -1).toVector
          val out = Vector.newBuilder[String]
          out += p
          var i = 0
          while (i < ws.length) {
            for (src <- reverseSimple.getOrElse(ws(i), Vector.empty))
              out += ws.updated(i, src).mkString(" ")
            i += 1
          }
          out.result().distinct
        }

      // 6. symmetric-delete fuzzy candidate table (P6): variant -> phrase
      val deletes = distinctPhrases
        .as[String]
        .flatMap { p =>
          for {
            vt <- wordVariantsOf(p)
            v <- Fuzzy.phraseVariants(vt)
          } yield (v, vt, p)
        }
        .toDF("variant", "vtext", "phrase")
        .withColumn("layer", lit(cfg.name))

      // 7. bounded-length prefix keys for autocomplete (P1 prefix branch):
      // (pfx, pfx_len) is an equi-join key — no nested-loop prefix scan
      val prefixes = distinctPhrases
        .as[String]
        .flatMap { p =>
          for {
            vt <- wordVariantsOf(p)
            l <- 1 to math.min(MaxPrefixLen, vt.length)
          } yield (vt.substring(0, l), l, vt, p)
        }
        .toDF("pfx", "pfx_len", "vtext", "phrase")
        .withColumn("layer", lit(cfg.name))

      // 8. fuzzy-prefix keys (P6 prefix tail, reference endingType
      // anyPrefix/wordBoundaryPrefix into the fuzzy store,
      // phrasematch.js:83-96,106): symmetric-delete variants of the
      // bounded-length phrase-prefix keys. Two strings within one character
      // edit always share a member of {x} union deletes1(x) at adjacent
      // key lengths, so a typo ANYWHERE in the typed window — including
      // the final, partially-typed word — still equi-joins; the residual
      // Fuzzy.fuzzyPrefixMatch check verifies word-budgeted DL<=1.
      // Key lengths 3..MaxPrefixLen: fuzzy queries are >= MinCorrectionLength
      // chars, so their variant keys are >= 3 chars.
      val prefixDeletes = distinctPhrases
        .as[String]
        .flatMap { p =>
          for {
            vt <- wordVariantsOf(p)
            v <- (3 to math.min(MaxPrefixLen, vt.length)).iterator
              .flatMap(l => Fuzzy.deleteVariants(vt.substring(0, l)))
              .toVector.distinct
          } yield (v, vt, p)
        }
        .toDF("variant", "vtext", "phrase")
        .withColumn("layer", lit(cfg.name))

      LayerIndex(cfg, features, postings, tileFeatures, math.max(maxScore, 0.0),
        deletes, prefixes, prefixDeletes, quarantine)
    }
    CarmenIndex(built.toVector)
  }

  /** S9 vectorizable doc expansion (reference indexdocs.js:104-158): address
    * clusters and intersections explode into one point feature per number,
    * ITP ranges into one linestring per segment; plain docs pass through.
    * The engine's unified tile_features covers the full (Collection)
    * geometry instead — min-distance and PIP outcomes are identical — so
    * this operator exists for vector-tile-compatible export, not the hot
    * reverse path.
    */
  final case class VectorFeature(id: Long, kind: String, geometry: String,
                                 number: String)
  def vectorizable(spark: SparkSession, docs: Dataset[GeoDoc]): Dataset[VectorFeature] = {
    import spark.implicits._
    docs.flatMap { d =>
      val out = Vector.newBuilder[VectorFeature]
      val parts: Vector[Geom] = Geom.fromJson(d.geometry) match {
        case Geom.Collection(gs) => gs
        case g => Vector(g)
      }
      var exploded = false
      if (d.addressnumber.nonEmpty) {
        exploded = true
        for ((nums, i) <- d.addressnumber.zipWithIndex if nums != null) {
          parts.lift(i) match {
            case Some(Geom.MultiPoint(pts)) =>
              for ((n, j) <- nums.zipWithIndex if j < pts.length)
                out += VectorFeature(d.id, "address",
                  Geom.toJson(Geom.Point(pts(j))), n)
            case _ => ()
          }
        }
      }
      if (d.intersections.nonEmpty) {
        exploded = true
        for ((names, i) <- d.intersections.zipWithIndex if names != null) {
          parts.lift(i) match {
            case Some(Geom.MultiPoint(pts)) =>
              for ((n, j) <- names.zipWithIndex if j < pts.length)
                out += VectorFeature(d.id, "intersection",
                  Geom.toJson(Geom.Point(pts(j))), n)
            case _ => ()
          }
        }
      }
      if (d.rangetype.nonEmpty) {
        exploded = true
        for (p <- parts) p match {
          case Geom.MultiLineString(lines) =>
            for (line <- lines)
              out += VectorFeature(d.id, "range",
                Geom.toJson(Geom.LineString(line)), "")
          case _ => ()
        }
      }
      if (!exploded)
        out += VectorFeature(d.id, "feature", d.geometry, "")
      out.result()
    }
  }

  /** S10 analyze (reference lib/util/analyze.js:21-53): grid counts by
    * 3-bit score and relev bucket plus a duplicate-grid check — one hash
    * aggregate over the postings.
    */
  def analyze(postings: DataFrame): DataFrame = {
    val dups = postings
      .groupBy(col("phrase"), col("lang_set"), col("score3"), col("relev"),
        col("id24"), col("x"), col("y"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1).count()
    val byScore = postings.groupBy(col("score3").as("k"))
      .agg(count(lit(1)).as("v"))
      .select(concat(lit("score_"), col("k")).as("stat"), col("v").as("value"))
    val byRelev = postings
      .groupBy(format_number(col("relev"), 1).as("k"))
      .agg(count(lit(1)).as("v"))
      .select(concat(lit("relev_"), col("k")).as("stat"), col("v").as("value"))
    val spark = postings.sparkSession
    import spark.implicits._
    byScore.unionByName(byRelev)
      .unionByName(Seq(("total", postings.count()), ("duplicate_grids", dups))
        .toDF("stat", "value"))
  }
}
