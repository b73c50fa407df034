package graft.model

/** Layer (index) configuration — the subset of carmen source metadata the
  * engine consumes (reference docs/data-sources.md:19-52, resolved in
  * index.js:115-322).
  *
  * @param name geocoder_name — layers sharing a name form one `ndx` group
  *             and never stack together (reference index.js:286-322)
  * @param idx  position in the layer ordering (coarse -> fine)
  * @param zoom index zoom (<= 14; tile covers computed at this zoom)
  * @param typ  feature type (country/region/place/street/address/poi)
  * @param nonOverlapping idxs this layer never stacks with
  *             (reference index.js:325-342)
  */
final case class LayerConfig(
    name: String,
    idx: Int,
    zoom: Int,
    typ: String,
    stack: Seq[String] = Nil,
    nonOverlapping: Set[Int] = Set.empty,
    geocoderAddress: Boolean = false,
    geocoderTokens: Seq[(String, graft.core.TokenSpec)] = Nil, // geocoder_tokens
    globalTokens: Seq[(String, String)] = Nil,                 // global replacers
    intersectionToken: String = "",      // geocoder_intersection_token
    languages: Seq[String] = Nil,        // geocoder_languages (lang_map + I12 fill)
    autoPopulate: Seq[String] = Nil,     // geocoder_languages_from_default
    categories: Set[String] = Set.empty,
    expectedNumberOrder: String = "",    // geocoder_expected_number_order
    scoreranges: Map[String, Seq[Double]] = Map.empty, // subtype -> [lo, hi] fractions

    geocoderFormat: String = "",         // geocoder_format template
    // geocoder_format_{lang} templates (reference geocode-unit.multilanguage:
    // per-language place_name assembly order)
    geocoderFormats: Map[String, String] = Map.empty,
    geocoderInheritScore: Boolean = false, // geocoder_inherit_score
    geocoderGrantScore: Boolean = true,    // geocoder_grant_score
    geocoderIgnoreOrder: Boolean = false,  // geocoder_ignore_order
    geocoderRoutable: Boolean = false,     // geocoder_routable
    // geocoder_address_order: expected query hierarchy direction for the
    // +-0.01 direction bonus (reference verifymatch.js:748, jp-order)
    geocoderAddressOrder: String = "ascending",
    bounds: Seq[Double] = Seq(-180, -85, 180, 85), // source bounds [W,S,E,N]
    // geocoder_types: multi-type sources ("region" source that can also
    // stack as "place"); empty = [typ] (reference index.js:292-295)
    geocoderTypes: Seq[String] = Nil,
    // geocoder_worldview: "" = present in every worldview ("_all"),
    // otherwise only queries with this worldview see the layer
    // (reference index.js:139-153)
    worldview: String = "",
    // geocoder_reverse_mode: layer participates in reverseMode=score
    // distscore ordering (reference context.js:456). The engine defaults
    // this ON: score-mode reverse over layers without the flag is the
    // uncommon configuration.
    geocoderReverseMode: Boolean = true,
    // geocoder_name when it differs from the unique source name: worldview
    // variants of one logical layer share a geocoder_name ("country") under
    // distinct source names ("country_wv_us"); "" = name
    geocoderName: String = "",
    // declared source-meta score bounds (reference index.js meta maxscore/
    // minscore): when maxscore is >= 0 it overrides the derived layer max
    // for the 3-bit scale factor and the geocoder-wide scoreWeight range
    maxscore: Double = -1.0,
    minscore: Double = 0.0,
    // geocoder_coalesce_radius (reference index.js:233,381): per-source
    // proximity radius (miles) for coalesce's scoredist decay and the
    // nearby-grid filtering; 0 = unset -> the zoom-scaled default
    coalesceRadius: Double = 0.0
) {
  /** Effective geocoder_name (reference byname grouping). */
  def gname: String = if (geocoderName.nonEmpty) geocoderName else name
  /** Types this source can stack as (reference bytype registration). */
  def allTypes: Seq[String] = if (geocoderTypes.nonEmpty) geocoderTypes else Seq(typ)
  /** carmen:conflict key (reference context.js:652). */
  def conflictKey: String = if (gname != typ) gname else ""

  /** Signature of the query-side text-processing config: layers sharing it
    * can share one enumerated-subquery set.
    */
  def querySignature: String =
    s"$geocoderAddress|$intersectionToken|${globalTokens.mkString(";")}|" +
      geocoderTokens.map { case (f, t) => s"$f->$t" }.mkString(";")
}

/** A geo feature document (carmen doc core). Geometry is GeoJSON text.
  * Address/intersection arrays align with GeometryCollection parts
  * (reference docs/data-sources.md:54-168); empty inner entries mark the
  * reference's nulls.
  */
final case class GeoDoc(
    id: Long,
    text: String,             // carmen:text (comma-separated synonyms)
    score: Double,            // carmen:score
    geometry: String,         // GeoJSON
    centerLon: Double,        // carmen:center
    centerLat: Double,
    addressnumber: Seq[Seq[String]] = Nil,  // carmen:addressnumber
    rangetype: String = "",                 // carmen:rangetype
    lfromhn: Seq[Seq[String]] = Nil,
    ltohn: Seq[Seq[String]] = Nil,
    rfromhn: Seq[Seq[String]] = Nil,
    rtohn: Seq[Seq[String]] = Nil,
    parityl: Seq[Seq[String]] = Nil,
    parityr: Seq[Seq[String]] = Nil,
    intersections: Seq[Seq[String]] = Nil,  // carmen:intersections
    langTexts: Map[String, String] = Map.empty, // lang -> carmen:text_{lang}
    overrides: Map[String, String] = Map.empty, // "override:{type}" -> text
    // carmen:addressprops: prop -> (address idx -> value); "" deletes the
    // base prop for that address (reference addresscluster.js:33-50)
    addressprops: Map[String, Map[Int, String]] = Map.empty,
    // carmen:types: the stack types this feature can claim, coarse->fine;
    // empty = [layer type] (reference feature.js:124, context.js:186-188)
    types: Seq[String] = Nil,
    // carmen:reverse_only: never a forward-geocode lead; still appears in
    // context and reverse results (reference verifymatch.js:472)
    reverseOnly: Boolean = false,
    // geometry.omitted: a degen-address feature whose geometry was dropped
    // at index time; loses dedupe/sort ties to non-omitted duplicates
    // (reference geocode-unit.duplicate-address.test.js)
    omitted: Boolean = false
)

/** A coalesce cover entry (reference lib/geocoder/spatialmatch.js:208-226). */
final case class CoverEntry(
    x: Int,
    y: Int,
    relev: Double,            // grid relev x pm weight
    score: Double,            // decoded score
    id24: Long,
    idx: Int,
    tmpid: Long,
    mask: Int,
    distance: Double,
    scoredist: Double,
    matchesLanguage: Boolean,
    phraseHash: Int,
    zoom: Int,
    text: String,
    prefix: Boolean,
    addrNum: String = "",
    partial: Boolean = false,
    catMatch: Boolean = false,
    addrPos: Int = -1
)

/** One stacked spatial-match result for a query. */
final case class StackResult(
    queryId: Long,
    relev: Double,
    scoredist: Double,
    covers: Vector[CoverEntry]
)
