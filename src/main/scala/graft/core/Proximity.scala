package graft.core

/** Proximity / scoring scalar math
  * (reference lib/util/proximity.js, lib/constants.js:10-14).
  */
object Proximity {
  val Z6Radius = 1800.0
  val Z12Radius = 600.0
  val Z14Radius = 100.0

  /** σ² of the gaussian distance decay: variance(0.75, 0.5). */
  val VarianceConstant: Double = variance(0.75, 0.5)

  def variance(scale: Double, decay: Double): Double = {
    require(decay != 0, "decay must be > 0")
    -0.5 * (StrictMath.pow(scale, 2) / StrictMath.log(decay))
  }

  def gauss(nDist: Double, variance: Double, offset: Double = 0): Double =
    StrictMath.exp(-0.5 * StrictMath.pow(math.max(0, nDist - offset), 2) / variance)

  def scaleRadius(zoom: Int): Double =
    if (zoom <= 6) Z6Radius else if (zoom <= 12) Z12Radius else Z14Radius

  /** Distance weight in [1, 10] along the gaussian decay. */
  def distWeight(dist: Double, zoom: Int, radius: Double = 0): Double = {
    val r = if (radius != 0) radius else scaleRadius(zoom)
    val gaussVal = gauss(dist / r * 3, VarianceConstant)
    9 * gaussVal + 1
  }

  /** Score weight in [1, 500], linear in (score-min)/(max-min). */
  def scoreWeight(score: Double, minScore: Double, maxScore: Double): Double =
    ((score - minScore) / (maxScore - minScore)) * 499 + 1

  def scoredist(score: Double, minScore: Double, maxScore: Double,
                dist: Double, zoom: Int, radius: Double = 0): Double =
    distWeight(dist, zoom, radius) * scoreWeight(score, minScore, maxScore)

  /** distance(proximity, center, cover): min of center distance and the
    * furthest cover-tile corner (reference proximity.js:41-65).
    */
  def distance(proxLon: Double, proxLat: Double, centerLon: Double, centerLat: Double,
               coverX: Int, coverY: Int, coverZoom: Int): Double = {
    val centerDist = Mercator.haversineMiles(proxLon, proxLat, centerLon, centerLat)
    var maxCoverDist = 0.0
    var dx = 0
    while (dx <= 1) {
      var dy = 0
      while (dy <= 1) {
        val (lon, lat) = Mercator.ll((coverX + dx) * Mercator.TileSize,
          (coverY + dy) * Mercator.TileSize, coverZoom)
        val d = Mercator.haversineMiles(proxLon, proxLat, lon, lat)
        if (d > maxCoverDist) maxCoverDist = d
        dy += 1
      }
      dx += 1
    }
    math.min(centerDist, maxCoverDist)
  }

  /** Reverse-geocode distance-adjusted score (reference proximity.js:192-198). */
  def distscore(dist: Double, score: Double): Double =
    JsNum.jsRound(score * (1000.0 / math.max(dist, 35.0)) * 1.0e4) / 1.0e4

  /** Composite relevance (reference proximity.js:212-222). `addressNull`
    * applies the carmen:address === null penalty.
    */
  def relevanceScore(relev: Double, scoredist: Double,
                     addressNull: Boolean, ghost: Boolean): Double = {
    var r = relev
    if (addressNull) r = math.max(0, r - 0.0008)
    if (ghost) r = math.max(0, r - 0.01)
    r * 0.6 + ((scoredist - 1) / (5000 - 1)) * 0.4
  }
}
