package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.query.VerifyRank
import graft.query.VerifyRank.Verified

/** Ports of the reference's function-level unit suites not already covered
  * by a reference-executed golden file or an acceptance fixture:
  *
  *  - test/unit/geocoder/phrasematch.test.js (findMaskBounds,
  *    requiredMasks, gapMasks)
  *  - test/unit/util/whitespace.test.js (numbersPlusLetters)
  *  - test/unit/geocoder/filter-sources.test.js (featureMatchesLanguage,
  *    equivalentLanguages)
  *  - test/unit/geocoder/verifymatch.test.js (sortContext fixture)
  *  - test/unit/geocoder/routablepoint.test.js (nearest-point-on-line
  *    geometry: straight line, zigzag diagonal, cul-de-sac tie-breaks)
  */
class UnitPortsSpec extends AnyFunSuite {

  private def tq(tokens: Vector[String] = Vector.empty,
                 owner: Vector[Int] = Vector.empty): TokenizedQuery =
    TokenizedQuery(tokens,
      Vector.fill(math.max(tokens.length, owner.length))(" "),
      if (owner.nonEmpty) owner else tokens.indices.toVector,
      lastWord = false)

  // --- phrasematch.test.js:44-66 ------------------------------------------
  test("findMaskBounds matches reference") {
    assert(Phrases.findMaskBounds(Integer.parseInt("0001", 2), 20) === ((0, 0)))
    assert(Phrases.findMaskBounds(Integer.parseInt("0011", 2), 20) === ((0, 1)))
    assert(Phrases.findMaskBounds(Integer.parseInt("0111", 2), 20) === ((0, 2)))
    assert(Phrases.findMaskBounds(Integer.parseInt("1111", 2), 20) === ((0, 3)))
    assert(Phrases.findMaskBounds(Integer.parseInt("0010", 2), 20) === ((1, 1)))
    assert(Phrases.findMaskBounds(Integer.parseInt("0110", 2), 20) === ((1, 2)))
    assert(Phrases.findMaskBounds(Integer.parseInt("1110", 2), 20) === ((1, 3)))
    assert(Phrases.findMaskBounds(Integer.parseInt("0100", 2), 20) === ((2, 2)))
    assert(Phrases.findMaskBounds(Integer.parseInt("1100", 2), 20) === ((2, 3)))
    assert(Phrases.findMaskBounds(Integer.parseInt("1000", 2), 20) === ((3, 3)))
    // doesn't bridge gaps
    assert(Phrases.findMaskBounds(Integer.parseInt("1001", 2), 20) === ((0, 0)))
    assert(Phrases.findMaskBounds(Integer.parseInt("0101", 2), 20) === ((0, 0)))
    // no bits set
    assert(Phrases.findMaskBounds(0, 20) === ((-1, -1)))
  }

  // --- phrasematch.test.js:67-87 ------------------------------------------
  test("requiredMasks matches reference") {
    def rm(owner: Int*) = Phrases.requiredMasks(tq(owner = owner.toVector))
    assert(rm(0, 1, 2, 3, 4) === Vector.empty)
    assert(rm(0, 0, 1, 2, 3) === Vector(3))
    assert(rm(0, 0, 0, 1, 2) === Vector(7))
    assert(rm(0, 1, 1, 2, 3) === Vector(6))
    assert(rm(0, 1, 2, 3, 3) === Vector(24))
    assert(rm(0, 0, 0, 1, 1) === Vector(7, 24))
    // removed tokens put no extra constraints on the result
    assert(rm(0, 1, 3, 4, 5) === Vector.empty)
    assert(rm(0, 0, 2, 3, 4) === Vector(3))
    assert(rm(0, 0, 0, 3, 4) === Vector(7))
    assert(rm(0, 2, 2, 2, 4) === Vector(14))
    assert(rm(0, 3, 4, 5, 8) === Vector.empty)
  }

  // --- phrasematch.test.js:88-101 -----------------------------------------
  test("gapMasks matches reference") {
    def gm(tokens: String*) = Phrases.gapMasks(tq(tokens = tokens.toVector))
    assert(gm("a", "b", "c", "d", "e") === Vector.empty)
    assert(gm("", "b", "c", "d", "e") === Vector(3))
    assert(gm("a", "b", "c", "d", "") === Vector(24))
    assert(gm("a", "b", "", "d", "e") === Vector(6, 12))
    assert(gm("a", "", "", "d", "e") === Vector(7, 14))
    assert(gm("a", "", "", "", "e") === Vector(15, 30))
    assert(gm("a", "", "c", "", "e") === Vector(3, 6, 12, 24))
    assert(gm("", "", "c", "", "") === Vector(7, 28))
  }

  // --- whitespace.test.js --------------------------------------------------
  test("numbersPlusLetters matches reference") {
    def ws(tokens: String*): Option[Vector[String]] =
      query.Phrasematch.whitespaceCorrectQ(tq(tokens = tokens.toVector))
        .map(_.tokens)
    assert(ws("100main", "st", "washington") ===
      Some(Vector("100 main", "st", "washington")))
    assert(ws("Rue", "Gallait76") === Some(Vector("Rue", "Gallait 76")))
    assert(ws("one", "two", "three") === None)
    // won't split ordinals — too few letters after the number
    assert(ws("21st", "st") === None)
    assert(ws("100", "mainst") === None)
  }

  // --- filter-sources.test.js:121-200 --------------------------------------
  test("featureMatchesLanguage matches reference") {
    def fml(language: Option[String], mode: String, keys: String*): Boolean =
      ClosestLang.featureMatchesLanguage(language, mode, keys.toVector)
    // allowed: languageMode !== strict
    assert(fml(Some("en"), "", "carmen:text"))
    // allowed: language is not defined
    assert(fml(None, "strict", "carmen:text"))
    // allowed: matching language text
    assert(fml(Some("en"), "strict", "carmen:text_en"))
    // allowed: zh_TW request against zh text
    assert(fml(Some("zh_TW"), "strict", "carmen:text_zh"))
    // allowed: matching fallback language text
    assert(fml(Some("es"), "strict", "carmen:text_en", "carmen:text_es"))
    // disallowed: no fallback to a different language
    assert(!fml(Some("es"), "strict", "carmen:text_en"))
    // disallowed: no matching text
    assert(!fml(Some("en"), "strict", "carmen:text"))
    // allowed: text_universal
    assert(fml(Some("en"), "strict", "carmen:text", "carmen:text_universal"))
    // allowed: sr request against hr text (equivalent languages)
    assert(fml(Some("sr"), "strict", "carmen:text", "carmen:text_hr"))
  }

  test("equivalentLanguages matches reference json") {
    assert(ClosestLang.EquivalentLanguages("sr_Latn").contains("hr"))
    assert(ClosestLang.EquivalentLanguages("hr") === Set("bs", "sr"))
    assert(ClosestLang.EquivalentLanguages("bs") === Set("hr", "sr"))
  }

  // --- verifymatch.test.js:23-88 (sortContext 12-context fixture) ----------
  test("sortContext tie-break chain matches the reference fixture") {
    // (Verified, composite carmen:relevance) per reference context, keyed by
    // the expected final position = the fixture's feature id.
    def v(id: Long, relevance: Double, ac: Double, scoredist: Double = 0,
          typeindex: Int = 0, hasAddress: Boolean = false,
          addressPos: Int = -1, fromCluster: Boolean = false,
          interpolated: Boolean = false, omitted: Boolean = false,
          sortPos: Int = 0): (Verified, Double) =
      (Verified(position = 0, relevance = relevance, scoredist = scoredist,
        typeindex = typeindex, leadFeatureId = id, hasAddress = hasAddress,
        addressPos = addressPos, fromCluster = fromCluster,
        interpolated = interpolated, omitted = omitted,
        sortPos = sortPos), ac)

    val fixture = Vector(
      v(11, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 1, interpolated = true, omitted = true, sortPos = 1),
      v(10, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 1, interpolated = true, omitted = true, sortPos = 1),
      v(9, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 1, interpolated = true, omitted = true, sortPos = 0),
      v(8, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 1, interpolated = true, omitted = true),
      v(7, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 1, interpolated = true),
      v(6, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 1),
      v(5, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 1, fromCluster = true),
      v(4, 0.9, 0.9, scoredist = 9, typeindex = 1, hasAddress = true,
        addressPos = 0),
      v(3, 0.9, 0.9, scoredist = 9, typeindex = 1),
      v(2, 0.9, 0.9, scoredist = 10),
      v(1, 0.9, 1.0),
      v(0, 1.0, 0.0))

    val sorted = VerifyRank.sortAll(fixture)
    assert(sorted.map(_._1.leadFeatureId) === (0L to 11L).toVector)
  }

  // --- routablepoint.test.js (nearest-point-on-line geometry) ---------------
  private def nearest6(g: Geom, lon: Double, lat: Double): (Double, Double) = {
    val Some((x, y)) = Geom.nearestPointOnLine(g, lon, lat)
    (JsNum.roundTo(x, 6), JsNum.roundTo(y, 6))
  }

  test("routable point on a straight line matches reference") {
    val line = Geom.MultiLineString(Vector(Vector(
      (1.111, 1.11), (1.112, 1.11), (1.114, 1.11), (1.118, 1.11))))
    // actual address point above the line
    assert(nearest6(line, 1.113, 1.111) === ((1.113, 1.11)))
    // point already on the linestring returns itself
    assert(nearest6(line, 1.111, 1.11) === ((1.111, 1.11)))
    // point between linestring coords projects onto the segment
    assert(nearest6(line, 1.113, 1.115) === ((1.113, 1.11)))
    // point past the covered x-range still projects onto the line
    assert(nearest6(line, 1.115, 1.115) === ((1.115, 1.11)))
  }

  test("routable point on a zigzag line projects onto the diagonal") {
    val line = Geom.MultiLineString(Vector(Vector(
      (1.111, 1.11), (1.112, 1.112), (1.114, 1.11), (1.118, 1.112))))
    assert(nearest6(line, 1.116, 1.113) === ((1.1168, 1.1114)))
  }

  test("routable point in a cul-de-sac breaks ties like the reference") {
    val sac = Geom.MultiLineString(Vector(Vector(
      (1.111, 1.112), (1.111, 1.111), (1.112, 1.111), (1.112, 1.112))))
    // equidistant walls: projection lands on the side closest to the
    // beginning of the line
    assert(nearest6(sac, 1.1115, 1.1115) === ((1.111, 1.1115)))
    // off-center: the closer (right) wall wins
    assert(nearest6(sac, 1.1118, 1.1115) === ((1.112, 1.1115)))
    // equidistant in planar terms between the bottom and the right wall:
    // spherical ranking (east-west scaled by cos lat) picks the right wall
    assert(nearest6(sac, 1.1118, 1.1112) === ((1.112, 1.1112)))
  }
}
