package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Language-tag distance + fallback resolution — port of the reference
  * lib/text-processing/closest-lang.js:43-334 over a hand-built BCP47
  * subtag table (public IANA language-subtag-registry knowledge:
  * ISO 639-1 codes + Suppress-Script, common scripts and regions) and the
  * display/indexer fallback chains.
  */
object ClosestLang {

  final case class Subtag(typ: String, subtag: String, suppressScript: String)

  private val mapper = new ObjectMapper()

  private lazy val data = {
    val node = mapper.readTree(
      getClass.getResourceAsStream("/graft/langdata.json"))
    def entries(name: String): Vector[(String, com.fasterxml.jackson.databind.JsonNode)] =
      node.get(name).properties().iterator().asScala.map(e => (e.getKey, e.getValue)).toVector
    val languageOnly = scala.collection.mutable.LinkedHashMap.empty[String, Subtag]
    for ((k, v) <- entries("languages"))
      languageOnly(k) = Subtag("language", v.get(0).asText(), v.get(1).asText())
    val nonLanguage = scala.collection.mutable.LinkedHashMap.empty[String, Subtag]
    for ((k, v) <- entries("scripts")) nonLanguage(k) = Subtag("script", v.asText(), "")
    for ((k, v) <- entries("regions")) nonLanguage(k) = Subtag("region", v.asText(), "")
    // lowercase aliases for keys containing capitals (closest-lang.js:15-24)
    for (m <- Seq(languageOnly, nonLanguage); k <- m.keys.toVector
         if k.exists(_.isUpper)) {
      val lk = k.toLowerCase(java.util.Locale.ROOT)
      if (!m.contains(lk)) m(lk) = m(k)
    }
    def fb(name: String): Map[String, Vector[String]] =
      entries(name).map { case (k, v) =>
        (k.toLowerCase(java.util.Locale.ROOT),
          v.elements().asScala.map(_.asText()).toVector)
      }.toMap
    (languageOnly.toMap, nonLanguage.toMap, fb("fallbackDisplay"), fb("fallbackIndexer"))
  }

  private def languageOnlyRef = data._1
  private def nonLanguageRef = data._2
  private def fallbackDisplay = data._3
  private def fallbackIndexer = data._4

  /** getLanguage (closest-lang.js:43-69). */
  def getLanguage(str0: String): Option[Vector[Subtag]] = {
    val str = if (str0 == null) "" else str0
    val direct = languageOnlyRef.get(str)
      .orElse(languageOnlyRef.get(str.toLowerCase(java.util.Locale.ROOT)))
    if (direct.isDefined) return Some(Vector(direct.get))
    val parts = str.replace("_", "-").split("-", -1)
    if (parts.length > 1) {
      val matched = parts.zipWithIndex.flatMap { case (d, i) =>
        val ref = if (i == 0) languageOnlyRef else nonLanguageRef
        ref.get(d).orElse(
          if (d.exists(_.isUpper)) ref.get(d.toLowerCase(java.util.Locale.ROOT))
          else None)
      }.toVector
      if (matched.nonEmpty) Some(matched) else None
    } else None
  }

  /** hasLanguage (closest-lang.js:76-80). */
  def hasLanguage(str: String): Boolean =
    str == "universal" ||
      getLanguage(str).exists(_.headOption.exists(_.typ == "language"))

  private def scriptComponent(subtags: Vector[Subtag]): Option[String] =
    subtags.find(_.typ == "script").map(_.subtag).orElse(
      subtags.find(s => s.typ == "language" && s.suppressScript.nonEmpty)
        .map(_.suppressScript))

  private def languageComponent(subtags: Vector[Subtag]): Option[String] =
    subtags.find(_.typ == "language").map(_.subtag)

  private val languageBonuses = Map("ru" -> 2.0, "en" -> 2.0, "ar" -> 2.0, "hi" -> 2.0)
  private val scriptBonuses = Map("Hans" -> 1.0, "Latn" -> 1.0)
  private val digraphic = Set("sr")

  private final case class Scored(code: String, subtags: Vector[Subtag], score: Double)

  /** getScoredCandidates (closest-lang.js:131-178). */
  private def scoredCandidates(target: String,
                               candidateList: Vector[String]): Option[Vector[Scored]] = {
    val targetTags = getLanguage(target).getOrElse(Vector.empty)
    if (candidateList.isEmpty) return None
    val targetLanguage = languageComponent(targetTags)
    if (targetLanguage.isEmpty) return None
    val targetScript = scriptComponent(targetTags)
    val scored = candidateList.map { c =>
      val tags = getLanguage(c).getOrElse(Vector.empty)
      var score = 0.0
      val cl = languageComponent(tags)
      val cs = scriptComponent(tags)
      if (cl.isDefined && cl == targetLanguage) score += 100
      if (cs.isDefined && cs == targetScript) {
        score += (if (cs.contains("Latn")) 25 else 50)
      }
      cl.flatMap(languageBonuses.get).foreach(score += _)
      cs.flatMap(scriptBonuses.get).foreach(score += _)
      if (tags.length > 1) score -= 0.5 * (tags.length - 1)
      Scored(c, tags, score)
    }
    Some(scored.sortBy(-_.score)) // stable
  }

  /** closestLangLabel (closest-lang.js:181-244). `candidates` is the ordered
    * truthy key list of the reference's candidates object.
    */
  def closestLangLabel(target0: String, candidates: Vector[String],
                       prefix: String = "", languageMode: String = ""): Option[String] = {
    val target = target0.replaceFirst("-", "_")
    val primary = target.split("_")(0).toLowerCase(java.util.Locale.ROOT)
    val candSet = candidates.toSet

    if (candSet.contains(prefix + target)) return Some(target)

    val regexCandidates =
      if (prefix.nonEmpty)
        candidates.filter(_.startsWith(prefix)).map(_.substring(prefix.length))
      else candidates

    // case-insensitive exact
    regexCandidates.find(_.equalsIgnoreCase(target)) match {
      case Some(c) => return Some(c)
      case None =>
    }

    // display fallback chain
    for (fb <- fallbackDisplay.get(target.toLowerCase(java.util.Locale.ROOT));
         f <- fb)
      if (candSet.contains(prefix + f)) return Some(f)

    // language-only match
    for (c <- regexCandidates) {
      if (c.toLowerCase(java.util.Locale.ROOT) == primary) {
        if (!(languageMode == "strict" && digraphic.contains(primary)))
          return Some(c)
      }
    }

    // language-only fallback
    if (languageMode != "strict" && !digraphic.contains(primary)) {
      for (fb <- fallbackDisplay.get(primary); f <- fb)
        if (candSet.contains(prefix + f)) return Some(f)
    }

    if (candSet.contains(prefix + "universal")) return Some("universal")

    scoredCandidates(target, regexCandidates) match {
      case Some(sc) if sc.nonEmpty =>
        val winner = sc.head
        if (winner.score < 50 ||
          (languageMode == "strict" && digraphic.contains(winner.code))) None
        else Some(winner.code)
      case _ => None
    }
  }

  /** fallbackRanking (closest-lang.js:252-289). */
  def fallbackRanking(target0: String, candidateList: Vector[String]): Vector[String] = {
    val target = target0.replaceFirst("-", "_")
    val primary = target.split("_")(0).toLowerCase(java.util.Locale.ROOT)
    val candSet = candidateList.toSet
    val output = scala.collection.mutable.LinkedHashSet.empty[String]

    for (fb <- fallbackIndexer.get(target.toLowerCase(java.util.Locale.ROOT));
         f <- fb)
      if (candSet.contains(f)) output += f

    for (c <- candidateList)
      if (c.toLowerCase(java.util.Locale.ROOT) == primary &&
        c.toLowerCase(java.util.Locale.ROOT) != target) output += c

    for (fb <- fallbackIndexer.get(primary); f <- fb)
      if (candSet.contains(f)) output += f

    scoredCandidates(target, candidateList).foreach { sc =>
      for (c <- sc if c.score >= 50) output += c.code
    }

    output -= target
    output.toVector
  }

  /** fallbackMatrix (closest-lang.js:291-298). */
  def fallbackMatrix(candidateList: Vector[String]): Map[String, Vector[String]] =
    candidateList.map(c => c -> fallbackRanking(c, candidateList)).toMap

  /** getLanguageCode (closest-lang.js:309-313). */
  def getLanguageCode(str: String): Option[String] = {
    if (str == "universal") return Some("universal")
    if (!hasLanguage(str)) return None
    languageComponent(getLanguage(str).getOrElse(Vector.empty))
  }

  /** Languages close enough to pass languageMode=strict
    * (reference lib/text-processing/equivalent-languages.json).
    */
  val EquivalentLanguages: Map[String, Set[String]] = Map(
    "hr" -> Set("bs", "sr"),
    "bs" -> Set("hr", "sr"),
    "sr_Latn" -> Set("bs", "hr"))

  /** featureMatchesLanguage (reference lib/geocoder/filter-sources.js:119-139):
    * under languageMode=strict a feature passes only if its closest text
    * language matches (or is universal / an equivalent language of) the
    * requested one. `textKeys` are the feature's carmen:text* property keys.
    */
  def featureMatchesLanguage(language: Option[String], languageMode: String,
                             textKeys: Vector[String]): Boolean = {
    if (language.isEmpty || language.get.isEmpty) return true
    if (languageMode != "strict") return true
    val req = language.get.replace("-", "_")
    closestLangLabel(req, textKeys, "carmen:text_") match {
      case None => false
      case Some(label) =>
        (getLanguageCode(label), getLanguageCode(req)) match {
          case (Some(a), Some(b)) =>
            a == "universal" || a == b ||
              EquivalentLanguages.getOrElse(label, Set.empty).contains(b)
          case _ => false
        }
    }
  }

  /** getText (closest-lang.js:322-334): language-aware text selection.
    * Returns (text, Option(languageLabel)).
    */
  def getText(language: Option[String],
              properties: Vector[(String, String)]): (String, Option[String]) = {
    val propMap = properties.toMap
    val default = propMap.getOrElse("carmen:text", "")
    language match {
      case None => (default.split(",")(0).trim, None)
      case Some(lang) =>
        val keys = properties.map(_._1)
        val label = closestLangLabel(lang, keys, "carmen:text_")
        val langText = label.flatMap(l => propMap.get("carmen:text_" + l))
        val text = langText.getOrElse(default).split(",")(0).trim
        val outLang = label.filter(_ != "universal").filter(_ => langText.isDefined)
          .map(_.replace("_", "-"))
        (text, outLang)
    }
  }

  /** The display text of a feature: [[getText]] over its `carmen:text`
    * and its `carmen:text_{lang}` texts (keys in sorted order).
    */
  def displayText(language: Option[String], text: String,
                  langTexts: Map[String, String]): String =
    getText(language, ("carmen:text" -> text) +: langTexts.toVector
      .sortBy(_._1).map { case (k, v) => ("carmen:text_" + k) -> v })._1
}
