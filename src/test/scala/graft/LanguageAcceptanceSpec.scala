package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.IndexBuilder
import graft.model.{GeoDoc, LayerConfig}
import graft.query.Forward

/** Ported language acceptance fixtures (reference
  * test/acceptance/geocode-unit.promote-language.test.js and
  * geocode-unit.languageFallback.test.js behaviors): language-tagged
  * phrases, the x0.96 mismatch penalty, and fallback-matrix fill.
  */
class LanguageAcceptanceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var index: IndexBuilder.CarmenIndex = _

  private val poly =
    """{"type":"Polygon","coordinates":[[[-20,-20],[-20,20],[20,20],[20,-20],[-20,-20]]]}"""

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sp = spark
    def docs(d: GeoDoc*) = sp.createDataset(d)(org.apache.spark.sql.Encoders.product[GeoDoc])
    index = IndexBuilder.build(spark, Seq(
      (LayerConfig("country", idx = 0, zoom = 6, typ = "country",
        languages = Seq("en", "es")),
        docs(GeoDoc(1, "usa", 1, poly, 0, 0, langTexts = Map("en" -> "usa")))),
      (LayerConfig("place", idx = 1, zoom = 6, typ = "place",
        languages = Seq("en", "es")),
        docs(GeoDoc(1, "new york", 1, poly, 0, 0,
          langTexts = Map("es" -> "nueva york")),
          GeoDoc(2, "London", 1, poly, 0, 0,
            langTexts = Map("en" -> "London", "es" -> "Londres"))))))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fw(q: String, language: Option[String]): Seq[(Int, Double, String)] = {
    val sp = spark; import sp.implicits._
    val queries = Seq((1L, q)).toDF("query_id", "query")
    Forward.forward(spark, index, queries,
      Forward.Options(fuzzy = false, autocomplete = false, language = language))
      .select(col("rank"), col("relev"), col("place_name"))
      .as[(Int, Double, String)].collect().toSeq.sortBy(_._1)
  }

  test("default language: full relevance for default-tagged phrases") {
    val res = fw("new york usa", None)
    assert(res.nonEmpty && res.head._2 === 1.0, s"got $res")
    assert(res.head._3 === "new york, usa")
  }

  test("language=es: untranslated term takes the 0.96 coalesce penalty") {
    val res = fw("nueva york usa", Some("es"))
    assert(res.nonEmpty, s"got $res")
    assert(res.head._2 === 0.982963, s"got $res")
  }

  test("language=es: fully translated query keeps relevance 1") {
    val res = fw("nueva york", Some("es"))
    assert(res.nonEmpty && res.head._2 === 1.0, s"got $res")
  }

  test("language=ca falls back to es phrases without penalty (I12 fill)") {
    // ca is not configured -> resolves against the layer's language map;
    // es phrases got the missing-language fill at index time only for
    // configured languages, so ca resolves via closest-lang to es
    val res = fw("nueva york", Some("ca"))
    assert(res.nonEmpty && res.head._2 === 1.0, s"got $res")
  }

  test("index-side fill: es-only phrase carries configured en tag via fallback") {
    // the place doc has no en text, so configured-but-missing en is filled
    // from its indexer fallback chain (en -> [es, fr, de]): es phrases gain
    // the en tag and an en query matches without penalty (I12)
    val res = fw("nueva york", Some("en"))
    assert(res.nonEmpty, s"got $res")
    assert(res.head._2 === 1.0, s"en query rides the es fill: $res")
  }

  test("language list en,es: the first requested language sets the phrase language") {
    // "london" is an en phrase of an en/es layer, so an "en,es" request
    // matches it as fully as "en" does
    for (language <- Seq("en", "en,es")) {
      val res = fw("london", Some(language))
      assert(res.nonEmpty && res.head._2 === 1.0, s"$language: $res")
    }
  }

  private def fwStrict(q: String, language: String): Seq[(Int, Double, String)] = {
    val sp = spark; import sp.implicits._
    val queries = Seq((1L, q)).toDF("query_id", "query")
    Forward.forward(spark, index, queries,
      Forward.Options(fuzzy = false, autocomplete = false,
        language = Some(language), languageMode = "strict"))
      .select(col("rank"), col("relev"), col("place_name"))
      .as[(Int, Double, String)].collect().toSeq.sortBy(_._1)
  }

  test("languageMode=strict keeps features with the requested language text") {
    // the place doc HAS es text -> passes strict es
    val res = fwStrict("new york", "es")
    assert(res.nonEmpty, s"got $res")
    assert(res.head._3 == "nueva york, usa", s"es display text: $res")
  }

  test("languageMode=strict drops features without the requested language") {
    // the place doc has NO de text and de is not equivalent -> filtered
    val res = fwStrict("new york", "de")
    assert(res.isEmpty, s"strict de filters the es/default-only place: $res")
  }

  test("O1: matching_text surfaces the translated synonym that matched") {
    val sp = spark; import sp.implicits._
    val queries = Seq((1L, "nueva york")).toDF("query_id", "query")
    val res = Forward.forward(spark, index, queries,
      Forward.Options(fuzzy = false, autocomplete = false))
      .select(col("rank"), col("place_name"), col("matching_text"))
      .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
    assert(res.nonEmpty, s"got $res")
    // display text is the default ("new york"); the matched synonym is
    // recovered via the source phrase hash
    assert(res.head._2 == "new york, usa", s"got $res")
    assert(res.head._3 == "nueva york", s"matching_text: $res")
  }
}
