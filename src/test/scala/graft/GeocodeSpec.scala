package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.index.{BigGazetteer, IndexBuilder, PageSynth, TileLookup}
import graft.query.{Forward, Reverse}

/** End-to-end geocode tests over the synthetic page corpus, mirroring the
  * reference's worked example (reference docs/how-carmen-works.md:92-199)
  * and acceptance-test behaviors (stacking, autocomplete, reverse context).
  */
class GeocodeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var index: IndexBuilder.CarmenIndex = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    index = PageSynth.buildIndex(spark, 60)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fw(q: String, autocomplete: Boolean = true): Seq[(Int, Double, String)] = {
    val sp = spark; import sp.implicits._
    val queries = Seq((1L, q)).toDF("query_id", "query")
    Forward.forward(spark, index, queries,
        Forward.Options(autocomplete = autocomplete))
      .select(col("rank"), col("relev"), col("place_name"))
      .as[(Int, Double, String)].collect().toSeq.sortBy(_._1)
  }

  test("byte-identical extracted text per url (the per-row invariant)") {
    val pages = PageSynth.pages(spark, 100).cache()
    val extracted = PageSynth.extract(spark, pages)
    val joined = pages.select(col("url"), col("text").as("orig"))
      .join(extracted.select(col("url"), col("text").as("ext")), "url")
    assert(joined.count() === 100)
    assert(joined.where(col("orig") =!= col("ext")).count() === 0)
  }

  test("index build produces expected tables") {
    val street = index.layer("street")
    assert(street.postings.count() > 0)
    assert(street.tileFeatures.where(col("z") === 14).count() > 0)
    // phrase ids dense + lexicographic
    val phrases = street.postings.select("phrase", "phrase_id").distinct()
      .orderBy("phrase_id").collect()
    val sortedPhrases = phrases.map(_.getString(0))
    assert(sortedPhrases.sameElements(sortedPhrases.sorted))
  }

  test("materialize() leaves one resident copy of postings and tile rows") {
    index.materialize()
    for (l <- index.layers) {
      assert(l.postings.storageLevel === StorageLevel.NONE, l.config.name)
      assert(l.tileFeatures.storageLevel === StorageLevel.NONE, l.config.name)
    }
    def storage(): Map[Int, Long] = spark.sparkContext.getRDDStorageInfo
      .map(r => r.id -> (r.memSize + r.diskSize)).toMap
    val first = storage()
    index.materialize()
    val second = storage()
    // the context cleaner may release unrelated blocks in between, but a
    // repeated warm-up adds no cached RDD and grows none
    assert(second.keySet.subsetOf(first.keySet))
    assert(second.values.sum === first.filter(e => second.contains(e._1)).values.sum)
    assert(index.allPostings.count() === index.layers.map(_.postings.count()).sum)
    // the tile rows are resident only in the named lookup; the unified tile
    // table is an uncached view over it with the same row count
    assert(spark.sparkContext.getRDDStorageInfo.exists(r =>
      r.name == TileLookup.Name && r.memSize + r.diskSize > 0))
    assert(index.allTileFeatures.storageLevel === StorageLevel.NONE)
    assert(index.allTileFeatures.count() === index.layers.map(_.tileFeatures.count()).sum)
  }

  test("an index rejects two layers with the same name") {
    val street = index.layer("street")
    val e = intercept[IllegalArgumentException](
      IndexBuilder.CarmenIndex(Vector(street, index.layer("place"), street)))
    assert(e.getMessage.contains("duplicate layer names: street"))
  }

  test("forward geocode: full stack (worked example)") {
    val res = fw("West Lake View Rd Englewood")
    assert(res.nonEmpty)
    val top = res.head
    assert(top._3 === "West Lake View Rd, Englewood, New Jersey, United States",
      s"got $res")
    assert(top._2 === 1.0, s"relevance: $res")
  }

  test("forward geocode: place + region") {
    val res = fw("Chester New Jersey")
    assert(res.nonEmpty)
    assert(res.head._3.startsWith("Chester, New Jersey"), s"got $res")
    assert(res.head._2 === 1.0)
  }

  test("forward geocode: single term lands place above street context") {
    val res = fw("Englewood")
    assert(res.nonEmpty)
    assert(res.head._3.startsWith("Englewood"), s"got $res")
  }

  test("forward geocode: autocomplete prefix") {
    val res = fw("Engle")
    assert(res.nonEmpty, "prefix should match englewood")
    assert(res.head._3.toLowerCase.contains("englewood"), s"got $res")
    val noAuto = fw("Engle", autocomplete = false)
    assert(noAuto.isEmpty, s"exact-only should not match: $noAuto")
  }

  test("forward geocode: wrong-region stack does not reach relevance 1") {
    // Englewood St is in Pennsylvania (Springfield); querying it with Texas
    // must not produce a full-relevance stack
    val res = fw("Englewood St Texas")
    res.headOption.foreach { top => assert(top._2 < 1.0, s"got $res") }
  }

  test("reverse geocode: point in Englewood hits full hierarchy") {
    val sp = spark; import sp.implicits._
    val pts = Seq((1L, -74.0, 40.9), (2L, -98.55, 29.95)).toDF("query_id", "lon", "lat")
    val res = Reverse.reverse(spark, index, pts)
      .where(col("rank") === 1)
      .select(col("query_id"), col("place_name")).as[(Long, String)]
      .collect().toMap
    assert(res(1L).contains("Englewood"))
    assert(res(1L).contains("New Jersey"))
    assert(res(1L).contains("United States"))
    assert(res(2L).contains("Lakewood"))
    assert(res(2L).contains("Texas"))
  }

  test("O3 stats + phrasematch debug surfaces") {
    val sp = spark; import sp.implicits._
    val queries = Seq((1L, "West Lake View Rd Englewood")).toDF("query_id", "query")
    val st = new Forward.GeocodeStats()
    val res = Forward.forward(spark, index, queries, stats = Some(st))
    assert(res.count() > 0)
    for (stage <- Seq("phrasematch", "spatialmatch", "verifymatch", "context_rank"))
      assert(st.stageSeconds.contains(stage), s"missing stage $stage: $st")
    assert(st.counts("spatialmatch") > 0 && st.counts("results") > 0, s"$st")
    val dbg = Forward.phrasematchDebug(spark, index, queries)
      .select(col("layer"), col("subquery"), col("weight"))
      .as[(String, String, Double)].collect()
    assert(dbg.exists(r => r._1 == "street" && r._2 == "west lake view rd"), s"got ${dbg.toSeq}")
    assert(dbg.exists(r => r._1 == "place" && r._2 == "englewood"), s"got ${dbg.toSeq}")
    assert(dbg.forall(r => r._3 > 0 && r._3 <= 1.0))
    // the debug surface enumerates with the call's maxCorrectionLength, as
    // forward() does: over a 3-token limit a 5-token query gets no fuzzy
    // edit budget, so no window is a fuzzy match
    val typo = Seq((2L, "West Lake Viev Rd Englewood")).toDF("query_id", "query")
    def fuzzyRows(opts: Forward.Options): Long =
      Forward.phrasematchDebug(spark, index, typo, opts).where(col("is_fuzzy")).count()
    assert(fuzzyRows(Forward.Options()) > 0)
    assert(fuzzyRows(Forward.Options(maxCorrectionLength = 3)) === 0L)
  }

  private val gazPlaces = 40
  private lazy val gaz = BigGazetteer.buildIndex(spark, gazPlaces)

  /** 26 queries over [[gaz]] in four id ranges: plain (0..), fuzzy (100..),
    * address (200..) and autocomplete prefixes (300..).
    */
  private def gazQueries(): org.apache.spark.sql.DataFrame = {
    val sp = spark; import sp.implicits._
    val n = gazPlaces
    def from(base: Long, df: org.apache.spark.sql.DataFrame) =
      df.withColumn("query_id", col("query_id") + base)
    val prefixes = (0 until 6).map(i => (300L + i,
      s"${BigGazetteer.streetName(2 * i)} ${BigGazetteer.placeName(i).take(5)}"))
      .toDF("query_id", "query")
    BigGazetteer.forwardQueries(spark, 8, n)
      .unionByName(from(100, BigGazetteer.fuzzyQueries(spark, 6, n)))
      .unionByName(from(200, BigGazetteer.addressQueries(spark, 6, n)))
      .unionByName(prefixes)
  }

  test("stats on and off return the same rows for plain, fuzzy, address and autocomplete queries") {
    val sp = spark; import sp.implicits._
    val queries = gazQueries()
    def rows(stats: Option[Forward.GeocodeStats]) =
      Forward.forward(spark, gaz, queries, stats = stats)
        .select(col("query_id"), col("rank"), col("feature_id"),
          col("place_name"), col("relev"))
        .as[(Long, Int, Long, String, Double)].collect().toSeq
        .sortBy(r => (r._1, r._2))
    val st = new Forward.GeocodeStats()
    val on = rows(Some(st))
    val off = rows(None)
    for (base <- Seq(0L, 100L, 200L, 300L))
      assert(on.exists(r => r._1 >= base && r._1 < base + 100), s"no answer from $base: $on")
    assert(on === off)
    assert(st.counts("results") === on.length, s"$st")
  }

  test("forward and reverse return rows sorted by (query_id, rank) over a multi-partition batch") {
    val sp = spark; import sp.implicits._
    def keys(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.select(col("query_id"), col("rank")).as[(Long, Int)].collect().toSeq
    val queries = gazQueries()
    assert(queries.rdd.getNumPartitions > 1)
    val fwd = keys(Forward.forward(spark, gaz, queries))
    assert(fwd.map(_._1).distinct.length > 20, s"$fwd")
    assert(fwd === fwd.sorted, s"$fwd")
    val points = BigGazetteer.reversePoints(spark, 200, gazPlaces)
    assert(points.rdd.getNumPartitions > 1)
    val rev = keys(Reverse.reverse(spark, gaz, points))
    assert(rev.map(_._1).distinct.length === 200, s"$rev")
    assert(rev === rev.sorted, s"$rev")
  }

  test("batch forward geocode: many queries at once") {
    val sp = spark; import sp.implicits._
    val queries = (0 until 50).map(i => (i.toLong,
      Seq("Englewood", "Chester New Jersey", "Main St Chester",
        "Springfield Pennsylvania", "Fulton St Lakewood Texas")(i % 5)))
      .toDF("query_id", "query")
    val res = Forward.forward(spark, index, queries)
    val byQuery = res.groupBy("query_id").count().count()
    assert(byQuery === 50, "every query gets results")
  }

  test("fuzzy geocode: one-letter typo still resolves (DL<=1)") {
    val res = fw("West Lake Viev Rd Englewood")
    assert(res.nonEmpty, "typo should fuzzy-match")
    assert(res.head._3 === "West Lake View Rd, Englewood, New Jersey, United States", s"got $res")
    assert(res.head._2 < 1.0 && res.head._2 >= 0.8, s"penalized relevance: $res")
  }

  test("fuzzy geocode: transposition resolves") {
    val res = fw("Chester New Jersye")
    assert(res.nonEmpty)
    assert(res.head._3.startsWith("Chester, New Jersey"), s"got $res")
  }

  test("fuzzy geocode: short words are never corrected (MIN_CORRECTION_LENGTH)") {
    val res = fw("Xain St Chester", autocomplete = false)
    // "xain" -> "main" is a correction of a 4-char word: allowed
    assert(res.exists(_._3.contains("Main St")), s"got $res")
    val res2 = fw("Mxin Qt Chester", autocomplete = false)
    // "qt" -> "st" is 2 chars (< 4): never corrected
    assert(!res2.exists(_._3.contains("Main St")), s"got $res2")
  }
}
