package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.IndexBuilder
import graft.model.{GeoDoc, LayerConfig}
import graft.query.{Forward, Reverse}
import TestGeom._

/** Ported fixtures:
  *
  *  - reference test/acceptance/geocode-unit.ghost.test.js — a ghost
  *    (score -1) city does not block the scored neighborhood+city stack;
  *  - the forward-phrasematch context pick (context.js:448-556): of two
  *    ghost city polygons around the lead, the one the query names stacks
  *    and the lower-id unmatched one is skipped;
  *  - geocode-unit.rebalance.test.js — an address stack covering more
  *    specific tokens outranks a postcode stack with a higher-scored lead;
  *  - geocode-unit.cluster-vs-range.test.js — a cluster point beats the
  *    TIGER range lead forward, and reverse at the point returns the
  *    cluster address (deeper in the stack than the itp line).
  */
class GhostRebalanceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var ghost: IndexBuilder.CarmenIndex = _
  private var namedCtx: IndexBuilder.CarmenIndex = _
  private var rebalance: IndexBuilder.CarmenIndex = _
  private var cvr: IndexBuilder.CarmenIndex = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sp = spark
    def docs(d: GeoDoc*) = sp.createDataset(d)(org.apache.spark.sql.Encoders.product[GeoDoc])

    val t32 = tilePoly(6, (32, 32))
    ghost = IndexBuilder.build(spark, Seq(
      (LayerConfig("region", idx = 0, zoom = 6, typ = "region"),
        docs(GeoDoc(1, "Outer Rim", 0, t32, 0, 0))),
      (LayerConfig("city", idx = 1, zoom = 6, typ = "city"),
        docs(
          GeoDoc(2, "Mos Eisley", -1, t32, 0, 0),
          GeoDoc(3, "Tatooine", 1000, t32, 0, 0))),
      (LayerConfig("neighborhood", idx = 2, zoom = 6, typ = "neighborhood"),
        docs(GeoDoc(5, "Mos Eisley", 10, t32, 0, 0))),
      (LayerConfig("poi", idx = 3, zoom = 6, typ = "poi"),
        docs(GeoDoc(5, "Tatooine Community College", 0, pt(0, 0), 0, 0)))))

    namedCtx = IndexBuilder.build(spark, Seq(
      (LayerConfig("city", idx = 0, zoom = 6, typ = "city"),
        docs(
          GeoDoc(1, "Anchorhead", -1, t32, 0, 0),
          GeoDoc(2, "Mos Espa", -1, t32, 0, 0))),
      (LayerConfig("neighborhood", idx = 1, zoom = 6, typ = "neighborhood"),
        docs(GeoDoc(3, "Old Town", 10, t32, 0, 0)))))

    rebalance = IndexBuilder.build(spark, Seq(
      (LayerConfig("region", idx = 0, zoom = 6, typ = "region"),
        docs(GeoDoc(1, "georgia", 50, poly(-20, -20, 20, 20), 0, 0))),
      (LayerConfig("postcode", idx = 1, zoom = 6, typ = "postcode"),
        docs(GeoDoc(1, "80138", 50, poly(-20, -20, 0, 0), 0, 0))),
      (LayerConfig("address", idx = 2, zoom = 6, typ = "address",
        geocoderAddress = true),
        docs(GeoDoc(1, "Main St", 0, mpt((10, 10)), 10, 10,
          addressnumber = Seq(Seq("11027")))))))

    cvr = IndexBuilder.build(spark, Seq(
      (LayerConfig("addressitp", idx = 0, zoom = 6, typ = "address",
        geocoderAddress = true, geocoderName = "address"),
        docs(GeoDoc(1, "fake street", 0,
          """{"type":"LineString","coordinates":[[0,0],[0,1]]}""", 0, 0,
          rangetype = "tiger",
          parityr = Seq(Seq("O")), rfromhn = Seq(Seq("1")), rtohn = Seq(Seq("91")),
          parityl = Seq(Seq("E")), lfromhn = Seq(Seq("0")), ltohn = Seq(Seq("90"))))),
      (LayerConfig("address", idx = 1, zoom = 6, typ = "address",
        geocoderAddress = true, geocoderName = "address"),
        docs(GeoDoc(1, "fake street", 0, mpt((0, 0)), 0, 0,
          addressnumber = Seq(Seq("100")))))))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fw(idx: IndexBuilder.CarmenIndex, q: String,
                 limitVerify: Int = 10): Seq[(String, String, Long, Double)] = {
    val sp = spark; import sp.implicits._
    val queries = Seq((1L, q)).toDF("query_id", "query")
    Forward.forward(spark, idx, queries,
      Forward.Options(limitVerify = limitVerify))
      .select(col("place_name"), col("place_type"), col("feature_id"),
        col("relev"))
      .as[(String, String, Long, Double)].collect().toSeq
  }

  test("ghost: scored stack wins through the ghost sibling") {
    val res = fw(ghost, "Mos Eisley Tatooine")
    assert(res.head._1 === "Mos Eisley, Tatooine, Outer Rim", s"got $res")
    assert(res.head._4 === 1.0, s"got $res")
  }

  test("matched context: the named ghost polygon stacks over a lower-id one") {
    // a ghost context feature stacks only when the query matched it; with
    // non-ghost polygons the lowest id at distance 0 would win either way
    val res = fw(namedCtx, "Old Town Mos Espa")
    assert(res.head._1 === "Old Town, Mos Espa", s"got $res")
    assert(res.head._3 === 3L, s"got $res")
  }

  test("rebalance: address stack beats higher-scored postcode stack") {
    val res = fw(rebalance, "11027 main st georgia 80138", limitVerify = 2)
    assert(res.length === 2, s"got $res")
    assert(res(0)._2 === "address" && res(0)._3 === 1L, s"got $res")
    assert(res(1)._2 === "postcode" && res(1)._3 === 1L, s"got $res")
    assert(res(0)._4 > res(1)._4, s"got $res")
  }

  test("cluster-vs-range: forward picks the cluster point at relevance 1") {
    val res = fw(cvr, "100 fake street", limitVerify = 2)
    assert(res.head._1 === "100 fake street", s"got $res")
    assert(res.head._4 === 1.0, s"got $res")
  }

  test("cluster-vs-range: reverse returns the cluster address") {
    val sp = spark; import sp.implicits._
    val pts = Seq((1L, 0.0, 0.0)).toDF("query_id", "lon", "lat")
    val res = Reverse.reverseWithOptions(spark, cvr, pts,
      Reverse.ReverseOptions())
      .select(col("place_name")).as[String].collect().toSeq
    assert(res.head === "100 fake street", s"got $res")
  }
}
