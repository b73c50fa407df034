package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Geom
import graft.index.IndexBuilder
import graft.model.{GeoDoc, LayerConfig}
import graft.ops.GeoOps
import graft.query.Reverse
import graft.query.Reverse.CandRow
import TestGeom._

/** `Reverse.candidates` probes the resident tile lookup; it must return
  * exactly the rows of the (z, x, y) equi-join over the per-layer
  * `tileFeatures` that it replaced, written out here as the reference.
  */
class TileProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var index: IndexBuilder.CarmenIndex = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sp = spark
    def docs(d: GeoDoc*) = sp.createDataset(d)(org.apache.spark.sql.Encoders.product[GeoDoc])
    def line(pts: (Double, Double)*) =
      pts.map { case (x, y) => s"[$x,$y]" }
        .mkString("""{"type":"LineString","coordinates":[""", ",", "]}")
    // boxes with gaps between them, tile-aligned boxes, points, lines and
    // ghosts (score < 0) at three zooms, two layers sharing zoom 8, ids
    // repeated across layers, and features in the top and bottom tile rows
    index = IndexBuilder.build(spark, Seq(
      (LayerConfig("country", idx = 0, zoom = 4, typ = "country"),
        docs(GeoDoc(1, "west", 3, poly(-20, -20, -2, 20), -10, 0),
          GeoDoc(2, "east", 2, poly(2, -20, 20, 20), 10, 0),
          GeoDoc(3, "ghostland", -1, poly(-40, -10, 40, 10), 0, 0),
          GeoDoc(4, "north", 1, poly(-10, 80, 10, 85), 0, 82))),
      (LayerConfig("place", idx = 1, zoom = 6, typ = "place"),
        docs(GeoDoc(1, "tiled", 5, tilePoly(6, (32, 32), (33, 32), (32, 31)), 2, -2),
          GeoDoc(5, "south", 4, poly(-5, -85, 5, -80), 0, -82),
          GeoDoc(6, "island", 1, poly(-1, -1, 1, 1), 0, 0))),
      (LayerConfig("poi", idx = 2, zoom = 8, typ = "poi",
        languages = Seq("de")),
        docs(GeoDoc(1, "corner", 7, pt(0.0, 0.0), 0, 0,
            langTexts = Map("de" -> "ecke")),
          GeoDoc(7, "edge", 2, pt(tileLon(8, 130), 5.0), tileLon(8, 130), 5.0),
          GeoDoc(8, "ghost", -2, pt(0.5, 0.5), 0.5, 0.5),
          GeoDoc(9, "top", 3, pt(0.2, 85.0), 0.2, 85.0),
          GeoDoc(10, "dateline", 1, pt(-179.9, 0.3), -179.9, 0.3))),
      (LayerConfig("street", idx = 3, zoom = 8, typ = "street"),
        docs(GeoDoc(1, "main", 0, line((-3.0, -3.0), (3.0, 3.0)), 0, 0),
          GeoDoc(11, "ring", 2, line((-1.5, 1.0), (1.5, 1.0), (1.5, -1.0)), 0, 1)))))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val zooms = Seq(4, 6, 8)

  /** Tile edges and corners around the features, the date line, the
    * Web Mercator latitude limit and the poles.
    */
  private val edgePoints: Seq[(Double, Double)] =
    (for (z <- zooms; k <- Seq(-1, 0, 1)) yield {
      val n = 1 << (z - 1)
      Seq((tileLon(z, n + k), 0.0), (0.0, tileLat(z, n + k)),
        (tileLon(z, n + k), tileLat(z, n + k)))
    }).flatten ++ Seq((tileLon(8, 130), 5.0), (180.0, 0.3), (-180.0, 0.3),
      (179.99, 0.3), (-179.95, 0.3), (0.2, 85.0), (0.2, 85.06), (0.2, -85.06),
      (0.0, -85.0), (0.0, 90.0), (0.0, -90.0), (180.0, 90.0), (0.0, 0.0))

  private val randomPoint: Gen[(Double, Double)] = Gen.oneOf(
    Gen.zip(Gen.choose(-25.0, 25.0), Gen.choose(-25.0, 25.0)),
    Gen.zip(Gen.choose(-2.0, 2.0), Gen.choose(-2.0, 2.0)),
    Gen.zip(Gen.choose(-180.0, 180.0), Gen.choose(-90.0, 90.0)),
    Gen.oneOf(edgePoints))

  private def pointsDf(pts: Seq[(Double, Double)]): DataFrame = {
    val sp = spark; import sp.implicits._
    pts.zipWithIndex.map { case ((lon, lat), i) => (i.toLong, i % 3, lon, lat) }
      .toDF("query_id", "sub", "lon", "lat")
  }

  private val pipDistUdf = udf((bin: Array[Byte], lon: Double, lat: Double) => {
    val g = Geom.fromBin(bin)
    val hit = Geom.contains(g, lon, lat)
    (hit, if (hit) 0.0 else Geom.distanceMiles(g, lon, lat))
  }).asNondeterministic()

  /** The equi-join the lookup replaced. Its tiles skip the poles, where
    * `GeoOps.tileY` divides by zero and the join threw.
    */
  private def reference(points: DataFrame, distanceMode: Boolean, radiusMiles: Double,
                        allowed: Option[Set[Int]]): Vector[CandRow] = {
    val sp = spark; import sp.implicits._
    val tiles = index.zooms.map { z =>
      points.withColumn("z", lit(z))
        .withColumn("tx", when(abs(col("lat")) < 90, GeoOps.tileX(col("lon"), z)))
        .withColumn("ty", when(abs(col("lat")) < 90, GeoOps.tileY(col("lat"), z)))
    }.reduce(_ unionByName _)
    val tf = index.layers.filter(l => allowed.forall(_.contains(l.config.idx))).map { l =>
      l.tileFeatures.select(lit(l.config.idx).as("idx"), lit(l.config.name).as("layer"),
        col("z"), col("x"), col("y"), col("id").as("feature_id"), col("text"),
        col("score"), col("center_lon").as("f_lon"), col("center_lat").as("f_lat"),
        col("geom_bin"), col("geom_type"), col("langTexts"), col("types"),
        lit(l.config.conflictKey).as("conflict"))
    }.reduce(_ unionByName _)
    val radius = if (radiusMiles > 0) radiusMiles else Reverse.VtqueryRadiusMiles
    val joined = tiles.join(tf, tiles("z") === tf("z") && tiles("tx") === tf("x") &&
        tiles("ty") === tf("y"))
      .withColumn("pd", pipDistUdf(col("geom_bin"), col("lon"), col("lat")))
      .withColumn("dist_miles", col("pd._2"))
      .where(col("pd._1") || (!col("geom_type").isin("Polygon", "MultiPolygon") &&
        col("dist_miles") <= radius))
    val ghosted = if (distanceMode) joined.where(col("score") >= 0) else joined
    ghosted.select(col("query_id").cast("long"), col("sub").cast("int"), col("idx"),
        col("layer"), col("types"), coalesce(col("conflict"), lit("")).as("conflict"),
        col("feature_id"), Reverse.tmpidCol(col("idx"), col("feature_id")).as("tmpid"),
        col("text"), col("dist_miles"), col("score"), col("geom_type"),
        col("f_lon").as("center_lon"), col("f_lat").as("center_lat"),
        coalesce(col("langTexts"), map().cast("map<string,string>")).as("langTexts"),
        lit(false).as("matched"), lit(0).as("rnk"))
      .as[CandRow].collect().toVector
  }

  private def sorted(rows: Seq[CandRow]): Vector[CandRow] =
    rows.toVector.sortBy(r => (r.query_id, r.sub, r.idx, r.feature_id, r.dist_miles,
      r.toString))

  private val configs = Seq(
    (true, 0.0, None),
    (false, 0.0, Some(Set(0, 2))),
    (true, 20.0, Some(Set(1, 2, 3))),
    (false, 20.0, None),
    (true, 0.0, Some(Set(0, 1, 2, 3))))

  private def sameAsJoin(pts: Seq[(Double, Double)]): Prop = {
    val df = pointsDf(pts)
    Prop.all(configs.map { case (distanceMode, radius, allowed) =>
      val got = sorted(Reverse.candidates(df, index, distanceMode, radius, allowed)
        .collect().toSeq)
      val want = sorted(reference(df, distanceMode, radius, allowed))
      Prop(got == want) :| s"distanceMode=$distanceMode radius=$radius " +
        s"allowed=$allowed: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}"
    }: _*)
  }

  test("candidates equal the tile equi-join on edge points") {
    val rows = Reverse.candidates(pointsDf(edgePoints), index, distanceMode = false,
      radiusMiles = 0.0).collect()
    assert(rows.nonEmpty)
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(1),
      sameAsJoin(edgePoints))
    assert(r.passed, r.status.toString)
  }

  test("candidates equal the tile equi-join on random points (property)") {
    val params = Test.Parameters.default.withMinSuccessfulTests(3)
      .withInitialSeed(Seed(20261021L))
    val r = Test.check(params, Prop.forAll(Gen.listOfN(150, randomPoint))(sameAsJoin))
    assert(r.passed, r.status.toString)
  }

  test("tiles off the grid and points at the poles match nothing") {
    val off = Seq((180.0, 0.3), (0.2, 85.06), (0.2, -85.06), (0.0, 90.0),
      (0.0, -90.0), (180.0, 90.0), (-180.0001, 0.3))
    for (distanceMode <- Seq(true, false)) {
      val rows = Reverse.candidates(pointsDf(off), index, distanceMode,
        radiusMiles = 500.0).collect()
      assert(rows.isEmpty, rows.toSeq)
    }
    // the same features are reachable from inside the grid
    val near = Reverse.candidates(pointsDf(Seq((-179.95, 0.3), (0.2, 84.99))), index,
      distanceMode = true, radiusMiles = 500.0).collect().map(_.text).toSet
    assert(Set("dateline", "top").subsetOf(near), near)
  }
}
