package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.{IndexBuilder, IndexStore, PageSynth}
import graft.query.{Forward, Reverse}

/** Index persistence + resume (north rule: checkpointed, per-partition
  * lineage/metrics, restartable mid-job).
  */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val root = s"/tmp/graft_store_${System.nanoTime()}"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def layers = {
    val docs = PageSynth.docsByLayer(spark,
      PageSynth.extract(spark, PageSynth.pages(spark, 150)))
    PageSynth.layerConfigs.map(c => (c, docs(c.name)))
  }

  private def fw(index: IndexBuilder.CarmenIndex, q: String): Seq[(Int, String)] = {
    val sp = spark; import sp.implicits._
    Forward.forward(spark, index, Seq((1L, q)).toDF("query_id", "query"))
      .select(col("rank"), col("place_name")).as[(Int, String)]
      .collect().toSeq.sortBy(_._1)
  }

  private def rev(index: IndexBuilder.CarmenIndex): Seq[(Long, Int, String, Long, String)] = {
    val sp = spark; import sp.implicits._
    val pts = Seq((1L, -74.0, 40.9), (2L, -98.55, 29.95), (3L, -74.5, 40.7),
      (4L, 10.0, 10.0)).toDF("query_id", "lon", "lat")
    Reverse.reverse(spark, index, pts)
      .select(col("query_id"), col("rank"), col("place_name"), col("feature_id"),
        col("layer")).as[(Long, Int, String, Long, String)].collect().toSeq
  }

  test("persist + load round-trips the index and its query results") {
    val built = IndexBuilder.build(spark, layers)
    val expected = fw(built, "West Lake View Rd Englewood")
    val expectedRev = rev(built)
    built.layers.foreach(l => IndexStore.persistLayer(spark, l, root))

    val loaded = IndexBuilder.CarmenIndex(
      PageSynth.layerConfigs.map(c => IndexStore.loadLayer(spark, c, root)).toVector)
    assert(fw(loaded, "West Lake View Rd Englewood") === expected)
    // the loaded index builds its tile lookup from the parquet tile_features,
    // whose input partitioning differs from the built index's
    assert(expectedRev.nonEmpty)
    assert(rev(loaded) === expectedRev)
    // postings round-trip exactly
    built.layers.zip(loaded.layers).foreach { case (b, l) =>
      assert(b.postings.count() === l.postings.count(), b.config.name)
    }
  }

  test("lineage records per-partition row counts that sum to table totals") {
    val lin = IndexStore.lineage(spark, root)
    val street = IndexStore.loadLayer(spark, PageSynth.layerConfigs.find(_.name == "street").get, root)
    val postingsTotal = lin.where(col("layer") === "street" && col("table") === "postings")
      .agg(sum(col("rows"))).collect().head.getLong(0)
    assert(postingsTotal === street.postings.count())
    val tfTotal = lin.where(col("layer") === "street" && col("table") === "tile_features")
      .agg(sum(col("rows"))).collect().head.getLong(0)
    assert(tfTotal === street.tileFeatures.count())
    // multiple partitions tracked for the bucketed table
    assert(lin.where(col("layer") === "street" && col("table") === "postings")
      .count() >= 1)
  }

  test("reverse-style tile lookups prune z partitions of the stored table") {
    val street = IndexStore.loadLayer(spark,
      PageSynth.layerConfigs.find(_.name == "street").get, root)
    val q = street.tileFeatures.where(col("z") === 14 && col("x") === 4825)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "\\(z#\\d+ = 14\\)".r.findFirstIn(plan).isDefined,
      s"z partition filter in:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(x,4825)"),
      s"x pushed filter in:\n$plan")
  }

  test("buildOrResume skips completed layers and rebuilds incomplete ones") {
    // invalidate one layer: drop its completion marker
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_meta/complete/street"), false)
    assert(!IndexStore.isComplete(spark, root, "street"))
    assert(IndexStore.isComplete(spark, root, "place"))

    // record untouched-layer file state to prove no rewrite
    val placeDir = new java.io.File(s"$root/layer=place/postings")
    val before = placeDir.listFiles().map(f => (f.getName, f.lastModified())).toSet

    val resumed = IndexStore.buildOrResume(spark, layers, root)
    assert(IndexStore.isComplete(spark, root, "street"), "street rebuilt")
    val after = placeDir.listFiles().map(f => (f.getName, f.lastModified())).toSet
    assert(after === before, "completed layer not rewritten")

    assert(fw(resumed, "Chester New Jersey").nonEmpty)
  }
}
