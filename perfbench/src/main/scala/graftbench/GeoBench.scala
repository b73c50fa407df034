package graftbench

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Row, SparkSession}
import graft.index.{BigGazetteer, IndexBuilder}
import graft.query.{Forward, Reverse}

/** The geocoder benchmark: one workload, one seed, one JVM.
  *
  * It builds the deterministic [[BigGazetteer]] index, warms it, and then
  * runs a closed loop on one driver thread: each call into the engine is
  * issued only after the previous one returned. The engine is reached only
  * through `BigGazetteer.buildIndex`, the `CarmenIndex` caches,
  * `Forward.forward`, `Reverse.reverse` and `Reverse.candidates`, and it
  * receives only inputs made by [[Gen]] from the seed.
  *
  * Workloads:
  *  - `forward`: a 10-query call (the per-call floor) alternating with a
  *    bulk call (the per-query work), on one Zipf-skewed query mix;
  *  - `reverse`: calls of seeded points, 10% of them between place boxes.
  *
  * Untraced (`--trace 0`) it times the calls only: no listener, no
  * `GeocodeStats`. Traced (`--trace 1`) it records spans around every
  * set-up step and call, attaches a Spark listener, runs the extra
  * per-layer calls (forward: the 1-query floor and the `GeocodeStats`
  * stage split; reverse: `Reverse.candidates`) and writes the spans to a
  * JSON-lines file.
  *
  * The last line of stdout is one JSON object (see [[Report]]).
  */
object GeoBench {

  // Index size and batch sizes: fixed, so that every run is comparable.
  // Small because one run must fit about a minute (see perfbench/README.md).
  val Places = 1000
  val SmallBatch = 10
  val BulkBatch = 500
  val ReversePoints = 20000

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, out: String = ".bench_build")

  def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--out", v)) => a.copy(out = v)
      case (_, other) =>
        throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("forward", "reverse").contains(a.workload),
      s"unknown workload '${a.workload}' (forward | reverse)")
    val report = new Report
    val tracer = new Tracer
    val spanFile = java.nio.file.Paths.get(a.out, "spans",
      s"${a.workload}-seed${a.seed}.jsonl")
    val bench = new GeoBench(a, tracer, report)
    bench.run()
    if (a.trace) {
      tracer.write(spanFile)
      report.note("span_file", spanFile.toString)
    }
    println(report.json)
    System.out.flush()
    sys.exit(0)
  }

  def nowNs(): Long = System.nanoTime()
  def secs(ns: Long): Double = ns / 1e9
}

/** What one run found, printed as one JSON line. */
final class Report {
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  var checked = 0L
  var ok = 0L

  def note(k: String, v: String): Unit = notes(k) = v

  def json: String = {
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s""""$k":${Trace.num(v)}""" }.mkString("{", ",", "}")
    val ns = notes.map { case (k, v) =>
      s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }
      .mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"checked":$checked,"ok":$ok,""" +
      s""""e2e":${obj(e2e)},"layer":${obj(layer)},"notes":$ns}"""
  }
}

final class GeoBench(a: GeoBench.Args, tracer: Tracer, report: Report) {
  import GeoBench._

  private val gen = new Gen(a.seed, Places)
  private val cpus = Runtime.getRuntime.availableProcessors
  private var call = 0
  private var spark: SparkSession = _
  private var index: IndexBuilder.CarmenIndex = _
  /** Answer rows of the first calls, whose inputs depend on the seed only. */
  private val digestRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
  private val DigestCalls = 3
  /** The first reverse call takes about twice as long as the third. */
  private val ReverseWarmupCalls = 2

  /** Runs `f` inside a span when tracing; plain otherwise. Set-up spans
    * carry call id -1.
    */
  private def step[A](name: String, callId: Long = call)(f: => A): A =
    if (a.trace) tracer.span(name, callId)(f)._1 else f

  def run(): Unit = {
    val t0 = nowNs()
    step("setup", -1) {
      spark = step("session", -1)(session())
      val tb = nowNs()
      index = step("index.build", -1)(BigGazetteer.buildIndex(spark, Places))
      if (a.trace) report.layer("index.build_s") = secs(nowNs() - tb)
      warm()
    }
    val setupS = secs(nowNs() - t0)
    val cache0 = RuntimeCounters.storageMb(spark.sparkContext)
    report.e2e("setup_s") = setupS
    report.e2e("cache_mb") = cache0
    a.workload match {
      case "forward" => forwardLoop()
      case "reverse" => reverseLoop()
    }
    if (a.trace) {
      report.layer("spark.storage_growth_mb") =
        RuntimeCounters.storageMb(spark.sparkContext) - cache0
      // every per-layer metric is reported; a layer the workload does not
      // reach reads 0
      Report.LayerMetrics.foreach(k => if (!report.layer.contains(k)) report.layer(k) = 0.0)
    }
    report.e2e("ok_share") =
      if (report.checked == 0) 0.0 else report.ok.toDouble / report.checked
    report.note("digest", Stats.digest(digestRows))
    report.note("setting", s"local[$cpus] places=$Places small=$SmallBatch " +
      s"bulk=$BulkBatch points=$ReversePoints")
    spark.stop()
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The `CarmenIndex` warm-up: fill the caches the workload's calls read.
    * Reverse reads the layer tables and `allTileFeatures` only; forward
    * also reads the candidate, postings and wide feature caches.
    */
  private def warm(): Unit = {
    val sc = spark.sparkContext
    def warmStep(name: String, rowsKey: String = "")(f: => Long): Unit = {
      val mb0 = RuntimeCounters.storageMb(sc)
      val t0 = nowNs()
      val rows = step(s"index.warm_$name", -1)(f)
      if (a.trace) {
        report.layer(s"index.warm_${name}_s") = secs(nowNs() - t0)
        report.layer(s"index.${name}_mb") = RuntimeCounters.storageMb(sc) - mb0
        if (rowsKey.nonEmpty) report.layer(rowsKey) = rows.toDouble
      }
    }
    warmStep("layers")(index.layers.map { l =>
      l.postings.count() + l.tileFeatures.count() + l.features.count()
    }.sum)
    if (a.workload == "forward") {
      warmStep("cand", "index.cand_rows")(index.candByQsig.values.toSeq.map {
        case (d, p, pd) => d.count() + p.count() + pd.count()
      }.sum)
      warmStep("postings", "index.postings_rows")(index.allPostingsQsig.count())
      warmStep("features")(index.allFeaturesWide.count())
    }
    warmStep("tiles", "index.tile_rows")(index.allTileFeatures.count())
  }

  // ---- calls -------------------------------------------------------------

  /** One timed call; a thrown call counts its items as failed. */
  private def timedCall[A](name: String, items: Int)(f: => A): (Option[A], Long) = {
    val t0 = nowNs()
    val r = Try(step(name)(f))
    val ns = nowNs() - t0
    report.attempted += items
    r match {
      case Failure(e) =>
        report.failed += items
        System.err.println(s"[perfbench] $name call $call failed: $e")
      case Success(_) =>
        System.err.println(f"[perfbench] call $call%d $name%s: ${ns / 1e6}%.1f ms")
    }
    call += 1
    (r.toOption, ns)
  }

  private def forwardCall(qs: Vector[FwdQuery], name: String,
                          stats: Option[Forward.GeocodeStats] = None): Long = {
    val s = spark
    import s.implicits._
    val c = call
    val (rows, ns) = timedCall(name, qs.length) {
      val df = qs.map(q => (q.id, q.text)).toDF("query_id", "query")
      Forward.forward(spark, index, df, stats = stats).collect()
    }
    checkForward(c, qs, rows)
    ns
  }

  private def checkForward(c: Int, qs: Vector[FwdQuery], rows: Option[Array[Row]]): Unit = {
    val got: Map[Long, Long] = rows.getOrElse(Array.empty[Row]).iterator
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("feature_id")))
      .filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    report.checked += qs.length
    report.ok += qs.count(q => got.get(q.id).contains(q.expected))
    if (c < DigestCalls) rows.foreach(_.foreach { r =>
      digestRows += (((c.toLong << 32) | r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("feature_id")))
    })
  }

  private def reverseCall(ps: Vector[RevPoint], name: String): (Long, Long) = {
    val c = call
    val (rows, ns) = timedCall(name, ps.length) {
      Reverse.reverse(spark, index, pointsDf(ps)).collect()
    }
    val all = rows.getOrElse(Array.empty[Row])
    val places: Map[Long, Set[Long]] = all.iterator
      .filter(_.getAs[String]("layer") == "place")
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("feature_id"))
      .toVector.groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSet }
    report.checked += ps.length
    report.ok += (if (rows.isEmpty) 0 else ps.count { p =>
      val got = places.getOrElse(p.id, Set.empty)
      p.place.fold(got.isEmpty)(id => got == Set(id))
    })
    if (c < DigestCalls) all.foreach { r =>
      digestRows += (((c.toLong << 32) | r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("feature_id")))
    }
    (ns, all.length.toLong)
  }

  private def pointsDf(ps: Vector[RevPoint]) = {
    val s = spark
    import s.implicits._
    ps.map(p => (p.id, p.lon, p.lat)).toDF("query_id", "lon", "lat")
  }

  /** Calls `f` until `seconds` have passed, at least once. */
  private def loopFor(seconds: Double)(f: => Unit): Unit = {
    val end = nowNs() + (seconds * 1e9).toLong
    do f while (nowNs() < end)
  }

  // ---- forward ------------------------------------------------------------

  private def forwardLoop(): Unit = {
    forwardCall(gen.forwardBatch(call, SmallBatch), "warmup")
    // traced: the loop runs on the untraced plan with a listener attached
    val counters = if (a.trace) Some(listen()) else None
    val small = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bulk = scala.collection.mutable.ArrayBuffer.empty[Double]
    var smallC, bulkC = Map.empty[String, Double]
    loopFor(a.seconds) {
      val (s, sc) = counted(counters)(forwardCall(gen.forwardBatch(call, SmallBatch), "forward.small"))
      val (b, bc) = counted(counters)(forwardCall(gen.forwardBatch(call, BulkBatch), "forward.bulk"))
      small += s; bulk += b; smallC = sc; bulkC = bc
    }
    report.e2e("latency_p50_ms") = Stats.median(small.toSeq)
    report.e2e("qps") = BulkBatch / (Stats.median(bulk.toSeq) / 1e3)
    noteTail(small.toSeq)
    counters.foreach { c =>
      sparkLayer("spark", bulkC)
      sparkLayer("spark.small", smallC.filter { case (k, _) => SmallKeys(k) })
      report.layer("jvm.alloc_mb") = bulkC("alloc_mb")
      forwardTraced(Stats.median(bulk.toSeq))
      spark.sparkContext.removeSparkListener(c)
    }
  }

  private def listen(): RuntimeCounters = {
    val c = new RuntimeCounters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** A call's time in ms, and with a listener its Spark and allocation
    * counters.
    */
  private def counted(counters: Option[RuntimeCounters])(f: => Long): (Double, Map[String, Double]) =
    counters match {
      case None => (f / 1e6, Map.empty)
      case Some(c) =>
        val before = c.snap()
        val alloc0 = RuntimeCounters.allocatedBytes()
        val ns = f
        val alloc = RuntimeCounters.allocatedBytes() - alloc0
        (ns / 1e6, c.snap().since(before) + ("alloc_mb" -> alloc / 1e6))
    }

  private def noteTail(ms: Seq[Double]): Unit = {
    report.note("latency_samples", ms.length.toString)
    Stats.tail(ms).foreach { t =>
      report.note("latency_tail_ms", t.value.toString)
      report.note("latency_tail_percentile", t.percentile.toString)
    }
  }

  /** The floor call and the stage split through `GeocodeStats`, whose
    * extra barriers make it the traced plan.
    */
  private def forwardTraced(bulkMs: Double): Unit = {
    report.layer("fwd.floor_ms") = forwardCall(gen.forwardBatch(call, 1), "forward.floor") / 1e6
    val stages = Seq("phrasematch", "pm_join", "spatialmatch", "verifymatch", "context_rank")
    def staged(qs: Vector[FwdQuery], name: String, prefix: String): Forward.GeocodeStats = {
      val st = new Forward.GeocodeStats()
      val ns = forwardCall(qs, name, Some(st))
      stages.foreach(s => report.layer(s"$prefix.${s}_s") = st.stageSeconds.getOrElse(s, 0.0))
      report.layer(s"$prefix.tail_s") =
        math.max(0.0, secs(ns) - stages.map(st.stageSeconds.getOrElse(_, 0.0)).sum)
      st.counts("call_ns") = ns
      st
    }
    staged(gen.forwardBatch(call, SmallBatch), "forward.small.staged", "fwd.small")
    val c = staged(gen.forwardBatch(call, BulkBatch), "forward.bulk.staged", "fwd").counts
    def n(k: String) = c.getOrElse(k, 0L).toDouble
    report.layer("fwd.pm_rows") = n("pm_join")
    report.layer("fwd.spatialmatch_rows") = n("spatialmatch")
    report.layer("fwd.verifymatch_rows") = n("verifymatch")
    report.layer("fwd.result_rows") = n("results")
    report.layer("fwd.results_per_pm_row") = n("results") / math.max(1.0, n("pm_join"))
    overhead(bulkMs, n("call_ns") / 1e6)
  }

  private val SmallKeys = Set("jobs", "stages", "tasks", "shuffle_read_mb",
    "shuffle_write_mb")

  private def sparkLayer(prefix: String, c: Map[String, Double]): Unit =
    c.foreach { case (k, v) => if (k != "alloc_mb") report.layer(s"$prefix.$k") = v }

  /** Tracing overhead of the workload's main call: its traced time minus
    * its untraced time (forward: `GeocodeStats` on top of the listener;
    * reverse: the listener).
    */
  private def overhead(untracedMs: Double, tracedMs: Double): Unit = {
    report.layer("trace.overhead_ms") = tracedMs - untracedMs
    report.layer("trace.overhead_share") = (tracedMs - untracedMs) / untracedMs
  }

  // ---- reverse -------------------------------------------------------------

  private def reverseLoop(): Unit = {
    for (_ <- 0 until ReverseWarmupCalls) reverseCall(gen.reverseBatch(call, ReversePoints), "warmup")
    val ms = scala.collection.mutable.ArrayBuffer.empty[Double]
    loopFor(a.seconds) {
      ms += reverseCall(gen.reverseBatch(call, ReversePoints), "reverse")._1 / 1e6
    }
    report.e2e("latency_p50_ms") = Stats.median(ms.toSeq)
    report.e2e("qps") = ReversePoints / (Stats.median(ms.toSeq) / 1e3)
    noteTail(ms.toSeq)
    if (a.trace) reverseTraced(Stats.median(ms.toSeq))
  }

  private def reverseTraced(untracedMs: Double): Unit = {
    val counters = listen()
    val ps = gen.reverseBatch(call, ReversePoints)
    var resultRows = 0L
    val (ms, c) = counted(Some(counters)) {
      val (ns, rows) = reverseCall(ps, "reverse.listened")
      resultRows = rows
      ns
    }
    sparkLayer("spark", c)
    report.layer("jvm.alloc_mb") = c("alloc_mb")
    spark.sparkContext.removeSparkListener(counters)
    // the candidate stage alone, on the same points
    val t0 = nowNs()
    val candRows = step("reverse.candidates") {
      val cpts = pointsDf(ps).withColumn("sub", org.apache.spark.sql.functions.lit(0))
      Reverse.candidates(cpts, index, distanceMode = true, radiusMiles = 0.0).count()
    }
    val candS = secs(nowNs() - t0)
    report.layer("rev.candidates_s") = candS
    report.layer("rev.pick_stack_s") = math.max(0.0, ms / 1e3 - candS)
    report.layer("rev.candidate_rows") = candRows.toDouble
    report.layer("rev.rows_per_candidate") = resultRows.toDouble / math.max(1L, candRows)
    overhead(untracedMs, ms)
  }
}

object Report {
  private val Stages = Seq("phrasematch", "pm_join", "spatialmatch", "verifymatch",
    "context_rank", "tail")
  private val SparkKeys = Seq("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_mb",
    "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb", "peak_exec_mem_mb", "gc_s",
    "failed_tasks")

  /** The names of every per-layer metric a traced run reports. */
  val LayerMetrics: Seq[String] =
    Seq("build", "warm_layers", "warm_cand", "warm_postings", "warm_features",
      "warm_tiles").map(s => s"index.${s}_s") ++
      Seq("layers", "cand", "postings", "features", "tiles").map(s => s"index.${s}_mb") ++
      Seq("index.postings_rows", "index.tile_rows", "index.cand_rows") ++
      Stages.map(s => s"fwd.${s}_s") ++
      Seq("pm", "spatialmatch", "verifymatch", "result").map(s => s"fwd.${s}_rows") ++
      Seq("fwd.results_per_pm_row", "fwd.floor_ms") ++
      Stages.map(s => s"fwd.small.${s}_s") ++
      Seq("rev.candidates_s", "rev.pick_stack_s", "rev.candidate_rows",
        "rev.rows_per_candidate") ++
      SparkKeys.map(k => s"spark.$k") ++
      Seq("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb")
        .map(k => s"spark.small.$k") ++
      Seq("spark.storage_growth_mb", "jvm.alloc_mb", "trace.overhead_ms",
        "trace.overhead_share")
}
