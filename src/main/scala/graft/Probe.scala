package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import graft.index.{BigGazetteer, PageSynth}
import graft.index.IndexBuilder.CarmenIndex
import graft.query.{Forward, Phrasematch, Reverse, Spatialmatch}

/** Diagnostic probes: the CLI's session builder, one timing helper and the
  * index's own warm-up (`CarmenIndex.materialize`).
  *
  * Usage: runMain graft.Probe <subcommand> [args]
  *  - `one <sfDir> <query...>`: time named `SparkEntry.queries` entries.
  *    Name each query twice: the first run pays planning and codegen, so
  *    judge the second. Threads from SPARK_GRAFT_CPUS (default 16).
  *  - `plans`: scan pushdown, column pruning and broadcast selection of the
  *    relational entries, at the scale-factor directory SPARK_GRAFT_SF_DIR.
  *  - `geoplan`: the forward plan holds no nested-loop or cartesian join
  *    and the postings build no global window.
  *  - `dump-plans <outDir> <suffix> <query...>`: write the formatted and the
  *    final AQE plan of named entries (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
  *  - `pm [cpus] [n]`: phrasematch branch, postings probe and pm-row times.
  *  - `ctx [cpus] [n]`: merged candidate table sizes, and plans and times of
  *    the candidate branches and the context-fill tile probe (plans go to
  *    /tmp/ctxplans).
  *  - `shuffle [cpus] [n] [forward|reverse]`: one JSON line per Spark
  *    stage of one warm forward() call over n queries (default) or
  *    reverse() call over n points — tasks, wall, task CPU, shuffle read and
  *    write, and the operators in the stage with their partition counts —
  *    then one line per SQL action of the call (each barrier's
  *    localCheckpoint, the final collect): its joins with their build
  *    side, each broadcast's rows, bytes and build time, and each
  *    exchange's origin, partitions and bytes; then the call's totals.
  *  - `stages forward|fuzzy|address [cpus] [n]`: warm and per-stage
  *    (`GeocodeStats`) times of one query set.
  * `cpus` defaults to 32. The BigGazetteer probes use
  * SPARK_GRAFT_SCALE_PLACES places (default 22000).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    def cpusAt(i: Int) = rest.lift(i).getOrElse("32")
    def nAt(i: Int, default: Int) = rest.lift(i).map(_.toInt).getOrElse(default)
    args.headOption.getOrElse("") match {
      case "one" => one(rest(0), rest.drop(1))
      case "plans" => plans()
      case "geoplan" => geoPlan()
      case "dump-plans" => dumpPlans(rest(0), rest(1), rest.drop(2))
      case "pm" => pm(cpusAt(0), nAt(1, 2000))
      case "ctx" => ctx(cpusAt(0), nAt(1, 2000))
      case "shuffle" => shuffle(cpusAt(0), nAt(1, 10000), rest.lift(2).getOrElse("forward"))
      case "stages" if rest.nonEmpty =>
        stages(rest(0), cpusAt(1), nAt(2, if (rest(0) == "forward") 2000 else 1000))
      case _ =>
        System.err.println("usage: graft.Probe one|plans|geoplan|dump-plans|" +
          "pm|ctx|shuffle|stages [args] (see the Probe scaladoc)")
        sys.exit(1)
    }
  }

  private def withSession(cpus: String)(f: SparkSession => Unit): Unit = {
    val spark = CliArgs.session(cpus)
    try f(spark) finally spark.stop()
  }

  private def time[A](tag: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  private val NPlaces =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_PLACES", "22000").toInt

  private def bigIndex(spark: SparkSession): CarmenIndex =
    time("build_index")(BigGazetteer.buildIndex(spark, NPlaces).materialize())

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor data directory"))

  private def one(dir: String, names: Seq[String]): Unit =
    withSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")) { spark =>
      names.foreach { q =>
        val rows = time(s"one $q")(SparkEntry.queries(q)(spark, dir).count())
        println(s"PROBE one $q rows=$rows")
      }
    }

  private def plans(): Unit = withSession("8") { spark =>
    val d = sfDir
    def audit(name: String): Unit = {
      val df = SparkEntry.queries(name)(spark, d)
      df.count() // finalize the AQE plan before inspecting it
      val plan = df.queryExecution.executedPlan.toString
      def has(s: String) = if (plan.contains(s)) "yes" else "NO"
      println(s"PLAN $name: pushedFilters=${has("PushedFilters: [")} " +
        s"broadcastHash=${has("BroadcastHashJoin")} wholestage=${has("*(1)")}")
    }
    Seq("q1_pricing", "q5_region_revenue", "q_brand_agg").foreach(audit)
    // a two-column projection must not read all the lineitem columns
    val s = spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .where(col("l_quantity") > 40)
      .queryExecution.executedPlan.toString
    println("PLAN pruned_scan: readsOnlyTwoCols=" +
      s.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>") +
      " pushed=" + s.contains("GreaterThan(l_quantity,40.0)"))
  }

  private def geoPlan(): Unit = withSession("8") { spark =>
    import spark.implicits._
    val index = PageSynth.buildIndex(spark, 300)
    // phrase ids are range-partitioned plus offsets: no global Window
    val pplan = index.layers.head.postings.queryExecution.executedPlan.toString
    println("PLAN postings: globalWindow=" +
      (if (pplan.contains("Window [") && !pplan.contains("windowspecdefinition(pid"))
        "CHECK" else "no"))
    val fwd = Forward.forward(spark, index,
      Seq((1L, "West Lake View Rd Englewood"), (2L, "Engle"))
        .toDF("query_id", "query"))
    fwd.count()
    val fplan = fwd.queryExecution.executedPlan.toString
    def bad(op: String) = if (fplan.contains(op)) "YES(BAD)" else "none"
    println(s"PLAN forward: nestedLoop=${bad("BroadcastNestedLoopJoin")} " +
      s"cartesian=${bad("CartesianProduct")}")
  }

  private def dumpPlans(outDir: String, suffix: String, names: Seq[String]): Unit =
    withSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")) { spark =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(FormattedMode)
        df.count() // finalize AQE
        val out = Paths.get(s"$outDir/${name}_$suffix.txt")
        Files.writeString(out,
          s"== explain(formatted), initial plan ==\n$formatted\n" +
            s"== executed plan (AQE final) ==\n${df.queryExecution.executedPlan}\n")
        println(s"PLAN dumped $name -> $out")
      }
    }

  /** The subquery rows of `qs` with default options, as forward() makes
    * them (all layers searchable), materialized.
    */
  private def subqueries(spark: SparkSession, index: CarmenIndex,
                         qs: DataFrame): DataFrame = {
    val s = Phrasematch.subqueries(spark, qs, Phrasematch.queryGroups(index),
      proximityDefined = false).localCheckpoint()
    s.count(); s
  }

  private def branches(index: CarmenIndex, subs: DataFrame): Vector[(String, DataFrame)] =
    Phrasematch.candidateBranches(index, index, subs, autocomplete = true, fuzzy = true)

  private def joins(index: CarmenIndex, subs: DataFrame): DataFrame =
    Phrasematch.joins(index, index, subs, autocomplete = true, fuzzy = true)

  /** The phrasematch stages with default options, run twice. */
  private def pm(cpus: String, nq: Int): Unit = withSession(cpus) { spark =>
    val index = bigIndex(spark)
    val qs = BigGazetteer.forwardQueries(spark, nq, NPlaces)
    Forward.forward(spark, index, qs).count() // warm
    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      val subs = time("subqueries_ck")(subqueries(spark, index, qs))
      branches(index, subs).foreach { case (name, df) =>
        time(s"branch_$name")(println(s"  rows=${df.count()}"))
      }
      val matched = time("postings_probe") {
        val m = joins(index, subs)
        println(s"  rows=${m.count()}"); m
      }
      time("pm_rows_ck") {
        println("  rows=" + Spatialmatch.pmRows(index, None, matched)
          .localCheckpoint().count())
      }
    }
  }

  private def ctx(cpus: String, nq: Int): Unit = withSession(cpus) { spark =>
    val outDir = Files.createDirectories(Paths.get("/tmp/ctxplans"))
    val index = bigIndex(spark)
    // sums over the per-qsig MERGED tables, not per-layer tables
    val cand = index.candByQsig.values
    println(s"PROBE grouped sizes mergedDeletesG=${cand.map(_._1.count()).sum} " +
      s"mergedPrefixesG=${cand.map(_._2.count()).sum} " +
      s"mergedPrefixDeletesG=${cand.map(_._3.count()).sum}")
    def dump(tag: String, df: DataFrame): Unit =
      Files.writeString(outDir.resolve(s"$tag.txt"),
        df.queryExecution.executedPlan.toString)

    val qs = BigGazetteer.forwardQueries(spark, nq, NPlaces)
    Forward.forward(spark, index, qs).count() // warm
    val subs = subqueries(spark, index, qs)
    branches(index, subs).foreach { case (name, df) =>
      time(s"branch_$name")(println(s"  rows=${df.count()}"))
      dump(s"branch_$name", df)
    }
    val matched = joins(index, subs)
    time("postings_probe")(println(s"  rows=${matched.count()}"))
    dump("postings_probe", matched)

    // the context-fill tile probe, as forward() calls it
    val leadPts = BigGazetteer.reversePoints(spark, nq, NPlaces)
      .select(col("query_id"), lit(1).as("sub"), col("lon"), col("lat"))
    val cands = Reverse.candidates(leadPts, index,
      distanceMode = false, radiusMiles = 0.0)
    time("ctx_candidates")(println(s"  rows=${cands.count()}"))
    dump("ctx_candidates", cands.toDF())
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** One SQL action of a measured call as a JSON line: every join with its
    * build side (and, for a broadcast hash join, the rows of the relation
    * it builds), every broadcast and every shuffle exchange in the final
    * (AQE) plan, and the number of per-query kernels (`MapGroups`).
    */
  private def actionLine(workload: String, seq: Int, func: String,
                         qe: QueryExecution, durationNs: Long): String = {
    val plan = qe.executedPlan
    def metric(p: SparkPlan, key: String): Long =
      p.metrics.get(key).map(_.value).getOrElse(0L)
    def broadcastRows(side: SparkPlan): Long =
      PlanWalk.collectFirst(side) { case b: BroadcastExchangeExec =>
        metric(b, "numOutputRows") }.getOrElse(-1L)
    def join(kind: String, joinType: Any, build: String, buildRows: Long = -1L) =
      s"""{"kind":"$kind","type":"$joinType","build":"$build"""" +
        (if (buildRows >= 0) s""","build_rows":$buildRows}""" else "}")
    val joins = PlanWalk.collect(plan) {
      case j: BroadcastHashJoinExec =>
        val side = if (j.buildSide == BuildLeft) j.left else j.right
        join("BroadcastHashJoin", j.joinType, j.buildSide.toString, broadcastRows(side))
      case j: ShuffledHashJoinExec => join("ShuffledHashJoin", j.joinType, j.buildSide.toString)
      case j: SortMergeJoinExec => join("SortMergeJoin", j.joinType, "none")
      case j: BroadcastNestedLoopJoinExec =>
        join("BroadcastNestedLoopJoin", j.joinType, j.buildSide.toString)
    }
    val broadcasts = PlanWalk.collect(plan) { case b: BroadcastExchangeExec =>
      f"""{"rows":${metric(b, "numOutputRows")},"mb":${metric(b, "dataSize") / 1e6}%.1f,"build_ms":${metric(b, "buildTime")},"collect_ms":${metric(b, "collectTime")}}"""
    }
    val exchanges = PlanWalk.collect(plan) { case s: ShuffleExchangeExec =>
      f"""{"origin":"${s.shuffleOrigin}","partitions":${s.numPartitions},"mb":${metric(s, "dataSize") / 1e6}%.3f}"""
    }
    val kernels = PlanWalk.collect(plan) { case p if p.nodeName == "MapGroups" => p }.size
    f"""{"metric":"shuffle_probe_action","workload":"$workload","seq":$seq,"action":"$func","ms":${durationNs / 1e6}%.0f,"kernels":$kernels,"joins":${joins.mkString("[", ",", "]")},"broadcasts":${broadcasts.mkString("[", ",", "]")},"exchanges":${exchanges.mkString("[", ",", "]")}}"""
  }

  /** Shuffle bytes, task CPU and allocation of one warm forward() or
    * reverse() call: one JSON line per Spark stage the call ran, then one
    * line summed over the call. Unlike wall time these do not move with host
    * load, so they are the A/B number for plan-shape changes; the stage
    * lines show each kernel's task count, and a kernel stage that runs twice
    * in one call shows up twice.
    */
  private def shuffle(cpus: String, n: Int, workload: String): Unit = withSession(cpus) { spark =>
    if (workload != "forward" && workload != "reverse")
      sys.error(s"shuffle: unknown workload '$workload' (forward|reverse)")
    val index = bigIndex(spark)
    // collected, as a caller reads the answers: a count() would let the
    // optimizer drop the final sort and its sampling job
    def run(): Long = (
      if (workload == "forward")
        Forward.forward(spark, index, BigGazetteer.forwardQueries(spark, n, NPlaces))
      else Reverse.reverse(spark, index, BigGazetteer.reversePoints(spark, n, NPlaces))
    ).collect().length.toLong
    val completed = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        completed.add(e.stageInfo)
    }
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution, Long)]
    val actionListener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        actions.add((func, qe, ns))
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    run() // warm (codegen), unmeasured

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(actionListener)
    val alloc0 = ScalingBench.allocatedBytes()
    val t0 = System.nanoTime()
    val rows = run()
    val wall = (System.nanoTime() - t0) / 1e9
    val allocGb = (ScalingBench.allocatedBytes() - alloc0) / 1e9
    // stage-completed events of a finished job reach the listener within
    // milliseconds; wait before reading the queue
    Thread.sleep(3000)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(actionListener)
    val done = completed.asScala.toVector.sortBy(si => (si.submissionTime.getOrElse(0L), si.stageId))
    def metric(si: StageInfo)(f: TaskMetrics => Long): Long =
      Option(si.taskMetrics).map(f).getOrElse(0L)
    def str(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    done.foreach { si =>
      // the physical operators the stage's RDDs were built under, in
      // pipeline order, each with its RDD's partition count: a per-query
      // kernel lists "MapGroups:<partitions>", also when it shares its
      // stage with a union
      val ops = si.rddInfos.sortBy(_.id)
        .flatMap(r => r.scope.map(sc => s"${sc.name}:${r.numPartitions}")).distinct
      val wallMs = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a)
        .getOrElse(0L)
      println(f"""{"metric":"shuffle_probe_stage","workload":"$workload","stage":${si.stageId},"attempt":${si.attemptNumber()},"tasks":${si.numTasks},"wall_ms":$wallMs,"task_cpu_sec":${metric(si)(_.executorCpuTime) / 1e9}%.3f,"shuffle_read_mb":${metric(si)(_.shuffleReadMetrics.totalBytesRead) / 1e6}%.3f,"shuffle_write_mb":${metric(si)(_.shuffleWriteMetrics.bytesWritten) / 1e6}%.3f,"name":${str(si.name)},"ops":${ops.map(str).mkString("[", ",", "]")}}""")
    }
    actions.asScala.zipWithIndex.foreach { case ((func, qe, ns), i) =>
      println(actionLine(workload, i + 1, func, qe, ns))
    }
    def sum(f: TaskMetrics => Long) = done.map(metric(_)(f)).sum
    println(f"""{"metric":"${workload}_shuffle_probe","cpus":"$cpus","queries":$n,"rows":$rows,"stages":${done.length},"shuffle_write_mb":${sum(_.shuffleWriteMetrics.bytesWritten) / 1e6}%.1f,"shuffle_read_mb":${sum(_.shuffleReadMetrics.totalBytesRead) / 1e6}%.1f,"task_cpu_sec":${sum(_.executorCpuTime) / 1e9}%.1f,"tasks":${done.map(_.numTasks).sum},"alloc_gb":$allocGb%.1f,"wall_sec":$wall%.1f}""")
  }

  /** One query set: an unmeasured warm-up, a timed warm run, then a stats
    * run for the per-stage split (pm_join / spatialmatch / verifymatch /
    * context_rank).
    */
  private def stages(set: String, cpus: String, nq: Int): Unit = withSession(cpus) { spark =>
    val queries: (SparkSession, Int, Int) => DataFrame = set match {
      case "forward" => BigGazetteer.forwardQueries
      case "fuzzy" => BigGazetteer.fuzzyQueries
      case "address" => BigGazetteer.addressQueries
      case other => sys.error(s"stages: unknown query set '$other' " +
        "(forward|fuzzy|address)")
    }
    val index = bigIndex(spark)
    val qs = queries(spark, nq, NPlaces).localCheckpoint()
    def run(tag: String, stats: Option[Forward.GeocodeStats]): Unit = {
      val rows = time(s"$set $tag")(
        Forward.forward(spark, index, qs, stats = stats).count())
      println(s"PROBE $set $tag rows=$rows")
      stats.foreach(s => println(s"PROBE $set stages: $s"))
    }
    run("warmup", None)
    run("warm", None)
    run("stats", Some(new Forward.GeocodeStats()))
  }
}
