package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 or a
  * training-pipeline op, expressed Spark-first (DataFrame/Column, codegen).
  * `oracleSql` holds the DuckDB-equivalent SQL with identical column names
  * and value representations (counts/ids/cents as BIGINT; no raw floats in
  * compared output except where bit-exact).
  */
object SparkEntry {

  /** Flagship: batch forward geocode over the synthetic page-derived index
    * (the worked example of reference docs/how-carmen-works.md:92-199).
    * Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val index = GeoIndexCache.get(spark)
    val queries = Seq(
      (1L, "West Lake View Rd Englewood"),
      (2L, "Chester New Jersey"),
      (3L, "Springfield Pennsylvania"),
      (4L, "Fulton St Lakewood Texas"),
      (5L, "Englewood")
    ).toDF("query_id", "query")
    graft.query.Forward.forward(spark, index, queries)
  }

  /** One shared per-session geocode index build (a few seconds). */
  private object GeoIndexCache {
    @volatile private var cached: Option[(SparkSession, graft.index.IndexBuilder.CarmenIndex)] = None
    def get(spark: SparkSession): graft.index.IndexBuilder.CarmenIndex = synchronized {
      cached match {
        case Some((s, idx)) if s eq spark => idx
        case _ =>
          val idx = graft.index.PageSynth.buildIndex(spark, 300).materialize()
          cached = Some((spark, idx))
          idx
      }
    }
  }

  /** The benchmark gazetteer: ~110k entities (places, streets, address
    * clusters + interpolation ranges). The geocode bench entries run
    * 1k-2k queries against THIS index so the join path, not fixed planning
    * overhead, dominates the numbers. Built once per session; the build
    * lands in the bench warmup pass.
    */
  private object BigGeoIndexCache {
    val NPlaces = 22000
    @volatile private var cached: Option[(SparkSession, graft.index.IndexBuilder.CarmenIndex)] = None
    def get(spark: SparkSession): graft.index.IndexBuilder.CarmenIndex = synchronized {
      cached match {
        case Some((s, idx)) if s eq spark => idx
        case _ =>
          val idx = graft.index.BigGazetteer.buildIndex(spark, NPlaces).materialize()
          cached = Some((spark, idx))
          idx
      }
    }
  }

  private def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core (scan/filter/agg/join/window/set ops) ---------
    "q1_pricing" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
    }),

    "q3_revenue_topn" -> ((s, d) => {
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d).where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q4_semi_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      o.join(l.select(col("l_orderkey")), col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    "q5_region_revenue" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    }),

    "q_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"), min(col("c_custkey")).as("min_custkey"))
    }),

    "q_window_topk" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),

    "q_window_running" -> ((s, d) => {
      val l = Tables.lineitem(s, d).where(col("l_suppkey") <= 3)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      l.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast("long")).over(w).as("running_qty"))
    }),

    "q_distinct_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_lines"))
    }),

    "q_events_lag" -> ((s, d) => {
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("event_id"), col("user_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))).as("gap_s"))
    }),

    "q_events_hourly" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    }),

    "q_brand_agg" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_lines"))
    }),

    // --- dedup / text-analysis over documents --------------------------
    "dedup_exact" -> ((s, d) =>
      Dedup.exactDedupKeep(Tables.documents(s, d), "doc_id", "text")),

    "text_tokens" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))),

    "text_quality" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.alphaRatioMicros(col("text")).as("alpha_micros"),
        TextOps.digitRatioMicros(col("text")).as("digit_micros"),
        TextOps.stopwordRatioMicros(col("text")).as("stop_micros"))),

    "text_langid" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"))),

    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),

    // rowsPerBand=2 (b=32): banding knee below the 0.5 threshold, so recall
    // for pairs at exactly j=0.5 is guaranteed (miss prob ~1e-4), not
    // fixture-lucky like the r=4/b=16 midpoint-at-0.5 banding
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashLshExactPairs(Tables.documents(s, d), "doc_id", "text",
        rowsPerBand = 2, threshold = 0.5)),

    // maxHamming 3: the 4x16-bit banding guarantees recall only for
    // hamming <= 3 (any 4-band split of <=3 flipped bits leaves one intact)
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))),

    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"))),

    // --- embedding similarity ------------------------------------------
    "emb_cosine_pairs" -> ((s, d) =>
      Similarity.cosinePairsAbove(Tables.embeddings(s, d), 0.45)),

    "emb_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.cosineTopK(e, e.where(col("vec_id") < 10), k = 3)
    }),

    "emb_ann_lsh" -> ((s, d) =>
      // multi-table LSH with corpus-scaled bucket width + hot-bucket split
      Similarity.annLshMulti(Tables.embeddings(s, d), k = 3, tables = 16)),

    // --- geospatial tile assignment -------------------------------------
    "geo_tile_points" -> ((s, d) => {
      val pts = GeoOps.syntheticPoints(s, d)
      pts.select(col("p_partkey"),
        GeoOps.tileX(col("lon"), 8).as("tx"),
        GeoOps.tileY(col("lat"), 8).as("ty"))
    }),

    "geo_tile_rollup" -> ((s, d) => {
      val pts = GeoOps.syntheticPoints(s, d)
      pts.select(GeoOps.tileX(col("lon"), 4).as("tx"),
          GeoOps.tileY(col("lat"), 4).as("ty"))
        .groupBy(col("tx"), col("ty"))
        .agg(count(lit(1)).as("n"))
    }),

    // --- carmen-semantic geocode engine (rows-only checks: the DuckDB
    // oracle cannot express the geocode pipeline; correctness is covered by
    // the reference-golden ScalaTest suite) ------------------------------
    // 2000 mixed queries (street+place / bare place / house number /
    // place+region) against the ~110k-entity gazetteer: the joins, not
    // per-query planning overhead, dominate (round-3 verdict item)
    "geocode_forward" -> ((s, _) => {
      val index = BigGeoIndexCache.get(s)
      val qs = graft.index.BigGazetteer.forwardQueries(s, 2000,
        BigGeoIndexCache.NPlaces)
      graft.query.Forward.forward(s, index, qs)
        .select(col("query_id"), col("rank"), col("relev"), col("place_name"))
    }),

    "geocode_reverse" -> ((s, _) => {
      val index = BigGeoIndexCache.get(s)
      val pts = graft.index.BigGazetteer.reversePoints(s, 2000,
        BigGeoIndexCache.NPlaces)
      graft.query.Reverse.reverse(s, index, pts)
    }),

    "geocode_reverse_knn" -> ((s, _) => {
      val index = BigGeoIndexCache.get(s)
      val pts = graft.index.BigGazetteer.reversePoints(s, 500,
        BigGeoIndexCache.NPlaces)
      graft.query.Reverse.nearestK(s, index, pts, "street", limit = 3)
    }),

    // limit-reverse: k nearest features of one type, each with its own
    // exclusive-target context (reference geocode.js:247-287)
    "geocode_reverse_limit" -> ((s, _) => {
      val index = BigGeoIndexCache.get(s)
      val pts = graft.index.BigGazetteer.reversePoints(s, 500,
        BigGeoIndexCache.NPlaces)
      graft.query.Reverse.reverseLimit(s, index, pts, "street", limit = 3)
    }),

    // O3 debug surface: matched windows + weights per (query, layer)
    "geocode_pm_debug" -> ((s, _) => {
      val index = GeoIndexCache.get(s)
      import s.implicits._
      val qs = Seq((1L, "West Lake View Rd Englewood"),
        (2L, "Chester New Jersey"), (3L, "Englewood")).toDF("query_id", "query")
      graft.query.Forward.phrasematchDebug(s, index, qs)
        .select(col("query_id"), col("layer"), col("subquery"), col("weight"),
          col("is_prefix"), col("is_fuzzy"))
    }),

    "geocode_tile_index" -> ((s, _) => {
      val index = BigGeoIndexCache.get(s)
      index.layers.map(_.tileFeatures.select(col("z"), col("x"), col("y"),
        col("id"))).reduce(_ unionByName _)
    }),

    "geocode_postings" -> ((s, _) => {
      val index = BigGeoIndexCache.get(s)
      index.allPostingsFlat.select(col("layer"), col("phrase"),
        col("phrase_id"), col("relev"), col("score3"), col("id24"),
        col("x"), col("y"))
    }),

    "geocode_address" -> ((s, _) => {
      // house-number resolution (AddressCluster.forward / AddressItp
      // .forward) batched against the BigGazetteer address layer so the
      // entry measures address-resolution throughput, not per-call
      // planning floor; per-number correctness is carried by
      // AddressSpec/AddressAcceptanceSpec goldens
      val index = BigGeoIndexCache.get(s)
      val qs = graft.index.BigGazetteer.addressQueries(s, 1000,
        BigGeoIndexCache.NPlaces)
      graft.query.Forward.forward(s, index, qs)
        .select(col("query_id"), col("rank"), col("relev"), col("place_name"),
          col("center_lon"), col("center_lat"))
    }),

    "geocode_fuzzy" -> ((s, _) => {
      val index = BigGeoIndexCache.get(s)
      val qs = graft.index.BigGazetteer.fuzzyQueries(s, 1000,
        BigGeoIndexCache.NPlaces)
      graft.query.Forward.forward(s, index, qs)
        .select(col("query_id"), col("rank"), col("relev"), col("place_name"))
    }),

    // --- multimodal binary columns (real PNG/WAV decode kernels) ---------
    "multimodal_features" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(Tables.events(s, d))
      Multimodal.mediaFeatures(media)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("channels"), col("payload_bytes"))
    }),

    // --- structured streaming (bounded replay of the events table) --------
    "stream_windowed_counts" -> ((s, d) => {
      graft.streaming.StreamOps.runBoundedWindowCount(s, s"$d/events.parquet")
        .select(unix_timestamp(col("window.start")).as("hour_epoch"),
          col("event_type"), col("n"))
    })
  )

  /** DuckDB-equivalent SQL per query (same column names). Queries without an
    * entry get the driver's weaker rows-only check (engine-specific hashes).
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_revenue_topn" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey
        |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin,

    "q4_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers, MIN(c_custkey) AS min_custkey
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 3""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_events_lag" ->
      """SELECT event_id, user_id,
        |  CAST(epoch_us(ts) // 1000000 -
        |    epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
        |    AS BIGINT) AS gap_s
        |FROM events""".stripMargin,

    "q_events_hourly" ->
      """SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_epoch,
        |  event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_brand_agg" ->
      """SELECT p_brand, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id, CAST(CASE WHEN trim(text) = '' THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE round(
        |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1000000.0
        |    / length(text)) END AS BIGINT) AS alpha_micros,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE round(
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1000000.0
        |    / length(text)) END AS BIGINT) AS digit_micros,
        |  CAST(CASE WHEN trim(text) = '' THEN 0 ELSE round(
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> list_contains(['the','and','of','to','in','is','that','with','for','was','on','are','this','it','as','be','at','by','from'], lower(t))))
        |    * 1000000.0 / len(regexp_split_to_array(trim(text), '\s+'))) END AS BIGINT) AS stop_micros
        |FROM documents""".stripMargin,

    "text_langid" -> {
      def hits(stops: Seq[String]) =
        s"len(list_filter(toks, x -> list_contains([${stops.map(w => s"'$w'").mkString(",")}], lower(x))))"
      s"""WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
         |  FROM documents),
         |v AS (SELECT doc_id,
         |  ${hits(TextOps.StopEn)} AS en, ${hits(TextOps.StopDe)} AS de,
         |  ${hits(TextOps.StopFr)} AS fr, ${hits(TextOps.StopEs)} AS es
         |  FROM t)
         |SELECT doc_id, CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |  WHEN en = greatest(en, de, fr, es) THEN 'en'
         |  WHEN de = greatest(en, de, fr, es) THEN 'de'
         |  WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |  ELSE 'es' END AS lang_pred
         |FROM v""".stripMargin
    },

    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, CASE WHEN trim(text) = '' THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, text, CASE WHEN len(toks) < 3 THEN []
        |    ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)] END AS s
        |  FROM t)
        |SELECT doc_id, CAST(CASE WHEN len(s) = 0
        |  THEN ('0x' || substr(md5(text), 1, 15))::BIGINT
        |  ELSE list_reduce(
        |    list_prepend(0::BIGINT, [('0x' || substr(md5(g), 1, 15))::BIGINT for g in s]),
        |    (a, b) -> xor(a, b)) END AS BIGINT) AS fp
        |FROM sh""".stripMargin,

    "dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
        |    for i in range(1, len(t) - 1)]) AS s
        |  FROM toks WHERE len(t) >= 3),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS cnt
        |  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(cnt AS DOUBLE) / (sa.n + sb.n - cnt) >= 0.5""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
        |    for i in range(1, len(t) - 1)]) AS s
        |  FROM toks WHERE len(t) >= 3),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |rare AS (SELECT g FROM inv GROUP BY g HAVING COUNT(*) <= 100),
        |invr AS (SELECT doc_id, g FROM inv JOIN rare USING (g)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM invr GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS cnt
        |  FROM invr x JOIN invr y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(cnt AS DOUBLE) / (sa.n + sb.n - cnt) >= 0.2""".stripMargin,

    "emb_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
        |  > 0.45""".stripMargin,

    "emb_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) *
        |      sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q JOIN c ON corpus_id <> query_id)
        |SELECT query_id, corpus_id, rank FROM (
        |  SELECT query_id, corpus_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin,

    "geo_tile_points" ->
      s"""WITH pts AS (${GeoOps.syntheticPointsSql})
         |SELECT p_partkey, ${GeoOps.tileXSql("lon", 8)} AS tx,
         |  ${GeoOps.tileYSql("lat", 8)} AS ty
         |FROM pts""".stripMargin,

    "geo_tile_rollup" ->
      s"""WITH pts AS (${GeoOps.syntheticPointsSql})
         |SELECT ${GeoOps.tileXSql("lon", 4)} AS tx,
         |  ${GeoOps.tileYSql("lat", 4)} AS ty, COUNT(*) AS n
         |FROM pts GROUP BY 1, 2""".stripMargin,

    "stream_windowed_counts" ->
      """SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_epoch,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin
  )
}
