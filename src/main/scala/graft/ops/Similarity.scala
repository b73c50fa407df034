package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}

/** Embedding similarity search.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * scans the corpus once — embarrassingly parallel, no shuffle except the
  * final per-query top-k (a windowed rank over query-partitioned rows).
  * The LSH path buckets by random-hyperplane signature so candidate
  * generation joins bucket-local rows only; at 100 TB bucket keys become the
  * repartition key (range+hash) with salted hot buckets.
  *
  * The inner dot product is a fused JVM kernel (UDF over the two float
  * arrays): measured ~50x faster than the equivalent
  * `aggregate(zip_with(...))` Column expression, which allocates an
  * intermediate array per pair. Norms are computed once per row on each
  * join side, never per pair.
  */
object Similarity {

  /** Fused dot product over float vectors, accumulated in double. */
  val dotUdf: UserDefinedFunction =
    udf((a: Seq[Float], b: Seq[Float]) => {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        s += a(i).toDouble * b(i).toDouble
        i += 1
      }
      s
    })

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors. The query set is broadcast pre-normalized; each corpus
    * partition scores its rows against all queries and keeps a local top-k
    * per query (partition-local heaps), then a global window merges the
    * partition winners — the classic distributed kNN: one scan, no
    * corpus shuffle, final shuffle is only (partitions x queries x k) rows.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, normalized(v)) }
    val bc = spark.sparkContext.broadcast(q)
    val local = corpus.select(col(idCol).cast("long"), col(vecCol))
      // spread the single-split corpus scan so the brute-force kernel uses
      // every core (one small parquet file = one task otherwise)
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        // per-query bounded top-k buffers
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))))
        it.foreach { case (cid, raw) =>
          val cv = normalized(raw)
          var i = 0
          while (i < qs.length) {
            val (qid, qv) = qs(i)
            if (qid != cid) {
              val cos = dotD(qv, cv)
              val h = heaps(i)
              if (h.size < k) h.enqueue((cos, cid))
              else if (cos > h.head._1 ||
                (cos == h.head._1 && cid < h.head._2)) {
                h.dequeue(); h.enqueue((cos, cid))
              }
            }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator.map { case (cos, cid) => (qs(i)._1, cid, cos) }
        }
      }.toDF("query_id", "corpus_id", "cos")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("corpus_id"))
    local.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"))
  }

  /** All pairs with cosine similarity above a threshold (ids only — floats
    * never leave the plan, so results are engine-exact).
    *
    * Exact all-pairs is inherently quadratic; the scalable EXACT shape is
    * a block-pair shuffle join: hash each vector into one of K blocks,
    * replicate it to the K block-pair groups it participates in, and run
    * the fused dot-product kernel (~100ns/pair; the per-pair UDF route
    * costs ~60us/pair in array deserialization alone, measured) inside
    * each group. No driver collect, no single-node broadcast bound: a
    * group holds at most two blocks (~2*BlockRows vectors), executors
    * never see more, and the K*(K+1)/2 groups spread over the cluster.
    * Replication factor is K (the unavoidable data movement of all-pairs
    * without a full broadcast). Above exact-tractable sizes, use LSH
    * bucketing ([[annLshMulti]]) — the candidate-pruned route.
    */
  val PairsBlockRows = 8192

  def cosinePairsAbove(df: DataFrame, threshold: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    val n = vecs.count()
    val k = math.max(1L, (n + PairsBlockRows - 1) / PairsBlockRows).toInt
    vecs
      .flatMap { case (id, raw) =>
        val v = normalized(raw)
        val b = (java.lang.Long.hashCode(id) & Int.MaxValue) % k
        // one row per block-pair group this vector joins: (b,o) for every
        // o, normalized to p<=q — k distinct keys, (b,b) exactly once
        (0 until k).iterator.map { o =>
          val (p, q) = if (b <= o) (b, o) else (o, b)
          (p.toLong * k + q, b, id, v)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val p = (key / k).toInt
        val q = (key % k).toInt
        val rows = it.toArray
        if (p == q) {
          // within-block pairs, id-ordered
          for {
            i <- rows.indices.iterator
            j <- (i + 1) until rows.length
            if dotD(rows(i)._4, rows(j)._4) > threshold
          } yield if (rows(i)._3 < rows(j)._3) (rows(i)._3, rows(j)._3)
                  else (rows(j)._3, rows(i)._3)
        } else {
          val left = rows.filter(_._2 == p)
          val right = rows.filter(_._2 == q)
          for {
            a <- left.iterator
            b <- right.iterator
            if dotD(a._4, b._4) > threshold
          } yield if (a._3 < b._3) (a._3, b._3) else (b._3, a._3)
        }
      }
      .toDF("id_a", "id_b")
  }

  private def normalized(v: Array[Float]): Array[Double] = {
    val out = new Array[Double](v.length)
    var s = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; out(i) = x; s += x * x; i += 1 }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < v.length) { out(i) /= n; i += 1 } }
    out
  }

  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Precomputed hyperplane sign planes, cached per (tables, bits, extraBits,
    * dim) per executor JVM. Row j is a bitset over all tables' bits: bit
    * (t*(bits+extraBits)+i) set means hyperplane (t, i) has a negative sign
    * at vector element j: the low bit of an avalanche of
    * (key * 0x9e3779b97f4a7c15) ^ (i << 32 | j), with table key t for the
    * b0 bits and t+1000 for the bx bits.
    */
  private object SigPlanes {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Int), Array[Array[Long]]]()
    def get(tables: Int, bits: Int, extraBits: Int, dim: Int): Array[Array[Long]] =
      cache.computeIfAbsent((tables, bits, extraBits, dim), _ => build(tables, bits, extraBits, dim))
    private def build(tables: Int, bits: Int, extraBits: Int, dim: Int): Array[Array[Long]] = {
      val per = bits + extraBits
      val words = (tables * per + 63) >>> 6
      Array.tabulate(dim) { j =>
        val row = new Array[Long](words)
        var t = 0
        while (t < tables) {
          var i = 0
          while (i < per) {
            val tKey = if (i < bits) t else t + 1000
            val bi = if (i < bits) i else i - bits
            var h = (tKey.toLong * 0x9e3779b97f4a7c15L) ^
              ((bi.toLong << 32) | (j.toLong & 0xffffffffL))
            h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
            if ((h & 1L) != 0L) { val b = t * per + i; row(b >>> 6) |= (1L << (b & 63)) }
            i += 1
          }
          t += 1
        }
        row
      }
    }
  }

  /** All tables' (b0, bx) signatures in ONE pass over the vector: one UDF
    * call (one array deserialization) per row instead of 2×tables, with the
    * hyperplane signs precomputed into bitset planes rather than hashed in
    * the hot loop.
    */
  private def allSigsUdf(tables: Int, bits: Int, extraBits: Int): UserDefinedFunction =
    udf((v: Seq[Float]) => {
      val per = bits + extraBits
      val total = tables * per
      val planes = SigPlanes.get(tables, bits, extraBits, v.length)
      val sums = new Array[Double](total)
      var j = 0
      while (j < v.length) {
        val x = v(j).toDouble
        val row = planes(j)
        var b = 0
        while (b < total) {
          if (((row(b >>> 6) >>> (b & 63)) & 1L) == 0L) sums(b) += x else sums(b) -= x
          b += 1
        }
        j += 1
      }
      val out = new Array[(Int, Long, Long)](tables)
      var t = 0
      while (t < tables) {
        var b0 = 0L
        var i = 0
        while (i < bits) { if (sums(t * per + i) > 0) b0 |= (1L << i); i += 1 }
        var bx = 0L
        i = 0
        while (i < extraBits) { if (sums(t * per + bits + i) > 0) bx |= (1L << i); i += 1 }
        out(t) = (t, b0, bx)
        t += 1
      }
      out.toSeq
    })

  /** Multi-table hyperplane-LSH approximate NN — the 100 TB ANN shape:
    *
    *  - `tables` independent hyperplane families recover the recall a single
    *    bucketing loses (a true neighbor only needs to collide in ONE table);
    *  - bucket width scales with the corpus: bits = log2(n / targetBucket),
    *    clamped to [bitsMin, 40];
    *  - hot buckets are re-bucketed with `extraBits` finer hyperplanes
    *    BEFORE the self-join, so no bucket exceeds ~maxBucket and the
    *    candidate shuffle is bounded (the skew-salting analog);
    *  - candidate generation and exact-cosine verification are plain
    *    equi-joins — nothing materializes a bucket in memory.
    */
  def annLshMulti(df: DataFrame, k: Int, tables: Int = 8,
                  bitsMin: Int = 3, targetBucket: Int = 64,
                  maxBucket: Int = 512, extraBits: Int = 8,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  adaptiveBrute: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    // One materialization of (id, vec, unit-normalized vec): reused by the
    // count, the signature pass, and both sides of the verification join —
    // normalization happens ONCE per vector here, so the per-candidate
    // cosine is a single fused dot product. localCheckpoint (not cache) per
    // the plan-registry degradation measured in this repo.
    val normalizeUdf = udf((v: Seq[Float]) => {
      val n = v.length
      var s = 0.0
      var i = 0
      while (i < n) { val x = v(i).toDouble; s += x * x; i += 1 }
      val inv = if (s > 0) 1.0 / math.sqrt(s) else 0.0
      val out = new Array[Float](n)
      i = 0
      while (i < n) { out(i) = (v(i) * inv).toFloat; i += 1 }
      out
    })
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("vn", normalizeUdf(col("v")))
      .localCheckpoint()
    val n = vecs.count()
    // Adaptive cutover (measured at sf0.1): expected LSH candidates per
    // query ~ tables x targetBucket; when that approaches the corpus size,
    // the LSH candidate join touches ~n^2 pairs anyway and the broadcast
    // brute kernel (one scan, partition-local heaps, no candidate shuffle)
    // is strictly cheaper. LSH takes over as n grows — its cost is
    // O(n x tables x targetBucket), linear in n, the 100 TB shape.
    if (adaptiveBrute && 2L * tables * targetBucket >= n)
      return cosineTopK(df, df, k, idCol, vecCol)
    val bits = math.min(40, math.max(bitsMin,
      (math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).ceil.toInt))

    // Single fused signature pass: one UDF call per row emits all tables'
    // (table, b0, bx), exploded into the per-table rows the bucketing needs.
    // Recomputed (not checkpointed) for the hot-bucket count and the join:
    // with the sign planes cached per executor, the pass is cheaper than a
    // checkpoint barrier.
    val sigs = vecs
      .select(col("id"), explode(allSigsUdf(tables, bits, extraBits)(col("v"))).as("s"))
      .select(col("id"), col("s._1").as("table"), col("s._2").as("b0"), col("s._3").as("bx"))

    // hot-bucket split: oversized (table, b0) buckets refine with extra bits
    val counts = sigs.groupBy(col("table"), col("b0"))
      .agg(count(lit(1)).as("n_b"))
    val bucketed = sigs.join(counts, Seq("table", "b0"))
      .withColumn("bucket",
        when(col("n_b") > maxBucket,
          concat_ws(":", col("b0"), col("bx"))).otherwise(col("b0").cast("string")))
      .select(col("table"), col("bucket"), col("id"))

    val a = bucketed.select(col("table"), col("bucket"), col("id").as("query_id"))
    val b = bucketed.select(col("table"), col("bucket"), col("id").as("corpus_id"))
    val cand = a.join(b, Seq("table", "bucket"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"))
      .distinct()

    val scored = cand
      .join(vecs.select(col("id").as("query_id"), col("vn").as("qv")), "query_id")
      .join(vecs.select(col("id").as("corpus_id"), col("vn").as("cv")), "corpus_id")
      .withColumn("cos", dotUdf(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"))
  }
}
