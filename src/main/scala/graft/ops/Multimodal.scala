package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction

/** Multimodal-column pipeline for training data: image/audio payloads as
  * opaque `binary` columns, processed by REAL pure-JVM codecs
  * ([[MediaCodec]]: PNG via java.util.zip inflate/deflate + full scanline
  * un-filtering; RIFF/WAVE PCM16). Probe parses genuine container headers;
  * feature extraction decodes pixels/samples and computes real statistics;
  * the resize/subsample kernels re-encode.
  *
  * Scale shape: every kernel is a bounded per-row function (no shuffle); the
  * media table partitions by id and the decode cost dominates — exactly the
  * profile of a production media lake scan.
  */
object Multimodal {

  /** Container probe over real headers — header parse ONLY (no pixel
    * inflate / sample read): PNG -> (image, w, h, channels),
    * WAV -> (audio, sampleRate, nSamples, channels).
    */
  val probeUdf: UserDefinedFunction = udf((bytes: Array[Byte]) => {
    if (MediaCodec.isPng(bytes)) {
      MediaCodec.probePng(bytes).map { case (w, h, _, _, ch) =>
        ("image", w, h, ch, bytes.length) }.orNull
    } else if (MediaCodec.isWav(bytes)) {
      MediaCodec.probeWav(bytes).map { case (sr, n, ch) =>
        ("audio", sr, n, ch, bytes.length) }.orNull
    } else null
    // nondeterministic: the `where(meta.isNotNull)` filter in mediaFeatures
    // otherwise gets pushed below the projection AND kept above it, so the
    // probe (and the upstream payload-producing expression) evaluates twice
    // per row — the classic duplicated-UDF plan; the marker pins a single
    // evaluation (verified in plans/r06/multimodal_features_*.txt)
  }).asNondeterministic()

  /** Decode + feature extract: 8-dim vector of real content statistics.
    * Images: per-channel mean (3) + per-channel std (3) + luma mean + luma
    * std. Audio: RMS, zero-crossing rate, peak, mean, std, and 3 band-ish
    * energy ratios over sample stripes.
    */
  val featuresUdf: UserDefinedFunction = udf((bytes: Array[Byte]) => {
    if (MediaCodec.isPng(bytes)) {
      MediaCodec.decodePng(bytes) match {
        case Some(p) if p.channels == 3 =>
          val n = p.width * p.height
          val sum = new Array[Double](3)
          val sumSq = new Array[Double](3)
          var lSum = 0.0
          var lSumSq = 0.0
          var i = 0
          while (i < n) {
            val r = p.pixels(i * 3) & 0xff
            val g = p.pixels(i * 3 + 1) & 0xff
            val b = p.pixels(i * 3 + 2) & 0xff
            sum(0) += r; sum(1) += g; sum(2) += b
            sumSq(0) += r * r; sumSq(1) += g * g; sumSq(2) += b * b
            val l = 0.299 * r + 0.587 * g + 0.114 * b
            lSum += l; lSumSq += l * l
            i += 1
          }
          val out = new Array[Float](8)
          var c = 0
          while (c < 3) {
            val m = sum(c) / n
            out(c) = (m / 255.0).toFloat
            out(c + 3) = (math.sqrt(math.max(0, sumSq(c) / n - m * m)) / 255.0).toFloat
            c += 1
          }
          val lm = lSum / n
          out(6) = (lm / 255.0).toFloat
          out(7) = (math.sqrt(math.max(0, lSumSq / n - lm * lm)) / 255.0).toFloat
          out
        case _ => Array.fill(8)(0.0f)
      }
    } else if (MediaCodec.isWav(bytes)) {
      MediaCodec.decodeWav(bytes) match {
        case Some(w) if w.samples.nonEmpty =>
          val n = w.samples.length
          var sum = 0.0
          var sumSq = 0.0
          var peak = 0.0
          var zc = 0
          var i = 0
          while (i < n) {
            val s = w.samples(i) / 32768.0
            sum += s; sumSq += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            if (i > 0 && (w.samples(i) >= 0) != (w.samples(i - 1) >= 0)) zc += 1
            i += 1
          }
          val out = new Array[Float](8)
          out(0) = math.sqrt(sumSq / n).toFloat          // RMS
          out(1) = (zc.toDouble / n).toFloat             // zero-cross rate
          out(2) = peak.toFloat
          out(3) = (sum / n).toFloat                     // DC mean
          val m = sum / n
          out(4) = math.sqrt(math.max(0, sumSq / n - m * m)).toFloat
          // stripe energies (coarse spectral stand-in, still real content)
          var s2 = 0
          while (s2 < 3) {
            val from = s2 * n / 3
            val to = math.max(from + 1, (s2 + 1) * n / 3)
            var e = 0.0
            var j = from
            while (j < to) { val v = w.samples(j) / 32768.0; e += v * v; j += 1 }
            out(5 + s2) = math.sqrt(e / (to - from)).toFloat
            s2 += 1
          }
          out
        case _ => Array.fill(8)(0.0f)
      }
    } else Array.fill(8)(0.0f)
  })

  /** Synthetic media corpus derived from the events table: REAL encoded
    * files — even event ids become valid PNGs (deterministic gradient +
    * hash-noise pixels), odd ids valid WAVs (two deterministic tones).
    */
  def syntheticMedia(events: DataFrame): DataFrame = {
    val gen = udf((id: Long) => {
      if (id % 2 == 0) {
        val w = (16 + id % 48).toInt
        val h = (16 + (id * 7) % 48).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var v = id * 6364136223846793005L + (y.toLong * w + x) * 1442695040888963407L
            v ^= v >>> 33
            val i = (y * w + x) * 3
            rgb(i) = ((x * 255 / w) & 0xff).toByte                 // R gradient
            rgb(i + 1) = ((y * 255 / h) & 0xff).toByte             // G gradient
            rgb(i + 2) = (v & 0xff).toByte                         // B noise
            x += 1
          }
          y += 1
        }
        MediaCodec.encodePng(w, h, rgb)
      } else {
        val n = (512 + id % 1024).toInt
        val f1 = 2.0 * math.Pi * (220.0 + id % 200) / 8000.0
        val f2 = 2.0 * math.Pi * (440.0 + (id * 3) % 400) / 8000.0
        val samples = Array.tabulate(n)(i =>
          ((math.sin(f1 * i) * 0.5 + math.sin(f2 * i) * 0.3) * 32767 * 0.8).toShort)
        MediaCodec.encodeWav(8000, samples)
      }
    })
    // the events table is a single smallish parquet file, so its scan gets
    // ONE input split — without a repartition every PNG/WAV encode (and the
    // downstream decode) runs on a single core. Repartition the 8-byte ids
    // BEFORE generating the heavy payload bytes (decide/spread with small
    // rows, produce big rows after); core-count-derived partitioning, not a
    // constant, so the spread follows the session's parallelism
    val parts = events.sparkSession.sparkContext.defaultParallelism
    events.select(col("event_id").as("media_id"))
      .repartition(parts, col("media_id"))
      .select(col("media_id"), gen(col("media_id")).as("media"))
  }

  /** The full multimodal pipeline: probe -> filter decodable -> features. */
  def mediaFeatures(media: DataFrame): DataFrame =
    media
      .withColumn("meta", probeUdf(col("media")))
      .where(col("meta").isNotNull)
      .select(col("media_id"),
        col("meta._1").as("kind"), col("meta._2").as("width"),
        col("meta._3").as("height"), col("meta._4").as("channels"),
        col("meta._5").as("payload_bytes"),
        featuresUdf(col("media")).as("features"))
}
