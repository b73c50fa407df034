package graftbench

import graft.index.BigGazetteer

/** splitmix64: a tiny, fully specified generator, so a seed gives the same
  * inputs on every JVM and Scala version.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    Rng.mix(s)
  }
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  /** Uniform in [lo, hi). */
  def between(lo: Double, hi: Double): Double = lo + (hi - lo) * nextDouble()
}

object Rng {
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  /** An independent stream per (seed, stream, call). */
  def of(seed: Long, stream: Long, call: Long): Rng =
    new Rng(mix(mix(mix(seed) ^ stream) ^ call))
}

/** One forward query with the feature id its rank-1 result must carry. */
final case class FwdQuery(id: Long, text: String, shape: String, expected: Long)

/** One reverse point. `place` is the place whose box holds it, or None for
  * a point in the gap between boxes (it must get no place context).
  */
final case class RevPoint(id: Long, lon: Double, lat: Double, place: Option[Long])

/** Seeded workload inputs over the [[BigGazetteer]] layout. Only the
  * gazetteer's public name and geometry functions are used, and the
  * feature ids follow its documented id blocks: place i is 100000 + i,
  * street j is 200000 + j, and the address document of street j is
  * 400000 + j. Streets 2i and 2i + 1 belong to place i; even streets carry
  * a point cluster with odd numbers 1..19, odd streets a TIGER range 1..99.
  */
final class Gen(seed: Long, val nPlaces: Int) {
  import Gen._

  /** Zipf(s = 1) over place popularity ranks: rank r has weight 1 / (r + 1). */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nPlaces)(r => 1.0 / (r + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  /** Popularity rank -> place index, a seeded permutation so that the
    * popular head differs between seeds and is spread over the grid.
    */
  private val byRank: Array[Int] = {
    val a = Array.tabulate(nPlaces)(identity)
    val rng = Rng.of(seed, StreamRank, 0)
    for (k <- nPlaces - 1 to 1 by -1) {
      val m = rng.nextInt(k + 1)
      val t = a(k); a(k) = a(m); a(m) = t
    }
    a
  }

  /** A place index drawn by popularity. */
  def place(rng: Rng): Int = {
    val u = rng.nextDouble()
    val r = java.util.Arrays.binarySearch(cdf, u)
    byRank(math.min(nPlaces - 1, if (r >= 0) r else -r - 1))
  }

  private def region(i: Int): Int = {
    val (cx, _) = BigGazetteer.placeCenter(i, nPlaces)
    val rw = (BigGazetteer.E - BigGazetteer.W) / BigGazetteer.NRegions
    math.min(BigGazetteer.NRegions - 1, ((cx - BigGazetteer.W) / rw).toInt)
  }

  private def houseNumber(j: Int, rng: Rng): Int =
    if (j % 2 == 0) 2 * rng.nextInt(10) + 1 else 1 + rng.nextInt(99)

  def query(id: Long, rng: Rng): FwdQuery = {
    val i = place(rng)
    val j = 2 * i + rng.nextInt(2)
    val shape = Shapes(rng.nextInt(Shapes.length))
    val pn = BigGazetteer.placeName(i)
    val sn = BigGazetteer.streetName(j)
    val (text, expected) = shape match {
      case "street_place" => (s"$sn $pn", StreetId + j)
      case "place" => (pn, PlaceId + i)
      case "number_street" => (s"${houseNumber(j, rng)} $sn", AddressId + j)
      case "place_region" =>
        (s"$pn ${BigGazetteer.regionName(region(i))}", PlaceId + i)
      case "number_street_place" =>
        (s"${houseNumber(j, rng)} $sn $pn", AddressId + j)
      case "typo_street_place" =>
        val first = sn.takeWhile(_ != ' ')
        (s"${transpose(first, rng)}${sn.substring(first.length)} $pn",
          StreetId + j)
    }
    FwdQuery(id, text, shape, expected)
  }

  /** The queries of forward call `call`: a pure function of (seed, call). */
  def forwardBatch(call: Int, size: Int): Vector[FwdQuery] = {
    val rng = Rng.of(seed, StreamForward, call)
    Vector.tabulate(size)(k => query(k.toLong, rng))
  }

  /** The points of reverse call `call`: a pure function of (seed, call).
    * Place boxes span 80% of their grid cell around the center; an in-box
    * point stays within 70% of the cell, a gap point lies in the outer
    * band between 84% and 96% of the cell on one axis.
    */
  def reverseBatch(call: Int, size: Int): Vector[RevPoint] = {
    val rng = Rng.of(seed, StreamReverse, call)
    val g = BigGazetteer.grid(nPlaces)
    val cw = (BigGazetteer.E - BigGazetteer.W) / g
    val ch = (BigGazetteer.N - BigGazetteer.S) / g
    Vector.tabulate(size) { k =>
      val i = place(rng)
      val (cx, cy) = BigGazetteer.placeCenter(i, nPlaces)
      if (rng.nextDouble() < GapShare) {
        val side = if (rng.nextInt(2) == 0) -1.0 else 1.0
        val out = side * rng.between(0.42, 0.48)
        val along = rng.between(-0.48, 0.48)
        val (dx, dy) = if (rng.nextInt(2) == 0) (out, along) else (along, out)
        RevPoint(k.toLong, cx + dx * cw, cy + dy * ch, None)
      } else
        RevPoint(k.toLong, cx + rng.between(-0.35, 0.35) * cw,
          cy + rng.between(-0.35, 0.35) * ch, Some(PlaceId + i))
    }
  }
}

object Gen {
  val PlaceId = 100000L
  val StreetId = 200000L
  val AddressId = 400000L
  val GapShare = 0.1

  val Shapes: Vector[String] = Vector("street_place", "place", "number_street",
    "place_region", "number_street_place", "typo_street_place")

  private val StreamRank = 1L
  private val StreamForward = 2L
  private val StreamReverse = 3L

  /** One transposition of two adjacent, different letters, never the
    * first letter (the fuzzy branch corrects one Damerau edit).
    */
  def transpose(w: String, rng: Rng): String = {
    val spots = (1 until w.length - 1).filter(p => w(p) != w(p + 1))
    if (spots.isEmpty) w
    else {
      val p = spots(rng.nextInt(spots.length))
      val a = w.toCharArray
      val t = a(p); a(p) = a(p + 1); a(p + 1) = t
      new String(a)
    }
  }
}
