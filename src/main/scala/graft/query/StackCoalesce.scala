package graft.query

import scala.collection.mutable
import graft.core._
import graft.model._

/** Per-query spatial stacking + coalesce — the semantics of the reference's
  * native stackAndCoalesce (reference lib/geocoder/spatialmatch.js:41,
  * docs/how-carmen-works.md:151-199, legacy
  * test/unit/geocoder/spatialmatch.stackable.test.js).
  *
  * Runs on one query's phrasematches+grids (small, bounded by the same
  * limits as the reference: STACKABLE_LIMIT=100, SPATIALMATCH_STACK_LIMIT=40).
  * The Spark pipeline distributes over queries; the per-cell equi-join
  * variant is the documented scale path for single hot queries.
  */
object StackCoalesce {
  val StackableLimit = 100        // reference lib/constants.js:20
  val SpatialmatchStackLimit = 40 // reference lib/constants.js:21

  /** One phrasematch with its fetched grids, kept PACKED: the index's
    * two-long layout (A = x(14)<<42 | y(14)<<28 | score3(3)<<25 | id24(25);
    * B = phraseHash(32)<<2 | relev2(2)) travels straight from the postings
    * join into the kernels, with matchesLanguage folded into B bit 34 at
    * flatten time. The kernels decode fields on demand — no per-grid object
    * allocation, and the per-grid scans walk two sequential long arrays
    * (prefetch-friendly) instead of chasing ~48B heap rows. Allocation rate
    * is the measured scaling ceiling on this host (BENCH.md), and
    * spatialmatch is the largest post-gridstore stage, so the packed form
    * is the kernel's remaining allocation lever.
    *
    * A plain class, not a case class: equality is identity, which is what
    * the kernels' IdentityHashMap memo and stackable's mask/ndx reads use.
    */
  final class Pm(
      val layer: String,
      val idx: Int,
      val ndx: Int,
      val nonOverlapping: Set[Int],
      val zoom: Int,
      val subquery: String,
      val mask: Int,
      val weight: Double,
      val prefix: Boolean,
      val scorefactor: Double,
      val gridsA: Array[Long],
      val gridsB: Array[Long],      // bit 34 = matchesLanguage (see MlBit)
      val addrNum: String = "",     // numTokenize-captured house number token
      val partial: Boolean = false, // proximity partial-number search
      val catMatch: Boolean = false,// subquery matches a layer category
      val addrPos: Int = -1,        // number-token position in the query (V12 sort)
      val fuzzy: Boolean = false,   // fuzzy-matched (edit distance > 0)
      val nPhrases: Int = 1,        // distinct index phrases merged into this Pm
      // geocoder_coalesce_radius of the source (miles); 0 = zoom-scaled
      // default (reference index.js:381 -> carmen-core coalesce)
      val radius: Double = 0.0
  )

  /** matchesLanguage flag folded into packed-grid B (bit 34; bits 0-33 are
    * relev2 + phraseHash from the index layout).
    */
  val MlBit: Long = 1L << 34

  // packed-grid field decodes (layout above; all allocation-free)
  @inline def gX(a: Long): Int = ((a >> 42) & 0x3FFFL).toInt
  @inline def gY(a: Long): Int = ((a >> 28) & 0x3FFFL).toInt
  @inline def gScore3(a: Long): Int = ((a >> 25) & 7L).toInt
  @inline def gId24(a: Long): Long = a & 0x1FFFFFFL
  @inline def gRelev2(b: Long): Int = (b & 3L).toInt
  @inline def gRelev(b: Long): Double = JsNum.relev2Bit((b & 3L).toInt)
  @inline def gPhraseHash(b: Long): Int = ((b >> 2) & 0xFFFFFFFFL).toInt
  @inline def gMl(b: Long): Boolean = (b & MlBit) != 0L

  /** stackable: enumerate phrasematch combinations with (a) disjoint token
    * masks, (b) distinct ndx groups, (c) no mutual non_overlapping_indexes,
    * capped at StackableLimit, explored best-potential-relev-first.
    */
  def stackable(pms: Vector[Pm]): Vector[Vector[Pm]] = {
    // order by weight desc so the cap keeps the highest-potential stacks;
    // subquery/fuzzy complete the key so ties don't depend on upstream
    // grouping (HashMap) iteration order
    val sorted = pms.sortBy(pm => (-pm.weight, pm.idx, pm.mask,
      pm.subquery, pm.fuzzy))
    val out = mutable.ArrayBuffer.empty[Vector[Pm]]

    def extend(start: Int, acc: List[Pm], mask: Int, ndxs: Set[Int],
               idxs: Set[Int], banned: Set[Int]): Unit = {
      if (out.length >= StackableLimit) return
      if (acc.nonEmpty) out += acc.reverse.toVector
      var i = start
      while (i < sorted.length && out.length < StackableLimit) {
        val pm = sorted(i)
        val ok = (mask & pm.mask) == 0 &&
          !ndxs.contains(pm.ndx) &&
          !banned.contains(pm.idx) &&
          pm.nonOverlapping.intersect(idxs).isEmpty
        if (ok) extend(i + 1, pm :: acc, mask | pm.mask, ndxs + pm.ndx,
          idxs + pm.idx, banned ++ pm.nonOverlapping)
        i += 1
      }
    }
    extend(0, Nil, 0, Set.empty, Set.empty, Set.empty)
    out.toVector
  }

  /** coalesce one stack: contexts where every member contributes one grid
    * and coarser-zoom grids are tile-ancestors of the finest grid
    * (x >> dz containment). Returns at most `cap` best contexts.
    */
  /** Best grid per tile for one Pm, keyed (x << 32 | y) — primitive-keyed
    * LongMap whose value is the grid's INDEX into the Pm's packed arrays
    * (one small-int box per tile vs a decoded row). Memoized per Pm
    * instance across the stacks of one spatialmatch call (stacks share Pm
    * instances, so rebuilding this map per stack was the kernel's main
    * avoidable allocation; the 50k-query scaling run puts spatialmatch at
    * ~65% of geocode time).
    */
  private def tileMap(pm: Pm): mutable.LongMap[Int] = {
    val ga = pm.gridsA; val gb = pm.gridsB
    val m = new mutable.LongMap[Int](math.max(8, ga.length))
    var i = 0
    while (i < ga.length) {
      val a = ga(i)
      val k = (gX(a).toLong << 32) | (gY(a).toLong & 0xffffffffL)
      val cur = m.getOrElse(k, -1)
      if (cur < 0 || better(a, gb(i), ga(cur), gb(cur))) m(k) = i
      i += 1
    }
    m
  }

  def coalesceStack(stack: Vector[Pm], proximity: Option[(Double, Double)],
                    bbox: Option[(Int, Int, Int, Int, Int)],
                    cap: Int = SpatialmatchStackLimit,
                    lookupOf: Pm => mutable.LongMap[Int] = tileMap)
  : Vector[StackResult] = {
    val byZoom = stack.sortBy(pm => (pm.zoom, pm.idx))
    val finest = byZoom.last
    val coarser = byZoom.init

    // per coarser member: best grid per tile (relev, then score, then id)
    val lookups: Vector[(Pm, mutable.LongMap[Int])] =
      coarser.map(pm => (pm, lookupOf(pm)))

    val results = mutable.ArrayBuffer.empty[StackResult]
    // probe buffer reused across grids: coarser matches land here so the
    // common incomplete case (finest grid with no full ancestor coverage)
    // allocates NOTHING — no CoverEntry, no builder, no distance trig
    val matchedIdx = new Array[Int](lookups.length)
    val fga = finest.gridsA; val fgb = finest.gridsB
    var fi = 0
    while (fi < fga.length) {
      val fa = fga(fi); val fb = fgb(fi)
      val fx = gX(fa); val fy = gY(fa)
      if (inBbox(fx, fy, finest.zoom, bbox)) {
        var complete = true
        var li = 0
        while (complete && li < lookups.length) {
          val (pm, m) = lookups(li)
          val dz = finest.zoom - pm.zoom
          val key = ((fx >> dz).toLong << 32) | ((fy >> dz).toLong & 0xffffffffL)
          val pi = m.getOrElse(key, -1)
          if (pi < 0) complete = false
          else matchedIdx(li) = pi
          li += 1
        }
        if (complete) {
          val entries = Vector.newBuilder[CoverEntry]
          var relevSum = 0.0
          // lead entry: the finest member's grid
          val lead = mkEntry(finest, fa, fb, proximity)
          entries += lead
          relevSum += lead.relev
          li = 0
          while (li < lookups.length) {
            val pm = lookups(li)._1
            val pi = matchedIdx(li)
            val e = mkEntry(pm, pm.gridsA(pi), pm.gridsB(pi), proximity)
            entries += e
            relevSum += e.relev
            li += 1
          }
          // covers[0] is the feature verify loads (reference
          // verifymatch.js:239) — order by contribution, most specific first
          val covers = entries.result()
            .sortBy(c => (-c.relev, -c.zoom, -c.idx))
          // C8: partial-number stacks boost the stack scoredist x300 so
          // nearby bare-number address matches surface despite their
          // uninformative score (reference spatialmatch.js:193-198)
          val sd = covers.head.scoredist
          val boosted = if (covers.exists(_.partial)) sd * 300 else sd
          results += StackResult(0L, JsNum.roundTo(relevSum, 8), boosted, covers)
        }
      }
      fi += 1
    }
    // ties break by descending packed grid value (y, x, id) — the legacy
    // gridstore ordering observable in the reference's proximity fixtures
    // (country.2 at y=1 sorts before country.1 at y=0)
    val sorted = results.sortBy { r =>
      val c = r.covers.head
      (-r.relev, -r.scoredist, -((c.y.toLong << 34) | (c.x.toLong << 20) | c.id24))
    }
    // one context per lead feature BEFORE the cap (carmen-core keeps the
    // best grid per feature id): a multi-tile feature's many near grids
    // must not crowd other features out of the capped window — observable
    // in geocode-unit.proximity-polygon (341-tile polygons, 3 features)
    val seen = mutable.HashSet.empty[Long]
    val deduped = sorted.filter(r => seen.add(r.covers.head.tmpid))
    deduped.take(cap).toVector
  }

  /** Winner holder for the single-member fast path (one per surviving
    * feature, not per grid).
    */
  private final class BestSingle(var a: Long, var b: Long, var relev: Double,
                                 var scoredist: Double, var packed: Long,
                                 var seq: Int)

  /** Single-member stack coalesce (carmen-core coalesce_single): identical
    * results to coalesceStack on a 1-stack — every in-bbox grid is a
    * complete context — but tracks only the best grid per feature (tmpid),
    * so the per-grid cost is pure arithmetic; CoverEntry/StackResult
    * allocate only for the <= |features| winners. Hot phrases carry
    * thousands of grids, and single-member stacks dominate the stack count,
    * so this is the spatialmatch kernel's main allocation lever.
    * Tie semantics match coalesceStack exactly: first-seen wins equal keys
    * (the stable sort + first-per-tmpid dedupe there), and the final order
    * breaks full-key ties by the winning grid's iteration ordinal.
    */
  private def coalesceSingle(pm: Pm, proximity: Option[(Double, Double)],
                             bbox: Option[(Int, Int, Int, Int, Int)],
                             cap: Int): Vector[StackResult] = {
    val best = new mutable.LongMap[BestSingle](64)
    var seq = 0
    val ga = pm.gridsA; val gb = pm.gridsB
    var i = 0
    while (i < ga.length) {
      val a = ga(i); val b = gb(i)
      val x = gX(a); val y = gY(a)
      if (inBbox(x, y, pm.zoom, bbox)) {
        // same arithmetic as mkEntry, allocation-free
        val score = GridCodec.decode3BitLogScale(gScore3(a), pm.scorefactor)
        val relevRaw = gRelev(b)
        val gridRelev = if (gMl(b)) relevRaw else relevRaw * LanguagePenalty
        val relev = JsNum.roundTo(gridRelev * pm.weight, 8)
        val scoredist = proximity match {
          case Some((plon, plat)) =>
            val d = Proximity.distance(plon, plat,
              tileCenterLon(x, pm.zoom), tileCenterLat(y, pm.zoom),
              x, y, pm.zoom)
            Proximity.scoredist(score, 0, math.max(pm.scorefactor, 1.01), d,
              pm.zoom, pm.radius)
          case None => score
        }
        val id24 = gId24(a)
        val packed = (y.toLong << 34) | (x.toLong << 20) | id24
        val tmpid = GridCodec.tmpid(pm.idx, id24)
        val cur = best.getOrNull(tmpid)
        if (cur eq null)
          best(tmpid) = new BestSingle(a, b, relev, scoredist, packed, seq)
        else if (relev > cur.relev ||
          (relev == cur.relev && (scoredist > cur.scoredist ||
            (scoredist == cur.scoredist && packed > cur.packed)))) {
          cur.a = a; cur.b = b; cur.relev = relev; cur.scoredist = scoredist
          cur.packed = packed; cur.seq = seq
        }
        seq += 1
      }
      i += 1
    }
    val winners = best.values.toArray
    java.util.Arrays.sort(winners, new java.util.Comparator[BestSingle] {
      def compare(a: BestSingle, b: BestSingle): Int = {
        if (a.relev != b.relev) java.lang.Double.compare(b.relev, a.relev)
        else if (a.scoredist != b.scoredist) java.lang.Double.compare(b.scoredist, a.scoredist)
        else if (a.packed != b.packed) java.lang.Long.compare(b.packed, a.packed)
        else Integer.compare(a.seq, b.seq)
      }
    })
    winners.iterator.take(cap).map { w =>
      val lead = mkEntry(pm, w.a, w.b, proximity)
      val sd = if (pm.partial) lead.scoredist * 300 else lead.scoredist
      StackResult(0L, lead.relev, sd, Vector(lead))
    }.toVector
  }

  // relev2Bit is monotone in the 2-bit code, so codes compare directly
  private def better(a1: Long, b1: Long, a2: Long, b2: Long): Boolean = {
    val r1 = gRelev2(b1); val r2 = gRelev2(b2)
    r1 > r2 || (r1 == r2 && {
      val s1 = gScore3(a1); val s2 = gScore3(a2)
      s1 > s2 || (s1 == s2 && gId24(a1) < gId24(a2))
    })
  }

  private def inBbox(x: Int, y: Int, zoom: Int,
                     bbox: Option[(Int, Int, Int, Int, Int)]): Boolean = bbox match {
    case None => true
    case Some((bz, minX, minY, maxX, maxY)) =>
      val dz = zoom - bz
      val px = if (dz >= 0) x >> dz else x << -dz
      val py = if (dz >= 0) y >> dz else y << -dz
      px >= minX && px <= maxX && py >= minY && py <= maxY
  }

  /** Language-mismatch penalty on a grid's relevance (carmen-core coalesce;
    * observable in reference acceptance expectations, e.g.
    * test/acceptance/geocode-unit.promote-language.test.js:107).
    */
  val LanguagePenalty = 0.96

  private def mkEntry(pm: Pm, a: Long, b: Long,
                      proximity: Option[(Double, Double)]): CoverEntry = {
    val x = gX(a); val y = gY(a)
    val ml = gMl(b)
    val score = GridCodec.decode3BitLogScale(gScore3(a), pm.scorefactor)
    val relevRaw = gRelev(b)
    val gridRelev = if (ml) relevRaw else relevRaw * LanguagePenalty
    val (dist, scoredist) = proximity match {
      case Some((plon, plat)) =>
        val d = Proximity.distance(plon, plat,
          tileCenterLon(x, pm.zoom), tileCenterLat(y, pm.zoom),
          x, y, pm.zoom)
        (d, Proximity.scoredist(score, 0, math.max(pm.scorefactor, 1.01), d,
          pm.zoom, pm.radius))
      case None => (0.0, score)
    }
    val id24 = gId24(a)
    CoverEntry(x, y,
      relev = JsNum.roundTo(gridRelev * pm.weight, 8),
      score = score, id24 = id24, idx = pm.idx,
      tmpid = GridCodec.tmpid(pm.idx, id24), mask = pm.mask,
      distance = dist, scoredist = scoredist,
      matchesLanguage = ml, phraseHash = gPhraseHash(b),
      zoom = pm.zoom, text = pm.subquery, prefix = pm.prefix,
      addrNum = pm.addrNum, partial = pm.partial, catMatch = pm.catMatch,
      addrPos = pm.addrPos)
  }

  private def tileCenterLon(x: Int, z: Int): Double =
    Mercator.ll((x + 0.5) * Mercator.TileSize, 0, z)._1
  private def tileCenterLat(y: Int, z: Int): Double =
    Mercator.ll(0, (y + 0.5) * Mercator.TileSize, z)._2

  /** rebalance (reference lib/geocoder/spatialmatch.js:98-136): re-weight
    * cover relevs toward equal stack shares; clamp total to 1.
    */
  def rebalance(queryLength: Int, result: StackResult): StackResult = {
    var stackMask = 0
    result.covers.foreach(c => stackMask |= c.mask)
    val coverage = Integer.bitCount(stackMask)
    val missing = queryLength - coverage
    val stackLength = result.covers.length
    val stackWeight = if (missing > 0) 1.0 / (stackLength + 1) else 1.0 / stackLength

    var totalWeight = 0.0
    var expectedWeight = 0.0
    val newCovers = result.covers.map { c =>
      expectedWeight += c.relev
      val entryWeight = Integer.bitCount(c.mask).toDouble / queryLength
      val discount = c.relev / entryWeight
      val newRelev = JsNum.roundTo((c.relev + 1.25 * stackWeight * discount) / 2.25, 8)
      totalWeight += newRelev
      c.copy(relev = newRelev)
    }
    val stackPenalty = expectedWeight - result.relev
    result.copy(relev = math.min(JsNum.roundTo(totalWeight - stackPenalty, 8), 1.0),
      covers = newCovers)
  }

  /** Full per-query spatialmatch: stackable -> coalesce each stack ->
    * rebalance -> sort -> directional dedupe (one ascending + one descending
    * + one single result per lead tmpid — reference spatialmatch.js:43-82).
    */
  def spatialmatch(queryLength: Int, pms: Vector[Pm],
                   proximity: Option[(Double, Double)] = None,
                   bbox: Option[(Int, Int, Int, Int, Int)] = None,
                   stackLimit: Int = SpatialmatchStackLimit): Vector[StackResult] = {
    val stacks = stackable(pms)
    // per-Pm tile maps built once per query, shared across its stacks
    val memo = new java.util.IdentityHashMap[Pm, mutable.LongMap[Int]]()
    def memoTileMap(pm: Pm): mutable.LongMap[Int] = {
      var m = memo.get(pm)
      if (m == null) { m = tileMap(pm); memo.put(pm, m) }
      m
    }
    // single-member stacks keep up to 40 contexts (carmen-core
    // coalesce_single MAX_CONTEXTS — observable in geocode-unit.limit:
    // 20 same-phrase places must all surface); multi-member stacks cap 4
    val all = stacks.flatMap(s =>
      if (s.length == 1) coalesceSingle(s.head, proximity, bbox, cap = 40)
      else coalesceStack(s, proximity, bbox, cap = 4, lookupOf = memoTileMap))
      .map(r => rebalance(queryLength, r))
      // category bump: a small relevance bump for queries matching a layer's
      // geocoder_categories, clamped at 1 (reference phrasematch.js:348-355
      // computes the flag; the "small score bump" + its >1 clamp are
      // documented in CHANGELOG.md 25.8.1 and docs/data-sources.md:28)
      .map { r =>
        if (r.covers.exists(_.catMatch))
          r.copy(relev = math.min(JsNum.roundTo(r.relev + 0.01, 8), 1.0))
        else r
      }
      .sortBy { r =>
        val c = r.covers.head
        (-r.relev, -r.scoredist, c.idx, -avgIdx(r),
          -((c.y.toLong << 34) | (c.x.toLong << 20) | c.id24))
      }

    val doneAsc = mutable.HashSet.empty[Long]
    val doneDesc = mutable.HashSet.empty[Long]
    val doneSingle = mutable.HashSet.empty[Long]
    val out = Vector.newBuilder[StackResult]
    var n = 0
    all.foreach { sm =>
      val covers = sm.covers
      val tmpid = covers.head.tmpid
      if (n < stackLimit) {
        if (covers.length > 1 && covers.head.idx > covers(1).idx && !doneDesc.contains(tmpid)) {
          doneDesc += tmpid; out += sm; n += 1
        } else if (covers.length > 1 && covers.head.idx < covers(1).idx && !doneAsc.contains(tmpid)) {
          doneAsc += tmpid; out += sm; n += 1
        } else if (covers.length == 1 && !doneAsc.contains(tmpid) &&
          !doneDesc.contains(tmpid) && !doneSingle.contains(tmpid)) {
          doneSingle += tmpid; out += sm; n += 1
        }
      }
    }
    out.result()
  }

  private def avgIdx(r: StackResult): Double =
    if (r.covers.isEmpty) 0 else r.covers.map(_.idx).sum.toDouble / r.covers.length
}
