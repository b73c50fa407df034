package graftbench

import org.apache.spark.sql.SparkSession
import graft.index.BigGazetteer

/** Tests of the benchmark's own code: input generation, the answer key,
  * the tail percentile and span self time. A plain main (the benchmark
  * resolves no test library): prints one line per check and exits 1 if
  * any failed.
  *
  *     python3 perfbench/build.py test
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  ($e)"); false }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else ".bench_build"
    inputs()
    percentile()
    spans()
    answerKey(out)
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def bytes(g: Gen): String =
    (0 until 4).map(c => g.forwardBatch(c, 50).mkString("\n")).mkString("\n") +
      (0 until 2).map(c => g.reverseBatch(c, 200).mkString("\n")).mkString("\n")

  def inputs(): Unit = {
    check("same seed gives byte-identical inputs") {
      java.util.Arrays.equals(bytes(new Gen(7, 400)).getBytes("UTF-8"),
        bytes(new Gen(7, 400)).getBytes("UTF-8"))
    }
    check("a different seed gives different inputs") {
      bytes(new Gen(7, 400)) != bytes(new Gen(8, 400))
    }
    check("calls of one seed get different inputs") {
      val g = new Gen(7, 400)
      g.forwardBatch(0, 50) != g.forwardBatch(1, 50) &&
        g.reverseBatch(0, 50) != g.reverseBatch(1, 50)
    }
    check("every query shape is generated") {
      new Gen(3, 400).forwardBatch(0, 600).map(_.shape).toSet == Gen.Shapes.toSet
    }
    check("place draws are Zipf-skewed: the top place takes about 1/H(n)") {
      val g = new Gen(5, 400)
      val rng = Rng.of(1, 2, 3)
      val counts = Seq.fill(20000)(g.place(rng)).groupBy(identity).values.map(_.size)
      val h = (1 to 400).map(1.0 / _).sum
      math.abs(counts.max / 20000.0 - 1 / h) < 0.02
    }
    check("about 10% of reverse points fall between place boxes") {
      val ps = new Gen(9, 400).reverseBatch(0, 5000)
      math.abs(ps.count(_.place.isEmpty) / 5000.0 - Gen.GapShare) < 0.02
    }
    check("a transposition changes the word but not its letters") {
      val rng = new Rng(4)
      Seq("bacedo", "kilomi", "stegruflo").forall { w =>
        val t = Gen.transpose(w, rng)
        t != w && t.sorted == w.sorted && t.head == w.head
      }
    }
  }

  def percentile(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("no tail percentile below 11 samples") {
      Stats.tail((1 to 10).map(_.toDouble)).isEmpty
    }
    check("11 samples: the minimum, with 10 beyond it") {
      Stats.tail((1 to 11).map(_.toDouble).reverse) ==
        Some(Stats.Tail(100.0 / 11, 1.0, 10, 11))
    }
    check("100 samples: p90, with 10 beyond it") {
      Stats.tail(scala.util.Random.shuffle(xs)) == Some(Stats.Tail(90.0, 90.0, 10, 100))
    }
    check("1000 samples: p99, with 10 beyond it") {
      val t = Stats.tail((1 to 1000).map(_.toDouble)).get
      t.percentile == 99.0 && t.beyond == 10 && t.value == 990.0
    }
    check("median of even and odd counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }
    check("the answer digest ignores row order") {
      val rows = Seq((1L, 1, 100001L), (1L, 2, 100002L), (2L, 1, 200004L))
      Stats.digest(rows) == Stats.digest(rows.reverse) &&
        Stats.digest(rows) != Stats.digest(rows.take(2))
    }
  }

  def spans(): Unit = {
    def sp(id: Int, parent: Int, a: Long, b: Long) = Span(id, parent, s"s$id", 0, a, b)
    val root = sp(0, -1, 0, 100)
    check("self time without children is the duration") {
      Trace.selfTimeNs(root, Nil) == 100
    }
    check("self time subtracts disjoint children") {
      Trace.selfTimeNs(root, Seq(sp(1, 0, 10, 20), sp(2, 0, 50, 80))) == 60
    }
    check("overlapping children are covered once") {
      Trace.selfTimeNs(root, Seq(sp(1, 0, 10, 40), sp(2, 0, 30, 60), sp(3, 0, 35, 45))) == 50
    }
    check("children are clipped to the parent's interval") {
      Trace.selfTimeNs(root, Seq(sp(1, 0, -20, 10), sp(2, 0, 90, 130))) == 80
    }
    check("the tracer nests spans under the open one") {
      val t = new Tracer
      t.span("a", 1) { t.span("b", 1) { t.span("c", 1)(()) }; t.span("d", 1)(()) }
      val s = t.spans.map(x => x.name -> x.parent).toMap
      s == Map("a" -> -1, "b" -> 0, "c" -> 1, "d" -> 0)
    }
    check("a written span's self time is duration minus child coverage") {
      val t = new Tracer
      t.span("a", 1) { Thread.sleep(5); t.span("b", 1)(Thread.sleep(20)); Thread.sleep(5) }
      val Seq(a, b) = t.spans
      Trace.selfTimeNs(a, Seq(b)) == a.durationNs - b.durationNs
    }
  }

  /** The answer key against the gazetteer's own documents. */
  def answerKey(out: String): Unit = {
    val n = 300
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val docs = Seq(BigGazetteer.placeDocs(spark, n), BigGazetteer.streetDocs(spark, n),
        BigGazetteer.addressDocs(spark, n))
        .map(_.map(d => (d.id, d.text, d.geometry)).collect().toVector)
      val all = docs.flatten
      val text = all.map(d => d._1 -> d._2).toMap
      val g = new Gen(11, n)
      val qs = (0 until 5).flatMap(c => g.forwardBatch(c, 200))
      check("every expected feature id is one existing feature") {
        all.map(_._1).distinct.length == all.length &&
          qs.forall(q => text.contains(q.expected))
      }
      check("each query names its expected feature") {
        qs.forall { q =>
          val t = text(q.expected)
          if (q.shape == "typo_street_place")
            q.text.endsWith(t.substring(t.indexOf(' ')) + " " +
              text(Gen.PlaceId + (q.expected - Gen.StreetId) / 2))
          else q.text.contains(t)
        }
      }
      // a street and its address document share one name
      def sameName(id: Long): Set[Long] =
        if (id >= Gen.AddressId) Set(id, id - Gen.AddressId + Gen.StreetId)
        else if (id >= Gen.StreetId) Set(id, id - Gen.StreetId + Gen.AddressId)
        else Set(id)
      check("no other street or place carries the expected name") {
        val byText = all.groupBy(_._2)
        qs.forall(q => byText(text(q.expected)).map(_._1).toSet == sameName(q.expected))
      }
      check("house numbers exist on their street") {
        qs.filter(_.shape.startsWith("number")).forall { q =>
          val j = (q.expected - Gen.AddressId).toInt
          val num = q.text.takeWhile(_ != ' ').toInt
          if (j % 2 == 0) num % 2 == 1 && num <= 19 else num >= 1 && num <= 99
        }
      }
      val box: Map[Long, (Double, Double, Double, Double)] = docs.head.map { d =>
        val v = "-?[0-9.]+(E-?[0-9]+)?".r.findAllIn(d._3).map(_.toDouble).toVector
        d._1 -> (v(0), v(1), v(4), v(5)) // w, s, e, n of the box polygon
      }.toMap
      def inside(lon: Double, lat: Double, b: (Double, Double, Double, Double)) =
        lon > b._1 && lon < b._3 && lat > b._2 && lat < b._4
      val ps = g.reverseBatch(0, 2000)
      check("in-box points lie in their place's box, gap points in none") {
        ps.forall { p =>
          p.place match {
            case Some(id) => inside(p.lon, p.lat, box(id))
            case None => !box.values.exists(inside(p.lon, p.lat, _))
          }
        }
      }
    } finally spark.stop()
  }
}
