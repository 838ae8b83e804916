package graftbench

import graft.sources.Hdf4

/** The benchmark's own checks, run by `python3 perfbench/run.py
  * --selftest`: the generator is deterministic per seed, the oracle
  * flags perturbed results, and the percentile helper withholds a p90
  * that has fewer than ten samples beyond it. */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def run(): Unit = {
    val small = Spec(7, width = 96, height = 64, frac = 32, fracND = 4, nDates = 10, appendDates = 2)
    val a = new Gen(small); val b = new Gen(small); val c = new Gen(small.copy(seed = 8))
    def cubeBytes(g: Gen): Seq[Int] = for {
      t <- 0 until small.allDates; y <- 0 until small.height; x <- 0 until small.width
      band <- 0 to 2
    } yield g.band(band, x, y, t)
    expect("generator: same seed, same cube")(cubeBytes(a) == cubeBytes(b))
    expect("generator: another seed, another cube")(cubeBytes(a) != cubeBytes(c))
    val ca = new Cube(a); val cb = new Cube(b)
    def landing(cu: Cube): Seq[Byte] = (0 until small.nDates).flatMap { t =>
      Hdf4.writeSds(Seq(
        Hdf4.Sds(Gen.NdviSds, Seq(small.height, small.width), "int16", cu.plane(0, t)),
        Hdf4.Sds(Gen.QaSds, Seq(small.height, small.width), "uint16", cu.plane(1, t))),
        deflateLevel = 1).toSeq
    }
    expect("generator: same seed, byte-identical landing files")(landing(ca) == landing(cb))
    val cells = for (t <- 0 until small.allDates; y <- 0 until small.height; x <- 0 until small.width)
      yield (x, y, t)
    expect("generator: some cloudy and some clear QA words")(
      cells.exists(p => !a.clear(a.qa(p._1, p._2, p._3))) && cells.exists(p => a.clear(a.qa(p._1, p._2, p._3))))
    expect("generator: nodata present but rare")({
      val nd = cells.count(p => a.ndvi(p._1, p._2, p._3) == Gen.NdviNodata)
      nd > 0 && nd < cells.length / 10
    })

    // the oracle flags a perturbed result
    val q = Query(0, "box_stats", large = false, 3, 40, 5, 30, 2, 9)
    val good = Expect.boxStats(ca, q)
    val dst = Geo.dstHeader(small, Seq(0L))
    expect("oracle: accepts the exact answer")(Expect.check(ca, q, Queries.Rows(good), dst).isEmpty)
    val bumped = good.updated(3, good(3).updated(2, good(3)(2).asInstanceOf[Long] + 1))
    expect("oracle: flags a count off by one")(Expect.check(ca, q, Queries.Rows(bumped), dst).nonEmpty)
    val drifted = good.updated(1, good(1).updated(1, good(1)(1).asInstanceOf[Double] * (1 + 1e-6)))
    expect("oracle: flags a mean outside the float tolerance")(
      Expect.check(ca, q, Queries.Rows(drifted), dst).nonEmpty)
    val jitter = good.updated(1, good(1).updated(1, good(1)(1).asInstanceOf[Double] * (1 + 1e-13)))
    expect("oracle: accepts a mean inside the float tolerance")(
      Expect.check(ca, q, Queries.Rows(jitter), dst).isEmpty)
    expect("oracle: flags a missing row")(Expect.check(ca, q, Queries.Rows(good.tail), dst).nonEmpty)
    val tq = Query(1, "trend_map", large = false, 0, 20, 0, 20, 4, 8)
    val d = Expect.trend(ca, tq)
    expect("oracle: accepts the trend digest")(Expect.check(ca, tq, Queries.Digested(d), dst).isEmpty)
    expect("oracle: flags a digest with one changed row")(
      Expect.check(ca, tq, Queries.Digested(new Digest(d.rows, d.sum + 1)), dst).nonEmpty)
    expect("oracle: flags a digest with a dropped row")(
      Expect.check(ca, tq, Queries.Digested(new Digest(d.rows - 1, d.sum)), dst).nonEmpty)
    expect("oracle: the trend digest depends on the seed")(Expect.trend(new Cube(c), tq) != d)

    val onPatch = Query(2, "cusum_alarms", large = false, a.distX0, a.distX0 + a.distW,
      a.distY0, a.distY0 + a.distH, small.fracND, 2 * small.fracND)
    expect("generator: the disturbance patch raises CUSUM alarms")(Expect.cusumAlarms(ca, onPatch) > 0)

    // p90 needs ten samples beyond it
    val xs99 = (1 to 99).map(_.toDouble)
    val xs100 = (1 to 100).map(_.toDouble)
    expect("percentile: no p90 from 99 samples")(Stats.percentile(xs99, 90).isEmpty)
    expect("percentile: p90 of 1..100 is 90")(Stats.percentile(xs100, 90).contains(90.0))
    expect("percentile: p50 of 1..100 is 50")(Stats.percentile(xs100, 50).contains(50.0))
    expect("percentile: no p50 from 19 samples")(Stats.percentile(xs99.take(19), 50).isEmpty)
    expect("median: even count averages the middle pair")(Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
