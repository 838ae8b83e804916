package graftbench

/** Shape of the generated cube: a MODIS-like sinusoidal tile of
  * `width` x `height` pixels, `nDates` dates in the built store plus
  * `appendDates` more that date_append adds, chunked `frac` x `frac`
  * pixels by `fracND` dates. */
final case class Spec(seed: Long, width: Int, height: Int, frac: Int,
                      fracND: Int, nDates: Int, appendDates: Int) {
  def allDates: Int = nDates + appendDates
  def fracsX: Int = (width + frac - 1) / frac
  def fracsY: Int = (height + frac - 1) / frac
  def timeChunks(nd: Int): Int = (nd + fracND - 1) / fracND
}

object Spec {
  /** The benchmark's store: 23 dates (one MODIS year of 16-day
    * composites) in 8-date chunks, so the tail chunk holds 7 dates and
    * an append rewrites a ragged tail. */
  def default(seed: Long): Spec =
    Spec(seed, width = 384, height = 384, frac = 128, fracND = 8,
      nDates = 23, appendDates = 2)
}

/** Deterministic MODIS-like two-band generator. Every value is a pure
  * function of (seed, x, y, t), so the oracle recomputes any pixel
  * without storing the cube.
  *
  *  - NDVI (int16, nodata -3000): spatial texture + seasonal cycle +
  *    per-pixel noise; a seeded "water" mask is nodata on every date and
  *    ~1% of pixel-dates are missing. A seeded disturbance patch drops
  *    by 2500 from date `distT` on, so CUSUM queries raise alarms.
  *  - QA (uint16 MODIS VI Quality bitfield): ~15% of pixel-dates are
  *    cloudy (confidence <= 0.5), the rest clear land pixels.
  */
final class Gen(val spec: Spec) extends Serializable {
  import Gen._

  private val s = spec.seed
  val distW: Int = spec.width / 4 + (mix(s, 1) % (spec.width / 6)).toInt
  val distH: Int = spec.height / 4 + (mix(s, 2) % (spec.height / 6)).toInt
  val distX0: Int = (mix(s, 3) % (spec.width - distW)).toInt
  val distY0: Int = (mix(s, 4) % (spec.height - distH)).toInt
  /** First disturbed date: the middle of the second time chunk. */
  val distT: Int = spec.fracND + spec.fracND / 2
  private val season: Array[Int] = Array.tabulate(spec.allDates) { t =>
    math.round(800 * math.sin(2 * math.Pi * t / 23.0)).toInt
  }

  def isWater(x: Int, y: Int): Boolean = mix3(s, x / 8, y / 8, 7) % 53 == 0

  def ndvi(x: Int, y: Int, t: Int): Int = {
    if (isWater(x, y)) return NdviNodata
    val h = mix3(s, x, y, t)
    if (h % 100 == 0) return NdviNodata
    val base = 3000 + ((x * 7 + y * 3) % 2000)
    val noise = ((h >>> 20) % 401).toInt - 200
    val drop =
      if (t >= distT && x >= distX0 && x < distX0 + distW &&
        y >= distY0 && y < distY0 + distH) 2500 else 0
    base + season(t) + noise - drop
  }

  def qa(x: Int, y: Int, t: Int): Int = {
    val h = mix3(s ^ 0x5bd1e995L, x, y, t)
    val land = 1 << 11
    if (h % 100 < 15) {
      // cloudy: either the cloud-state bits say cloudy, or usefulness
      // is too poor for the confidence to clear 0.5
      if ((h >>> 16) % 2 == 0) land | 3 | (((h >>> 24) % 6).toInt << 2)
      else land | ((6 + ((h >>> 24) % 10).toInt) << 2)
    } else land | (((h >>> 24) % 6).toInt << 2)
  }

  def clear(q: Int): Boolean = Gen.clear(q)

  /** The QA-masked NDVI the benchmark's pipeline derives. */
  def masked(x: Int, y: Int, t: Int): Int = {
    val v = ndvi(x, y, t)
    if (v != NdviNodata && clear(qa(x, y, t))) v else NdviNodata
  }

  def band(b: Int, x: Int, y: Int, t: Int): Int = b match {
    case 0 => ndvi(x, y, t)
    case 1 => qa(x, y, t)
    case _ => masked(x, y, t)
  }

  /** Epoch-ms of date t: 16-day composites from 2001-01-01. */
  def timestampMs(t: Int): Long = 978307200000L + t * 16L * 86400000L
}

object Gen {
  val NdviNodata: Int = -3000
  val QaNodata: Int = 65535
  val Bands: Seq[String] = Seq("ndvi", "qa", "masked")
  val NdviSds = "250m 16 days NDVI"
  val QaSds = "250m 16 days VI Quality"

  /** SplitMix64 finalizer: a well-mixed non-negative 63-bit hash. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1
  }

  /** MODIS VI Quality confidence > 0.5, decoded from the bit layout
    * (MOD13 user guide, table 5): clear cloud state, no adjacent
    * cloud / mixed cloud / snow / shadow flags, land/water == land, and
    * usefulness index < 6. */
  def clear(q: Int): Boolean =
    (q & 0x3) != 3 && ((q >> 6) & 0x3) != 3 && ((q >> 8) & 1) == 0 &&
      ((q >> 10) & 1) == 0 && ((q >> 11) & 0x7) == 1 &&
      ((q >> 14) & 1) == 0 && ((q >> 15) & 1) == 0 &&
      ((q >> 2) & 0xf) < 6

  def mix3(s: Long, x: Int, y: Int, t: Int): Long =
    mix(mix(mix(s, x), y), t)
}
