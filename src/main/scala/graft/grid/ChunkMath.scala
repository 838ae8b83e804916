package graft.grid

/** Pure chunk-grid arithmetic (reference: F9/P6/P7 —
  * rastercube/jgrid/jgrid3.py:278-305, 459-489).
  *
  * A grid of `width` x `height` pixels is chunked into fractions of
  * `fracWidth` x `fracHeight`; `fracNum` is the row-major index of a
  * fraction on the chunk grid. The time axis is chunked into groups of
  * `fracNDates` (the last chunk may be ragged — jgrid3.py:151-164).
  *
  * All ranges follow the reference's convention: `from` inclusive,
  * `to` exclusive (jgrid3.py:477-482).
  */
final case class ChunkGrid(
    width: Int, height: Int,
    fracWidth: Int, fracHeight: Int,
    fracNDates: Int, nDates: Int) {

  require(width > 0 && height > 0 && fracWidth > 0 && fracHeight > 0)
  require(fracNDates > 0 && nDates >= 0)

  /** Number of fraction columns (ceil division — border fracs may be ragged
    * in the reference's general model; both concrete grids divide evenly). */
  val numFracsX: Int = (width + fracWidth - 1) / fracWidth
  val numFracsY: Int = (height + fracHeight - 1) / fracHeight
  val numTimeChunks: Int = if (nDates == 0) 0 else (nDates + fracNDates - 1) / fracNDates

  def fracNum(fracX: Int, fracY: Int): Int = fracY * numFracsX + fracX
  def fracX(fracNum: Int): Int = fracNum % numFracsX
  def fracY(fracNum: Int): Int = fracNum / numFracsX

  /** Fraction containing pixel (x, y) — jgrid3.py:459-468. */
  def fracForXY(x: Int, y: Int): Int =
    fracNum(x / fracWidth, y / fracHeight)

  def inBoundsXY(x: Int, y: Int): Boolean =
    x >= 0 && x < width && y >= 0 && y < height

  /** x pixel range (inclusive, exclusive) covered by fraction column fx. */
  def fracXRange(fx: Int): (Int, Int) =
    (fx * fracWidth, math.min((fx + 1) * fracWidth, width))
  def fracYRange(fy: Int): (Int, Int) =
    (fy * fracHeight, math.min((fy + 1) * fracHeight, height))

  /** Chunks of `size` along an axis of `extent` that intersect
    * [from, to), as an index range: the window is clipped to
    * [0, extent) first, so an empty or off-grid window yields no chunk
    * and a window ending exactly on a chunk boundary does not spill into
    * the next chunk. The one range computation behind
    * [[fracsForRectXY]], [[timeChunksForRange]] and the store's window
    * pruning. */
  def chunkSpan(from: Int, to: Int, extent: Int, size: Int): Range = {
    val (a, b) = (math.max(0, from), math.min(extent, to))
    if (b <= a) Range(0, 0) else (a / size) to ((b - 1) / size)
  }

  /** Minimal set of fracNums intersecting the rect
    * [xFrom, xTo) x [yFrom, yTo) — jgrid3.py:470-489, with the
    * reference's end-exclusive edge handling. */
  def fracsForRectXY(xFrom: Int, xTo: Int, yFrom: Int, yTo: Int): Seq[Int] =
    for {
      fy <- chunkSpan(yFrom, yTo, height, fracHeight)
      fx <- chunkSpan(xFrom, xTo, width, fracWidth)
    } yield fracNum(fx, fy)

  /** Time chunks intersecting [tFrom, tTo) — jgrid3.py:298-305, 517-518. */
  def timeChunksForRange(tFrom: Int, tTo: Int): Seq[Int] =
    chunkSpan(tFrom, tTo, nDates, fracNDates)

  /** Date range (inclusive, exclusive) stored in time chunk c; the last
    * chunk is ragged when fracNDates does not divide nDates. */
  def timeChunkRange(c: Int): (Int, Int) =
    (c * fracNDates, math.min((c + 1) * fracNDates, nDates))

  def nDatesInChunk(c: Int): Int = { val (a, b) = timeChunkRange(c); b - a }
}
