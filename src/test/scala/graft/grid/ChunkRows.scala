package graft.grid

import org.apache.spark.sql.SparkSession

/** Chunk-level view of a store for exact comparisons: a set of pixels
  * hides duplicate (frac_num, time_chunk) rows, so equality specs compare
  * chunk rows — placement, geometry and payload bytes — keyed by chunk. */
object ChunkRows {

  /** (frac_num, time_chunk) -> (x0, y0, t0, w, h, nd, payload bytes);
    * fails when the store holds more than one row for a key. */
  def apply(spark: SparkSession, root: String)
      : Map[(Int, Int), (Int, Int, Int, Int, Int, Int, Seq[Byte])] = {
    import spark.implicits._
    val rows = FractionStore.fractions(spark, root).as[FracRowBytes].collect()
    val byKey = rows.map(r => (r.frac_num, r.time_chunk) ->
      (r.x0, r.y0, r.t0, r.w, r.h, r.nd, r.data.toSeq)).toMap
    val dups = rows.groupBy(r => (r.frac_num, r.time_chunk))
      .collect { case (k, rs) if rs.length > 1 => k }
    assert(dups.isEmpty, s"$root holds duplicate chunk rows for $dups")
    byKey
  }
}
