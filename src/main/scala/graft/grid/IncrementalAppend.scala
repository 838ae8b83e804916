package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental time-axis append (reference: ST1 —
  * rastercube/scripts/complete_ndvi_worldgrid.py:59-142): extend the
  * grid's time axis with new dates, rolling fraction time chunks of
  * `fracNDates` and rewriting only the ragged tail chunk plus the new
  * chunks.
  *
  * Invariants preserved from the reference (its test is the spec,
  * tests/scripts/test_complete_ndvi_worldgrid.py:42-122):
  *  - chunking invariance: create(all) == create(prefix) + append(rest);
  *  - idempotence: appending already-present dates is a no-op;
  *  - the header's timestamps are the authoritative axis (dates CSV
  *    analog), extended atomically with the data write.
  *
  * Scale: the rewrite touches only time chunks >= c0 = floor(n0 /
  * fracNDates) — dynamic partition overwrite on the time_chunk
  * partition column ([[FractionStore.replaceTimeChunks]]); all earlier
  * chunks are untouched. The ragged tail chunk c0 is spliced, not
  * re-chunked: its stored rows stay packed and are cogrouped on
  * (frac_num, time_chunk) with the new pixels, and each grown chunk
  * copies its pixels' old series and scatters the new values in
  * ([[FractionStore.fromPixels]] with `stored`). The chunking shuffle
  * thus carries the new pixels plus at most one packed row per tail
  * chunk — it grows with the dates appended, not with the tail's
  * length. When
  * n0 is a multiple of fracNDates there is no tail to grow and the new
  * pixels are chunked on their own.
  */
object IncrementalAppend {

  /** Append `newTimestamps` with pixel values from `newPixels`
    * ((x, y, t, value) with t LOCAL to the new dates: 0..len-1).
    * Timestamps already present in the header are skipped (no-op when
    * all are). Returns the updated header.
    */
  def appendDates(spark: SparkSession, root: String,
                  newTimestamps: Seq[Long],
                  newPixels: DataFrame): GridHeader = {
    val h0 = GridHeader.load(spark, root)
    val existing = h0.timestampsMs.toSet
    // keep order, drop already-present dates (idempotence)
    val keepIdx = newTimestamps.zipWithIndex.filter(p => !existing.contains(p._1))
    if (keepIdx.isEmpty) return h0

    val n0 = h0.nDates
    val h1 = h0.copy(timestampsMs = h0.timestampsMs ++ keepIdx.map(_._1))

    // remap new pixels' local t -> absolute t, dropping skipped dates
    val idxMap = keepIdx.map(_._2).zipWithIndex
      .map { case (localT, i) => (localT, n0 + i) }.toMap
    val mapExpr = map(idxMap.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    val newAbs = newPixels
      .withColumn("t", element_at(mapExpr, col("t").cast("int")))
      .filter(col("t").isNotNull)

    // the ragged tail chunk (if any) is grown in place from its packed rows
    val c0 = n0 / h1.fracNDates
    val tail =
      if (n0 % h1.fracNDates == 0) None
      else Some(FractionStore.fractions(spark, root)
        .filter(col("time_chunk") === c0))
    // the rewrite READS the tail partition it overwrites; the helper
    // materializes the rows before the destructive write
    FractionStore.replaceTimeChunks(root,
      FractionStore.fromPixels(spark, h1, newAbs, tail))
    h1.save(spark, root)
    h1
  }
}
