package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional DATA LAYOUT — the Z-order (Morton) key of the
  * Iceberg `rewrite_data_files(strategy => 'sort', sort_order =>
  * zorder(...))` feature, as a Spark column.
  *
  * Why it matters at 100 TB: a crawl table is range-read along MORE
  * THAN ONE axis (by host for re-crawl/dedup joins, by warc_ts for
  * incremental windows). A single-key sort gives perfect file pruning
  * on that key and ZERO pruning on the other axis — every file spans
  * the full range of the second column. Sorting by the interleaved
  * z-value instead makes each data file cover a small RECTANGLE of
  * (x, y) space, so per-file min/max stats (parquet footers, the
  * SnapshotStore manifest, an Iceberg manifest) prune range reads on
  * EITHER dimension to ~√F of F files. The interleave is the native
  * codegen'd [[graft.functions.ZValue]]. */
object Layout {

  /** The z-value column for two non-negative dimension keys, low `bits`
    * bits each (callers bucket raw values into 0..2^bits-1 first —
    * e.g. pmod(xxhash64(host), 64) and a ts epoch-day). bits ≤ 31. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.functions.register)
    graft.functions.functions.graft_zvalue(
      x.cast("long"), y.cast("long"), lit(bits))
  }
}
