package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's extract side (SURVEY §1.1/§3.1): a described-schema,
  * cursor-driven incremental source. The remote API (Salesforce
  * REST/Bulk; paginated `queryMore`) is not reachable offline, so this
  * models exactly the query-shaped essence such a connector pushes
  * down — projection, predicate, and a monotone cursor — over any
  * DataFrame-producing reader. `EtlOps.i_incremental_extract` is this
  * operator applied to the events fixture.
  *
  * Scale notes: `fields`/`predicate` reach the underlying scan as
  * column pruning + pushed filters (visible in `.explain` as
  * ReadSchema/PushedFilters); `cursorAfter` composes with a
  * date-partitioned layout to prune partitions — the 100 TB layout for
  * an append-log table.
  */
final case class IncrementalSource(
    read: SparkSession => DataFrame,   // the "described" object reader
    cursorField: String) {

  /** One incremental pull: rows strictly after `cursor`, projected. */
  def pull(spark: SparkSession, cursor: Any, fields: Seq[String]): DataFrame =
    read(spark)
      .filter(col(cursorField) > cursor)
      .select(fields.map(col): _*)

  /** Parameterized backfill pull (SURVEY §3.1 entry point 3): rows with
    * cursor in [lo, hi], projected — the ad-hoc date-range re-extract.
    * On a date-partitioned layout this predicate prunes partitions. */
  def pullRange(spark: SparkSession, lo: Any, hi: Any,
                fields: Seq[String]): DataFrame =
    read(spark)
      .filter(col(cursorField) >= lo && col(cursorField) <= hi)
      .select(fields.map(col): _*)
}
