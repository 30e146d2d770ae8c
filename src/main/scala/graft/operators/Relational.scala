package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core relational operators re-expressing the reference's pipeline steps
  * as composable DataFrame transforms. All of these stay declarative so
  * Catalyst can push filters/projections to the scan and pick join
  * strategies (broadcast for the small dim side).
  */
object Relational {

  /** W1: date-range predicate where NULL timestamps PASS and each bound is
    * independently optional (a NULL bound means that side is open).
    * Reference `dentro_do_periodo` (/root/reference/src/jurimetria_pipeline.py:208-215)
    * returns True for rows with missing dates and treats a falsy/missing
    * bound as open — both branches are load-bearing and the opposite of
    * Spark's default 3-valued-logic drop. */
  def withinPeriod(ts: Column, de: Column, ate: Column): Column =
    ts.isNull || ((de.isNull || ts >= de) && (ate.isNull || ts <= ate))

  /** J1: small-dimension lookup enrichment — broadcast left-outer equi-join
    * with fallback to the original key when unmatched, null key stays null.
    * Reference municipio map probe (/root/reference/src/jurimetria_pipeline.py:202-206,
    * :236-237): `municipios_map.get(int(x), x)` — a dict probe is strictly
    * 1:1, so the dim side is deduplicated on its key before the join (no
    * fact fan-out on dirty dims), and the dim's own columns are dropped from
    * the output (callers see only `outCol`).
    *
    * At scale: the dim side is broadcast (no shuffle of the fact table);
    * the fact side keeps its partitioning. The dim side is gathered into
    * ONE partition before its dedup: the broadcast collects it to the
    * driver anyway, and a single partition already meets the dedup's
    * clustering, so building it runs no shuffle (one Spark job fewer per
    * enrich).
    *
    * @param facts     large input
    * @param dim       small lookup relation (will be broadcast)
    * @param factKey   join key on the fact side
    * @param dimKey    join key column NAME on the dim side
    * @param dimValue  value column NAME to pull from the dim
    * @param outCol    name of the enriched output column
    * @param fallback  value when unmatched (reference keeps the raw code)
    */
  def lookupEnrich(facts: DataFrame, dim: DataFrame, factKey: Column,
                   dimKey: String, dimValue: String, outCol: String,
                   fallback: Column): DataFrame = {
    val lookup = dim.select(dimKey, dimValue).coalesce(1).dropDuplicates(dimKey)
    facts.join(broadcast(lookup), factKey === lookup(dimKey), "left")
      .withColumn(outCol, coalesce(lookup(dimValue), fallback))
      .drop(lookup(dimKey)).drop(lookup(dimValue))
  }

  /** U1: union-all of per-source frames by column name; empty list → caller
    * supplies the empty frame. Reference pd.concat
    * (/root/reference/src/jurimetria_pipeline.py:233). */
  /** Fixed-width histogram profile of a numeric column: one row per
    * occupied bin with count and exact min/max (comparisons, not sums —
    * order-independent, so no decimal discipline needed). Out-of-range
    * values clamp into the edge bins. A single partial-agg pass — the
    * data-profiling primitive that sizes skew/salting decisions before a
    * 100 TB run. NULLs are excluded (no bin). */
  def histogram(df: DataFrame, value: Column, lo: Double, width: Double,
                nBins: Int): DataFrame = {
    require(width > 0 && nBins > 0, "width and nBins must be positive")
    val bin = least(greatest(floor((value - lo) / width), lit(0L)), lit(nBins - 1L))
    df.filter(value.isNotNull)
      .groupBy(bin.cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"), min(value).as("lo_v"), max(value).as("hi_v"))
  }

  def unionAll(frames: Seq[DataFrame]): Option[DataFrame] =
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
}
