package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range bands: the banded range join and the bucketed exact rank.
  *
  * Banded range join: `fact.value ∈ [band.lo, band.hi)` as an equi-join.
  *
  * A naive range join plans as a nested-loop (broadcast-NLJ when one side
  * is small, quadratic otherwise). Bucketizing makes it shuffle-friendly:
  * each band is exploded to the fixed-width buckets it covers, the fact
  * row computes its bucket, and the join is an equi-join on bucket id with
  * the exact range predicate kept as a residual. Bucket count per band is
  * ceil(width/bucketWidth), so the expansion is bounded and the join
  * partitions on bucket — the 100 TB shape for interval classification
  * (value bands, time buckets, IP ranges, …).
  */
object Bands {

  def rangeJoin(
      fact: DataFrame, bands: DataFrame,
      valueCol: String, loCol: String, hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0)
    val bucketed = fact.withColumn("__bucket",
      floor(col(valueCol) / bucketWidth).cast("long"))
    val expanded = bands.withColumn("__bucket",
      explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor((col(hiCol) - lit(1e-9)) / bucketWidth).cast("long"))))
    bucketed
      .join(expanded, Seq("__bucket"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bucket")
  }

  /** Exact ranks without a full-group sort: `df` plus `rn`, the 0-based
    * row number of each row by `order` within its `keys` group (no keys:
    * the whole frame), and `n`, the group size. `order.head` is the value
    * the ranks are bucketed on; the other order columns break its ties.
    *
    * A `row_number() OVER (PARTITION BY keys ORDER BY order)` window would
    * sort each whole group into one partition — a straggler/OOM by
    * construction at 100 TB. So rank in two levels instead:
    *  1. one cheap mergeable pass learns ~equi-depth value boundaries per
    *     group (percentile_approx sketch), B = the shuffle width;
    *  2. each row gets a range bucket by O(log B) native binary search
    *     (`graft_array_bucket`) on the broadcast boundaries — the bucket is
    *     monotone in the value and equal values share a bucket, so
    *     bucket-local order extends to the group order;
    *  3. row_number within (keys, bucket) — |groups|×B bounded window
    *     partitions — plus broadcast per-bucket offsets (a running sum of
    *     the bucket counts) = exact group ranks.
    * The ranks are bit-identical to the single-window form, independent
    * of B and of sketch precision. */
  def exactRanks(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val b = math.max(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, 2)
    val fracs = array((1 until b).map(i => lit(i.toDouble / b)): _*)
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(percentile_approx(col(order.head), fracs, lit(10000)).as("bnds"))
    // with no keys, the join on no columns is the cross join
    val bucketed = df.join(broadcast(bounds), keys)
      .withColumn("bucket", call_function("graft_array_bucket", col("bnds"), col(order.head)))
      .drop("bnds")
    // per-(keys, bucket) counts → rank offset of each bucket and the group
    // total; |groups|×B rows, broadcast back onto the rows
    val wGroup = Window.partitionBy(keys.map(col): _*)
    val off = bucketed.groupBy((keys :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum("bn").over(wGroup.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("bn").over(wGroup))
      .select((keys ++ Seq("bucket", "off", "n")).map(col): _*)
    val wLocal = Window.partitionBy((keys :+ "bucket").map(col): _*)
      .orderBy(order.map(col): _*)
    bucketed.join(broadcast(off), keys :+ "bucket")
      .withColumn("rn", row_number().over(wLocal).cast("long") + col("off") - 1)
      .drop("bucket", "off")
  }
}
