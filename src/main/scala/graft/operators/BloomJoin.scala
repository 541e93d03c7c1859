package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.GraftExpressions.{column, expression}

/** Bloom-filter pre-filtered joins: cut the big side of a shuffle join down
  * to (approximately) the rows that can match BEFORE the shuffle moves them.
  *
  * The reference's only join is MySQL's dedup lookup; at 100 TB the joins
  * that hurt are large-large equi-joins where the build side is selective —
  * e.g. "lineitems of the urgent 1993 orders". A broadcast join is off the
  * table when the filtered build side is still tens of GB of payload, but a
  * bloom filter over just its KEYS is megabytes: build it once, probe it
  * map-side on the big side, and the shuffle carries only probable matches.
  * False positives are harmless — the exact join still runs after the
  * pre-filter — so results are bit-identical to the unfiltered join
  * (q_bloom_join hash-matches the plain-join oracle). False negatives are
  * impossible by the bloom contract.
  *
  * The filter is built inside the query, in the shape Spark's own runtime
  * filter injection plants (`InjectRuntimeFilter`, SPARK-32268): the
  * build side's BloomFilterAggregate sits behind a non-correlated scalar
  * subquery that BloomFilterMightContain probes. Building the DataFrame
  * runs no job; the action runs the subquery once, before the probe stage.
  * The plan carries a subquery reference, never the filter's bytes, so the
  * plan text, AQE plan updates and the SQL status store stay small however
  * large the filter is. The explicit form exists for when the optimizer
  * can't see the opportunity: the build side hides behind an aggregate or
  * a non-deterministic curation step, or stats don't justify injection.
  *
  * Scale shape: the bloom itself is bounded driver state — sizing is the
  * standard m = -n·ln(p)/ln²2, i.e. ~1.2 MB per 10⁶ keys at 1% fpp — and
  * the build is a full map-side-combining aggregate (each partition builds
  * a local filter; merge is bitwise OR), so the build-side keys shuffle
  * only as already-merged filter blobs, never as rows. Past
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` the filter is
  * clamped ([[optimalNumBits]]): its fpp degrades, its results do not.
  */
object BloomJoin {

  /** Optimal bit count for `expectedItems` at false-positive rate `fpp`
    * (m = -n·ln p / ln²2), floored to 64 bits. The engine clamps this to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 8 MB),
    * degrading fpp rather than failing. */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val ln2sq = math.log(2) * math.log(2)
    math.max(64L, math.ceil(-expectedItems * math.log(fpp) / ln2sq).toLong)
  }

  /** Aggregate: the serialized bloom filter over `key`, null over no rows. */
  private[operators] def bloomOf(key: Column, expectedItems: Long,
                                 fpp: Double): Column =
    column(new BloomFilterAggregate(
      new XxHash64(Seq(expression(key))),
      Literal(expectedItems),
      Literal(optimalNumBits(expectedItems, fpp))).toAggregateExpression())
      .as("bloom")

  /** `big` reduced to rows whose `bigKey` might match a `buildKey`. The
    * superset-of-matches contract means any exact join/aggregate downstream
    * is unchanged; only the shuffle volume shrinks. Keys hash with
    * xxhash64, the family Spark's runtime filters use. An empty build side
    * aggregates to a null filter, and a null filter keeps nothing — the
    * inner/semi-join semantics of an empty build side. */
  def preFilter(big: DataFrame, bigKey: Column,
                build: DataFrame, buildKey: Column,
                expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bloom = build.select(bloomOf(buildKey, expectedItems, fpp)).scalar()
    big.filter(column(BloomFilterMightContain(
      expression(bloom), new XxHash64(Seq(expression(bigKey))))))
  }

  /** Exact inner equi-join with the big side bloom-pre-filtered. Identical
    * results to `big.join(build, bigKey === buildKey)` for any fpp. */
  def bloomJoin(big: DataFrame, bigKey: Column,
                build: DataFrame, buildKey: Column,
                expectedItems: Long, fpp: Double = 0.01): DataFrame =
    preFilter(big, bigKey, build, buildKey, expectedItems, fpp)
      .join(build, bigKey === buildKey)
}
