package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}

/** Runtime join pruning with an explicit Bloom filter.
  *
  * The at-scale problem: a selective dimension filter (say 20% of orders)
  * still forces the FULL fact side through the join shuffle — every
  * lineitem row is hashed, serialized, and exchanged before the join can
  * drop it. Spark's own runtime row-level filtering
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects exactly
  * this pattern when statistics justify it; here it is the declarative,
  * deterministic form: build a Bloom filter over the filtered build-side
  * keys as a scalar subquery (one small agg), probe it scan-side on the
  * fact table (codegen'd `might_contain` on an xxhash64 — no false
  * negatives), and let only surviving rows enter the exchange for the
  * exact semi join that removes the false positives. The Bloom rides the
  * scalar-subquery broadcast, so the fact scan never waits on a shuffle.
  *
  * Wrappers bridge the Catalyst aggregate/probe expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain`, public but not in
  * the SQL registry) into Columns. The final output is IDENTICAL to the
  * plain semi join — which is what the oracle checks.
  */
object JoinPruning {

  /** Bloom filter over xxhash64 values of `key` (build side). */
  def bloomAgg(key: Column, expectedItems: Long): Column =
    GraftSqlBridge.toColumn(
      new BloomFilterAggregate(
        GraftSqlBridge.toExpression(xxhash64(key)), expectedItems)
        .toAggregateExpression())

  /** Probe: may the build-side bloom contain this key? (no false negatives) */
  def mightContain(bloom: Column, key: Column): Column =
    GraftSqlBridge.toColumn(
      BloomFilterMightContain(
        GraftSqlBridge.toExpression(bloom),
        GraftSqlBridge.toExpression(xxhash64(key))))

  /** Fact rows whose `factKey` semi-match `build`'s `buildKey`, with the
    * bloom pre-filter ahead of the exchange. Result is bit-identical to
    * `fact.join(build, fact(factKey) === build(buildKey), "left_semi")`. */
  def bloomSemiJoin(fact: DataFrame, build: DataFrame,
      factKey: String, buildKey: String,
      expectedItems: Long = 1000000L): DataFrame = {
    val bf = build.agg(bloomAgg(col(buildKey), expectedItems).as("bf")).scalar()
    fact.filter(mightContain(bf, col(factKey)))
      .join(build.select(col(buildKey)),
        col(factKey) === col(buildKey), "left_semi")
  }

  def queries: Seq[GraftQuery] = Seq(

    // Revenue of lineitems belonging to URGENT orders: the bloom built on
    // the ~20% of orders that survive the priority filter prunes the
    // lineitem side before its shuffle; the semi join then gives the
    // exact row set, aggregated per returnflag.
    GraftQuery(
      "bloom_semi_join",
      (s, dir) => {
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
        val pruned = bloomSemiJoin(
          Tables.lineitem(s, dir), urgent, "l_orderkey", "o_orderkey")
        pruned.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            graft.functions.Num.dsumAsDouble(col("l_extendedprice")).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n_items,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS revenue
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""))
  )
}
