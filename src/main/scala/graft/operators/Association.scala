package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Association mining over transaction baskets — the co-occurrence /
  * lift profile behind "frequently bought together", related-document
  * panels, and feature cross discovery. The reference's relational data
  * holds the same shape implicitly (invoices → line items); this makes
  * the pairwise statistics queryable.
  *
  * Scale shape: pair generation is a SELF-JOIN ON THE BASKET KEY, so
  * the exchange carries (basket, item) pairs and each basket's cost is
  * its own size squared — bounded by the largest basket, never by the
  * catalog or the corpus (the all-pairs trap would be joining on item).
  * A pathological mega-basket (one order with 10^5 items) is the skew
  * risk; `maxBasket` caps it by dropping oversized baskets — standard
  * market-basket hygiene, since a 10^5-item "basket" is a feed
  * artifact, not a signal (audit the dropped set with a one-line
  * `__bsz > maxBasket` query when the cap matters). Item supports are a catalog-sized aggregate,
  * broadcast back; lift decisions are exact integer cross-products with
  * the displayed ratio rounded once.
  */
object Association {

  /** The membership-build stage: (basket, item) rows → one row per
    * under-cap basket carrying its distinct-item array, checkpointed
    * for its multiple consumers.
    *
    * ONE exchange builds the whole universe: raw memberships group by
    * basket into a distinct-item array, and over-cap baskets drop. The
    * aggregate is [[graft.plans.CappedCollectSet]], not collect_set +
    * size filter: the plain spelling must fully materialize an over-cap
    * basket in one non-spillable aggregation buffer before the filter
    * can act — the exact input the cap guards against (a 10^7-item feed
    * artifact) is the one that can OOM an executor. The capped aggregate
    * holds at most `maxBasket` elements per group on every path and
    * evaluates over-cap groups to NULL (1 byte across the exchange
    * instead of the basket).
    *
    * Contract note: like collect_set, the aggregate drops NULL items, so
    * a (basket, null) membership counts toward nothing — not basket
    * size, not the item table, not n_baskets (a basket of ONLY null
    * memberships still yields an empty-array row and counts toward
    * n_baskets: it exists, it just holds no items). Null memberships
    * are feed noise, not items; pinned by OperatorsSpec. */
  private def basketItems(df: DataFrame, basketCol: String,
                          itemCol: String, maxBasket: Int): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    df.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .groupBy("b")
      .agg(ColumnGlue.column(graft.plans.CappedCollectSet(
        ColumnGlue.expression(col("i")), maxBasket).toAggregateExpression())
        .as("__items"))
      .where(col("__items").isNotNull)
      .localCheckpoint(true) // 3 consumers: pairs, counts, total
  }

  /** The pair-generation stage over [[basketItems]] output: pairs
    * explode from each basket's own array — no self-join, no second
    * exchange of memberships; the only pair-shaped shuffle is the
    * (ia, ib) aggregation itself (map-side partials apply). */
  private def pairSupports(sized: DataFrame, minSupport: Long): DataFrame =
    sized
      .select(explode(col("__items")).as("ia"), col("__items"))
      .select(col("ia"), explode(col("__items")).as("ib"))
      .where(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)

  /** Pairwise co-occurrence with support and lift. Input rows are
    * (basket, item) memberships (duplicates collapsed); returns item
    * pairs (a < b) seen in ≥ `minSupport` baskets with
    * lift = n_baskets·pairs/(cnt_a·cnt_b) — >1 = attraction.
    *
    * The round-12 phase attribution (q181) found the INPUT
    * BUILD, not the pair aggregation, was half the query: the old
    * spelling paid a (b,i)-dedup exchange + a groupBy(b) exchange + a
    * join back on b, where [[basketItems]] pays a single membership
    * exchange on b. Capped baskets leave EVERY statistic, not just pair
    * generation: support, item counts and the basket total must
    * describe one universe or lift = n·support/(cnt_a·cnt_b) holds on
    * none of them. */
  def cooccurrencePairs(df: DataFrame, basketCol: String, itemCol: String,
                        minSupport: Long, maxBasket: Int = 10000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    val sized = basketItems(df, basketCol, itemCol, maxBasket)
    val pairs = pairSupports(sized, minSupport)
    val itemCnt = sized.select(explode(col("__items")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("cnt"))
    val nBaskets = sized.agg(count(lit(1)).as("__nb"))
    pairs
      .join(broadcast(itemCnt.select(col("i").as("ia"), col("cnt").as("cnt_a"))),
        Seq("ia"))
      .join(broadcast(itemCnt.select(col("i").as("ib"), col("cnt").as("cnt_b"))),
        Seq("ib"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ia"), col("ib"), col("support"), col("cnt_a"), col("cnt_b"),
        round(col("__nb").cast("double") * col("support") /
          (col("cnt_a") * col("cnt_b")), 6).as("lift"))
  }

  /** Sequential association rules a→b — the DIRECTIONAL sibling of
    * [[cooccurrencePairs]] and the prep behind next-item
    * recommendation: consecutive (item, next-item) pairs per actor in
    * event-time order, gap-bounded so a pair spans a session, not a
    * fortnight. Confidence = count(a→b)/count(a→·), the conditional
    * the recommender serves; exact integer counts, one rounded
    * division.
    *
    * Scale shape: one exchange by actor for the lead window (the
    * stream each actor's events already cluster by), then a pair-keyed
    * aggregation whose cardinality is the item-transition matrix —
    * item-vocabulary-bounded, never event-bounded. Timestamps compare
    * as integer microseconds (truncated micros order identically in
    * any engine). */
  def sequentialRules(df: DataFrame, actorCol: String, tsCol: String,
                      tieCol: String, itemCol: String,
                      maxGapSec: Long, minSupport: Long): DataFrame = {
    require(maxGapSec > 0 && minSupport >= 1,
      s"need positive gap/support: $maxGapSec/$minSupport")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(actorCol))
      .orderBy(col("__us"), col(tieCol))
    val seq0 = df.select(col(actorCol), col(tieCol),
        unix_micros(col(tsCol)).as("__us"), col(itemCol).as("item_a"))
      .withColumn("item_b", lead(col("item_a"), 1).over(w))
      .withColumn("__us_b", lead(col("__us"), 1).over(w))
      .where(col("item_b").isNotNull &&
        col("__us_b") - col("__us") <= maxGapSec * 1000000L)
    val pairCnt = seq0.groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("cnt"))
    val totals = pairCnt.groupBy("item_a").agg(sum("cnt").as("total_a"))
    pairCnt.where(col("cnt") >= minSupport)
      .join(broadcast(totals), Seq("item_a"))
      .select(col("item_a"), col("item_b"), col("cnt"), col("total_a"),
        round(col("cnt").cast("double") / col("total_a"), 6).as("confidence"))
  }
}
