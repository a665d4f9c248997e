"""Market-basket co-occurrence — "frequently bought together": item pairs
sharing an order, with support counts (the association-rule mining front
end; the retail sibling of co_location_pairs' (cell, hour) buckets).

Shape: distinct (order, item) presence, then the within-basket pair
equi-join on order id — work is Σ_b |b|², so the guard raises loudly on
any basket larger than `max_basket` BEFORE the join is scheduled (a single
pathological 10^5-item basket would dominate the whole job; real pipelines
cap or split those upstream). Support filtering happens in the same agg.
Exact integer counts only."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import key_bound


def basket_pairs(
    items: DataFrame, min_support: int = 3, max_basket: int = 10_000
) -> DataFrame:
    """(item_a, item_b, n_orders) for pairs co-present in >= min_support
    orders. `items` carries (order_id, item)."""
    pres = items.select("order_id", "item").distinct()
    key_bound(
        pres, ["order_id"], max_basket, "basket_pairs", "max_basket",
        "the pair join would be quadratic in it — cap or split oversized "
        "baskets upstream",
    )
    a = pres.selectExpr("order_id", "item AS item_a")
    b = pres.selectExpr("order_id", "item AS item_b")
    return (
        a.join(b, "order_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
        .selectExpr(
            "CAST(item_a AS BIGINT) AS item_a",
            "CAST(item_b AS BIGINT) AS item_b", "n_orders",
        )
    )


def oracle_basket_sql(items_sql: str, min_support: int = 3) -> str:
    return f"""
WITH pres AS (SELECT DISTINCT order_id, item FROM ({items_sql}))
SELECT CAST(a.item AS BIGINT) AS item_a, CAST(b.item AS BIGINT) AS item_b,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM pres a JOIN pres b ON b.order_id = a.order_id AND a.item < b.item
GROUP BY 1, 2 HAVING COUNT(*) >= {min_support}
"""
