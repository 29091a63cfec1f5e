"""Market-basket association rules: pairwise support / confidence / lift.

The exact 2-itemset slice of Apriori/FP-Growth (Agrawal & Srikant,
VLDB 1994) as pure DataFrame algebra — the slice that covers the
classic retail questions ("what is bought with what") without the
combinatorial candidate lattice:

- item supports: one groupBy over distinct (basket, item);
- pair supports: a within-basket self-join ``item1 < item2`` — the
  fan-out per basket is C(|basket|, 2), bounded by the basket size
  (lineitems per order are single digits), never by the table size;
- confidence and lift from the joined supports.

Scale shape: the self-join shuffles on the basket key, so co-located
pairs enumerate map-side after one exchange; supports broadcast back
(|items| ≪ |rows|). Skewed giant baskets are the one hazard — the
``max_basket_size`` guard drops (and reports via log) baskets above
the cap, which is standard practice (a 10k-item basket contributes
50M pairs and no retail insight).

Reference scope: beyond m3dev/redshells (no basket-analysis tier);
closest kin is its click-pair training data, cited at
`redshells/app/word_item_similarity/make_click_data.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redshells_spark.operators.observe import pin_count
from redshells_spark.schema import require_columns


def association_rules_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 2,
    max_basket_size: int = 1000,
) -> DataFrame:
    """→ (item1 < item2, pair_count, count1, count2, support,
    confidence_1_to_2, confidence_2_to_1, lift) over distinct
    (basket, item) pairs; doubles rounded to 4.

    ``support`` = pair_count / n_baskets; ``confidence i→j`` =
    pair_count / count_i; ``lift`` = support(pair) /
    (support(1)·support(2)) — symmetric, >1 means positive
    association. All ratios divide exact integers, so the doubles are
    reproducible cross-engine.
    """
    require_columns(df, [basket_col, item_col])
    # ONE fact-scale shuffle: collect_set IS the distinct (basket,
    # item) dedup plus the per-basket reassembly in a single
    # map-combinable aggregate. Every downstream consumer (basket
    # count, item supports, pair enumeration) reads the pinned
    # basket-array relation; the old row-level self-join shuffled the
    # item relation twice more on the basket key. Pair enumeration is
    # in-row C(|basket|,2) over the sorted array — identical fan-out,
    # but the pair groupBy now partial-aggregates map-side to at most
    # |items|^2/2 rows per task instead of shuffling every pair row.
    # NULL items are dropped EXPLICITLY (collect_set would silently do
    # it anyway): a null is not an item, so it joins no pair, carries
    # no support, and does not count toward the max_basket_size bound.
    # A pathological basket assembles its whole item array in one row
    # before the size filter; inputs with unbounded basket cardinality
    # should pre-bound with a windowless count before calling this.
    baskets, n_baskets = pin_count(
        df.filter(F.col(item_col).isNotNull())
        .groupBy(F.col(basket_col).alias("__b"))
        .agg(F.array_sort(F.collect_set(F.col(item_col))).alias("__arr"))
    )
    if n_baskets == 0:
        raise ValueError("association_rules_pairs: empty input")

    bounded = baskets.filter(F.size("__arr") <= max_basket_size)

    counts = bounded.select(F.explode("__arr").alias("__i")).groupBy("__i").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    # all ordered pairs (arr[i] < arr[j], i < j) from the sorted array
    pair_structs = F.expr(
        "flatten(transform(__arr, (x, i) -> "
        "transform(slice(__arr, i + 2, size(__arr)), "
        "y -> struct(x as item1, y as item2))))"
    )
    pairs = (
        bounded.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.item1").alias("item1"), F.col("p.item2").alias("item2"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_support)
    )
    c1 = counts.select(F.col("__i").alias("item1"), F.col("cnt").alias("count1"))
    c2 = counts.select(F.col("__i").alias("item2"), F.col("cnt").alias("count2"))
    n = float(n_baskets)
    out = (
        pairs.join(F.broadcast(c1), "item1")
        .join(F.broadcast(c2), "item2")
        .select(
            "item1",
            "item2",
            F.col("pair_count").cast("long").alias("pair_count"),
            F.col("count1").cast("long").alias("count1"),
            F.col("count2").cast("long").alias("count2"),
            F.round(F.col("pair_count") / F.lit(n), 4).alias("support"),
            F.round(F.col("pair_count") / F.col("count1"), 4).alias("confidence_1_to_2"),
            F.round(F.col("pair_count") / F.col("count2"), 4).alias("confidence_2_to_1"),
            F.round(
                (F.col("pair_count") * F.lit(n)) / (F.col("count1") * F.col("count2")),
                4,
            ).alias("lift"),
        )
    )
    return out
