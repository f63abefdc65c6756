"""Corporate-action price adjustment (back-adjustment).

The reference pushes this to the server via ``adjustment=raw|split|
dividend|all`` (``/root/reference/alpaca_pyspark/stocks/bars.py:19,47,
56-61``, SURVEY.md §2D D6): returned prices are back-adjusted by the
corporate actions *after* the observation — multiplicatively by split
ratios, additively (subtraction) by dividend cash amounts.

Spark-first re-expression: dividends union the price stream with the
action feed, order each key's timeline DESCENDING, and take a running
``Σ amount`` — one shuffle on the key, one linear window pass; no
self-join, so cost is O(prices + actions), not O(prices × actions).
Splits fold each key's broadcast, ts-sorted split list in order, so the
price stream is never shuffled.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cents

_SIDE = "__adj_side"
_VAL = "__adj_val"
_ROW = "__adj_row"


def _future_action_aggregate(
    prices: DataFrame,
    actions: DataFrame,
    *,
    on: Sequence[str],
    price_ts: str,
    action_ts: str,
    action_expr: Column,
    agg_alias: str,
) -> DataFrame:
    """Attach ``agg_alias`` = sum of ``action_expr`` over all actions
    with ``action.ts > price.ts`` (strictly after), per key.  NULL when
    a price has no later actions.  Returns prices' columns + the agg.
    """
    on = list(on)
    price_struct = F.struct(*[F.col(c) for c in prices.columns])
    row_type = prices.select(price_struct.alias("s")).schema["s"].dataType
    actions_sel = actions.select(
        *[F.col(c) for c in on],
        F.col(action_ts).alias("__ts"),
        F.lit(0).alias(_SIDE),
        action_expr.alias(_VAL),
        F.lit(None).cast(row_type).alias(_ROW),
    )
    val_type = actions_sel.schema[_VAL].dataType
    prices_sel = prices.select(
        *[F.col(c) for c in on],
        F.col(price_ts).alias("__ts"),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(val_type).alias(_VAL),
        price_struct.alias(_ROW),
    )

    # Descending time turns "future actions" into the preceding frame.
    # Strictly-after semantics at equal timestamps: side DESC places the
    # price row (1) before the action row (0), keeping a same-instant
    # action out of the price's frame.  Sum skips NULLs, i.e. the price
    # rows themselves.
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").desc(), F.col(_SIDE).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        actions_sel.unionByName(prices_sel)
        .select(_SIDE, _ROW, F.sum(_VAL).over(w).alias(agg_alias))
        .filter(F.col(_SIDE) == 1)
        .select(*[F.col(f"{_ROW}.{c}").alias(c) for c in prices.columns], agg_alias)
    )


def adjust_backward_split_ordered(
    prices: DataFrame,
    splits: DataFrame,
    *,
    on: Sequence[str],
    price_ts: str,
    split_ts: str,
    price_col: str,
    ratio_col: str,
    out_col: str = "adj_value",
) -> DataFrame:
    """Multiplicative back-adjustment with a CROSS-ENGINE-EXACT float
    contract: per key, collect the (dimension-sized) split feed into a
    ts-sorted array, broadcast-join it to the price stream, and fold the
    strictly-later ratios with a sequential ``aggregate`` — an explicit
    left-to-right multiply whose IEEE result any engine folding the same
    order reproduces bit-for-bit (DuckDB twin: ``list_reduce`` over the
    same sorted list).  No exp/log, no rounding.

    Scale shape: the price stream is NEVER shuffled — corporate actions
    are dimension-sized (a few per symbol), so the packed per-key split
    lists broadcast to every executor and the whole operator is a single
    map stage over prices."""
    on = list(on)
    packed = splits.groupBy(*on).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(split_ts).alias("ts"), F.col(ratio_col).alias("r")
                )
            )
        ).alias("__splits")
    )
    joined = prices.join(F.broadcast(packed), on, "left")
    factor = F.expr(
        f"aggregate(filter(__splits, s -> s.ts > {price_ts}), "
        "cast(1.0 as double), (acc, s) -> acc * s.r)"
    )
    adj = F.col(price_col) * F.coalesce(factor, F.lit(1.0))
    return joined.withColumn(out_col, adj).drop("__splits")


def adjust_backward_all_ordered(
    prices: DataFrame,
    splits: DataFrame,
    dividends: DataFrame,
    *,
    on: Sequence[str],
    price_ts: str,
    action_ts: str,
    price_col: str,
    ratio_col: str,
    amount_col: str,
    out_col: str = "adj_value",
) -> DataFrame:
    """Exact ``adjustment=all``: strictly-later dividends subtracted in
    integer cents, then the ordered-fold split product applied — the
    composition is two deterministic float ops (one division, one
    multiply) over exact intermediates, so it carries the same
    cross-engine-exact contract as its two parts."""
    div_adj = adjust_backward_dividend(
        prices,
        dividends,
        on=on,
        price_ts=price_ts,
        div_ts=action_ts,
        price_col=price_col,
        amount_col=amount_col,
        out_col="__div_adj",
    )
    out = adjust_backward_split_ordered(
        div_adj,
        splits,
        on=on,
        price_ts=price_ts,
        split_ts=action_ts,
        price_col="__div_adj",
        ratio_col=ratio_col,
        out_col=out_col,
    )
    return out.drop("__div_adj")


def adjust_backward_dividend(
    prices: DataFrame,
    dividends: DataFrame,
    *,
    on: Sequence[str],
    price_ts: str,
    div_ts: str,
    price_col: str,
    amount_col: str,
    out_col: str = "adj_value",
) -> DataFrame:
    """Additive back-adjustment: ``price − Σ amount`` over all
    strictly-later dividends (``adjustment=dividend``).  Computed in
    exact integer cents (inputs are cent-quantized), so the result is
    bit-identical to any engine that does the same — no rounding."""
    amount_cents = cents(F.col(amount_col))
    out = _future_action_aggregate(
        prices,
        dividends,
        on=on,
        price_ts=price_ts,
        action_ts=div_ts,
        action_expr=amount_cents,
        agg_alias="__divcents",
    )
    price_cents = cents(F.col(price_col))
    adj = (price_cents - F.coalesce(F.col("__divcents"), F.lit(0))) / F.lit(100.0)
    return out.withColumn(out_col, adj).drop("__divcents")
