"""Grouped-map Pandas operator (applyInPandas) — the per-group custom
transform shape.

Built-ins cover everything the reference computes; this operator
exists for the pipeline cases that genuinely need per-group Python
(model scoring, scipy stats, learned filters). The example computes
per-customer order-value ranks + min-max normalization — chosen
because its outputs are exactly reproducible (rank is integral;
min-max uses one subtraction and one division on the group's own
values).

Plan shape: one shuffle on the grouping key, Arrow batch per group.
Groups must fit in a worker's memory — at 100 TB that means grouping
on keys with bounded fan-in (customer, not country); unbounded groups
want salting + a two-phase merge like operators/skew.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table

OUT_SCHEMA = (
    "o_custkey bigint, o_orderkey bigint, value_rank int, value_normed double"
)


def _per_customer(pdf):
    pdf = pdf.sort_values(["o_totalprice", "o_orderkey"]).reset_index(drop=True)
    lo, hi = float(pdf["o_totalprice"].min()), float(pdf["o_totalprice"].max())
    span = hi - lo
    return pdf.assign(
        value_rank=(pdf.index + 1).astype("int32"),
        value_normed=(pdf["o_totalprice"] - lo) / span if span > 0 else 0.0,
    )[["o_custkey", "o_orderkey", "value_rank", "value_normed"]]


def customer_order_ranks(orders: DataFrame, per_partition: bool = True) -> DataFrame:
    """Two physical strategies, identical results:

    * ``per_partition=False`` — classic ``applyInPandas``: one Python
      invocation PER GROUP. Right when groups are large (the group
      dominates the invocation overhead).
    * ``per_partition=True`` — repartition on the key, then
      ``mapInPandas`` with a pandas ``groupby`` inside: one Python
      invocation PER PARTITION. For many tiny groups this is the
      difference between 15k invocations and 32 (measured 28s → ~2s at
      sf0.1). Partition contents are concatenated first because Arrow
      may split a partition into several batches and a group must not
      straddle the groupby — memory bound = one partition, same as any
      mapInPandas.
    """
    projected = orders.select("o_custkey", "o_orderkey", "o_totalprice")
    if not per_partition:
        return projected.groupBy("o_custkey").applyInPandas(_per_customer, OUT_SCHEMA)

    def per_part(batches):
        import numpy as np
        import pandas as pd

        pdf = pd.concat(list(batches), ignore_index=True)
        if pdf.empty:
            return
        # fully vectorized: no per-group Python at all (cumcount +
        # groupby.transform), same arithmetic as _per_customer
        pdf = pdf.sort_values(["o_custkey", "o_totalprice", "o_orderkey"]).reset_index(drop=True)
        grp = pdf.groupby("o_custkey", sort=False)["o_totalprice"]
        lo = grp.transform("min")
        span = grp.transform("max") - lo
        yield pd.DataFrame(
            {
                "o_custkey": pdf["o_custkey"],
                "o_orderkey": pdf["o_orderkey"],
                "value_rank": (grp.cumcount() + 1).astype("int32"),
                "value_normed": np.where(span > 0, (pdf["o_totalprice"] - lo) / span, 0.0),
            }
        )

    return projected.repartition("o_custkey").mapInPandas(per_part, OUT_SCHEMA)


def _q_grouped_pandas_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return customer_order_ranks(load_table(spark, sf_dir, "orders"))




def _q_grouped_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Python UDAF (pandas_udf GROUPED_AGG) — the third
    Pandas execution shape next to applyInPandas (grouped map) and
    mapInPandas (stream of batches): one Arrow batch per group in, ONE
    scalar out, usable directly inside ``groupBy().agg()``.

    The statistic is the median absolute deviation of the order value
    in integer CENTS: every intermediate (ints, exact-half medians) is
    exactly representable in float64, so numpy's result is
    bit-identical to DuckDB's quantile_cont restatement — a UDAF under
    the hash gate, not just a rows-only demo."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mad_cents(v: pd.Series) -> float:
        a = v.to_numpy()
        return float(np.median(np.abs(a - np.median(a))))

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        orders.select("o_orderpriority", cents.alias("cents"))
        .groupBy("o_orderpriority")
        .agg(mad_cents(F.col("cents")).alias("mad_cents"))
    )

QUERIES = {
    "grouped_pandas_ranks": _q_grouped_pandas_ranks,
    "grouped_agg_mad": _q_grouped_agg_mad,
}

ORACLES = {
    # the pandas per-group logic restated in SQL: rank by (price, key),
    # min-max normalize within customer (single-op float arithmetic)
    "grouped_pandas_ranks": """
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER w AS INTEGER) AS value_rank,
               CASE WHEN MAX(o_totalprice) OVER g = MIN(o_totalprice) OVER g THEN 0.0
                    ELSE (o_totalprice - MIN(o_totalprice) OVER g)
                         / (MAX(o_totalprice) OVER g - MIN(o_totalprice) OVER g)
               END AS value_normed
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
               g AS (PARTITION BY o_custkey)
    """,
    # same statistic via two nested medians; ints and exact halves are
    # exactly representable, so interpolation matches numpy bit-for-bit
    "grouped_agg_mad": """
        WITH c AS (
            SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ), m AS (
            SELECT o_orderpriority, quantile_cont(cents, 0.5) AS med
            FROM c GROUP BY o_orderpriority
        )
        SELECT c.o_orderpriority,
               quantile_cont(abs(c.cents - m.med), 0.5) AS mad_cents
        FROM c JOIN m USING (o_orderpriority)
        GROUP BY c.o_orderpriority
    """,
}


def _q_grouped_cogroup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third grouped-Pandas shape next to grouped-map and the
    UDAF: ``cogroup(...).applyInPandas`` — TWO relations shuffled to
    the same key, each group pair handed to one vectorized Python
    call. The semantics here (per-customer event rollup enriched with
    the dimension row) are deliberately join-expressible so the whole
    cogroup machinery sits under an exact DuckDB oracle; the API
    exists for per-key logic joins canNOT express (custom alignment,
    model scoring over both sides), which inherits this certified
    shuffle/batching shape.

    Integer cents keep the value sum exact (the grouped_agg_mad
    convention); customers without events emit a zero rollup (the
    LEFT-join semantics the oracle restates). One co-partitioned
    shuffle on the key; Arrow moves each group pair once.
    """
    # cents are rounded ENGINE-side with F.round (HALF_UP, matching
    # DuckDB's round-half-away) before the cogroup: pandas
    # Series.round is banker's (half-to-even), which would diverge
    # from the oracle on any exact half-cent value
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")

    def enrich(key, ev_pdf, cust_pdf):
        import pandas as pd

        if len(cust_pdf) == 0:
            # event user outside the customer dimension: nothing to
            # enrich — mirror the oracle's inner customer base
            return pd.DataFrame(
                columns=["user_id", "n_events", "value_cents", "acctbal"]
            )
        cents = int(ev_pdf["cents"].sum()) if len(ev_pdf) else 0
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [len(ev_pdf)],
                "value_cents": [cents],
                "acctbal": [float(cust_pdf["c_acctbal"].iloc[0])],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(cust.groupBy("c_custkey"))
        .applyInPandas(
            enrich, "user_id bigint, n_events bigint, value_cents bigint, acctbal double"
        )
    )


QUERIES["grouped_cogroup_enrich"] = _q_grouped_cogroup_enrich
ORACLES["grouped_cogroup_enrich"] = """
    SELECT c.c_custkey AS user_id,
           COALESCE(e.n, 0) AS n_events,
           COALESCE(e.cents, 0) AS value_cents,
           c.c_acctbal AS acctbal
    FROM customer c
    LEFT JOIN (
        SELECT user_id,
               COUNT(1) AS n,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id
    ) e ON e.user_id = c.c_custkey
"""
