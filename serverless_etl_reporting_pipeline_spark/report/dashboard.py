"""Interactive-dashboard query layer (reference `pipeline/dashboard.py`).

The reference Streamlit app re-scans a cached pandas frame for ~12 eager
panel aggregations on every widget change (`dashboard.py:36-343`). The
Spark idiom: build ONE filtered DataFrame from the UI state (predicates
push into the scan → partition pruning on date ranges, which the
reference never gets), `cache()` it, and run each panel as a small
aggregation job over the cached data. `unpersist()` when the filter
state changes.

The ordered panels (`by_column`, `daily_trend`) gather their group rows
into one partition before the sort: a sort over a single partition
needs no range-partition sampling job, so each runs 3 jobs (aggregate
shuffle, gather shuffle, sorted result), not 4. The final aggregate
still runs in parallel; only its result rows, one per group, move to
the sorting task. (`coalesce(1)` would instead pull the final aggregate
itself into one task.)

At 100 TB the cache holds only the filtered slice (columnar, compressed
in executor memory); panels are partial+final hash aggregates over it.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.functions.money import money_avg, money_sum


def filtered_frame(
    df: DataFrame,
    date_col: str = "date",
    start: date | None = None,
    end: date | None = None,
    trucks: list[str] | None = None,
    methods: list[str] | None = None,
    truck_col: str = "truck_name",
    method_col: str = "payment_method",
) -> DataFrame:
    """Conjunctive UI filter (`dashboard.py:98-109`): date range +
    IN-lists, all as pushed-down predicates."""
    out = df
    if start is not None and end is not None:
        out = out.filter(F.col(date_col).between(F.lit(start), F.lit(end)))
    if trucks:
        out = out.filter(F.col(truck_col).isin(trucks))
    if methods:
        out = out.filter(F.col(method_col).isin(methods))
    return out


class Dashboard:
    """Panel aggregations over one cached filtered frame.

    Mirrors the reference's panels (`dashboard.py:117-343`); each method
    returns a small DataFrame ready to `collect()` for rendering.
    """

    def __init__(self, filtered: DataFrame, amount_col: str = "total"):
        self.df = filtered.cache()
        self.amount = amount_col

    def close(self) -> None:
        self.df.unpersist()

    def headline(self) -> DataFrame:  # dashboard.py:117-132
        return self.df.agg(
            money_sum(self.amount).alias("total_revenue"),
            F.count("*").alias("transactions"),
            money_avg(self.amount).alias("avg_transaction"),
        )

    def by_column(self, col: str) -> DataFrame:  # dashboard.py:177-244 panels
        return (
            self.df.groupBy(col)
            .agg(
                F.count("*").alias("transactions"),
                money_sum(self.amount).alias("revenue"),
                money_avg(self.amount).alias("avg_transaction"),
            )
            .repartition(1)
            .orderBy(F.desc("revenue"))
        )

    def daily_trend(self, date_col: str = "date") -> DataFrame:  # dashboard.py:143-152
        return (
            self.df.groupBy(date_col)
            .agg(F.count("*").alias("transactions"), money_sum(self.amount).alias("revenue"))
            .repartition(1)
            .orderBy(date_col)
        )

    def top_days(self, k: int = 10, date_col: str = "date") -> DataFrame:  # dashboard.py:296-300
        return (
            self.df.groupBy(date_col)
            .agg(money_sum(self.amount).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc(date_col))
            .limit(k)
        )

    def latest(self, k: int = 100, ts_col: str = "at") -> DataFrame:  # dashboard.py:341-343
        return self.df.orderBy(F.desc(ts_col)).limit(k)
