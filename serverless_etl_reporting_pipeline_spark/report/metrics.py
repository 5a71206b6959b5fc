"""Daily report metrics (reference `pipeline/report-lambda/generate_report.py:70-157`).

Correct Spark idiom for reporting: aggregate in the cluster, `collect()`
only the few result rows, render on the driver (S10/A13). The reference
pulls the whole day's partition into pandas; here the day filter is a
pushed-down partition predicate and only aggregates move.

The cluster computes ONE aggregate, the (group, method) cells, and the
driver folds those few rows into the overall, per-group and per-method
results: 2 Spark jobs per call (the aggregate's shuffle map stage and
its result stage). Every total is a sum of cells, so the fold is exact.

Money flows through exact integer cents (functions/money.py).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.functions.money import cents

CARD_FEE_RATE = 0.02  # generate_report.py:120-122 (2% of card revenue)


def daily_metrics(
    transactions: DataFrame,
    group_col: str = "truck_name",
    method_col: str = "payment_method",
    amount_col: str = "total",
) -> dict[str, Any]:
    """Compute the report-metric dict from a (pre-filtered) day of data.

    Mirrors `calculate_metrics` (generate_report.py:70-157): overall
    totals, per-group revenue with best/worst, per-method split with the
    2% card fee, all folded from one (group, method) aggregate: 2 jobs.
    """
    cells = (
        transactions.groupBy(group_col, method_col)
        .agg(F.count("*").alias("n"), F.sum(cents(amount_col)).alias("rev_cents"))
        .collect()
    )
    if not cells:  # generate_report.py:72-84 empty guard
        return {"empty": True, "total_transactions": 0, "total_revenue": 0.0}

    overall = [0, 0]
    groups: dict[Any, list[int]] = {}
    by_method: dict[Any, list[int]] = {}
    for row in cells:
        n, rev = row["n"], row["rev_cents"] or 0  # all-NULL amounts: no revenue, as pandas sums
        for acc in (overall, groups.setdefault(row[group_col], [0, 0]), by_method.setdefault(row[method_col], [0, 0])):
            acc[0] += n
            acc[1] += rev
    # orderBy(desc(rev_cents), asc(group)): revenue ties by name, NULL first
    by_group = sorted(groups.items(), key=lambda kv: (-kv[1][1], kv[0] is not None, kv[0]))

    total_n, total_cents = overall
    methods = {}
    card_fee_cents = 0
    for method, (n, rev) in by_method.items():
        fee = round(rev * CARD_FEE_RATE) if "card" in str(method).lower() else 0
        card_fee_cents += fee
        methods[method] = {
            "transactions": n,
            "revenue": rev / 100.0,
            "pct_of_revenue": round(rev * 10000.0 / total_cents) / 100.0 if total_cents else 0.0,
            "fee": fee / 100.0,
        }

    return {
        "empty": False,
        "total_transactions": total_n,
        "total_revenue": total_cents / 100.0,
        "avg_transaction": round(total_cents / total_n) / 100.0,
        "by_group": [{"name": name, "transactions": n, "revenue": rev / 100.0} for name, (n, rev) in by_group],
        "best_group": by_group[0][0],  # generate_report.py:98-101
        "worst_group": by_group[-1][0],
        "by_method": methods,
        "card_fees": card_fee_cents / 100.0,
        "net_revenue": (total_cents - card_fee_cents) / 100.0,
    }
