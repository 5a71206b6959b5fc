"""Report layer tests (generate_report.py semantics: metrics + HTML)."""

from __future__ import annotations

from serverless_etl_reporting_pipeline_spark.etl import RAW_TRANSACTIONS_SCHEMA, clean_transactions
from serverless_etl_reporting_pipeline_spark.report import daily_metrics, render_html


def _transactions(spark):
    rows = [
        (1, "2024-03-01 10:00:00", 1000, 1, 1, "Truck A", "d", 1, 5, "card"),
        (2, "2024-03-01 11:00:00", 3000, 1, 1, "Truck A", "d", 1, 5, "card"),
        (3, "2024-03-01 12:00:00", 1000, 2, 2, "Truck B", "d", 0, 3, "cash"),
    ]
    return clean_transactions(spark.createDataFrame(rows, schema=RAW_TRANSACTIONS_SCHEMA))


def test_metrics(spark):
    m = daily_metrics(_transactions(spark))
    assert m["total_transactions"] == 3
    assert m["total_revenue"] == 50.0
    assert m["best_group"] == "Truck A"
    assert m["worst_group"] == "Truck B"
    # 2% card fee on 40.00 of card revenue (generate_report.py:120-131)
    assert m["card_fees"] == 0.80
    assert m["net_revenue"] == 49.20
    assert m["by_method"]["card"]["pct_of_revenue"] == 80.0


def test_metrics_empty(spark):
    empty = _transactions(spark).filter("total > 1e9")
    m = daily_metrics(empty)
    assert m["empty"] is True


def test_html_render(spark):
    html = render_html(daily_metrics(_transactions(spark)), title="T3 Daily")
    assert "T3 Daily" in html and "Truck A" in html and "49.20" in html
    assert render_html({"empty": True}).count("No transactions") == 1


def test_dashboard_panels(spark):
    """Dashboard layer: conjunctive filter + cached panel aggregations
    (dashboard.py:36-343 semantics)."""
    from datetime import date

    from pyspark.sql import functions as F

    from serverless_etl_reporting_pipeline_spark.report.dashboard import Dashboard, filtered_frame

    tx = _transactions(spark).withColumn("date", F.to_date("at"))
    flt = filtered_frame(
        tx,
        start=date(2024, 3, 1),
        end=date(2024, 3, 1),
        trucks=["Truck A"],
        methods=["card"],
    )
    dash = Dashboard(flt)
    try:
        head = dash.headline().collect()[0]
        assert head["transactions"] == 2
        assert head["total_revenue"] == 40.0
        assert head["avg_transaction"] == 20.0
        by_truck = dash.by_column("truck_name").collect()
        assert [r["truck_name"] for r in by_truck] == ["Truck A"]
        trend = dash.daily_trend().collect()
        assert len(trend) == 1 and trend[0]["revenue"] == 40.0
        assert dash.top_days(1).collect()[0]["revenue"] == 40.0
        latest = dash.latest(1).collect()
        assert latest[0]["transaction_id"] == 2  # newest first
    finally:
        dash.close()


def _daily_metrics_four_aggregates(transactions, group_col="truck_name", method_col="payment_method", amount_col="total"):
    """The implementation before the one-aggregate fold (an isEmpty probe
    and three aggregates), kept as the reference for the fold."""
    from pyspark.sql import functions as F

    from serverless_etl_reporting_pipeline_spark.functions.money import cents
    from serverless_etl_reporting_pipeline_spark.report.metrics import CARD_FEE_RATE

    if transactions.isEmpty():
        return {"empty": True, "total_transactions": 0, "total_revenue": 0.0}
    overall = transactions.agg(F.count("*").alias("n"), F.sum(cents(amount_col)).alias("rev_cents")).collect()[0]
    by_group = (
        transactions.groupBy(group_col)
        .agg(F.count("*").alias("n"), F.sum(cents(amount_col)).alias("rev_cents"))
        .orderBy(F.desc("rev_cents"), F.asc(group_col))
        .collect()
    )
    by_method = (
        transactions.groupBy(method_col)
        .agg(F.count("*").alias("n"), F.sum(cents(amount_col)).alias("rev_cents"))
        .collect()
    )
    total_cents = overall["rev_cents"]
    methods = {}
    card_fee_cents = 0
    for row in by_method:
        method = row[method_col]
        fee = round(row["rev_cents"] * CARD_FEE_RATE) if "card" in str(method).lower() else 0
        card_fee_cents += fee
        methods[method] = {
            "transactions": row["n"],
            "revenue": row["rev_cents"] / 100.0,
            "pct_of_revenue": round(row["rev_cents"] * 10000.0 / total_cents) / 100.0 if total_cents else 0.0,
            "fee": fee / 100.0,
        }
    return {
        "empty": False,
        "total_transactions": overall["n"],
        "total_revenue": total_cents / 100.0,
        "avg_transaction": round(total_cents / overall["n"]) / 100.0,
        "by_group": [
            {"name": r[group_col], "transactions": r["n"], "revenue": r["rev_cents"] / 100.0} for r in by_group
        ],
        "best_group": by_group[0][group_col],
        "worst_group": by_group[-1][group_col],
        "by_method": methods,
        "card_fees": card_fee_cents / 100.0,
        "net_revenue": (total_cents - card_fee_cents) / 100.0,
    }


def _day(spark):
    """Several trucks and methods; "Truck C" and the NULL truck tie on
    revenue at the bottom, "Truck A" and "Truck B" tie at the top, and
    two card spellings carry odd-cent fees that round."""
    rows = [
        ("Truck B", "card", 10.01),
        ("Truck B", "cash", 5.00),
        ("Truck A", "Credit Card", 15.01),
        ("Truck D", "card", 7.37),
        ("Truck D", "cash", 2.49),
        ("Truck D", "voucher", 0.99),
        ("Truck C", "cash", 1.25),
        (None, "card", 1.25),
        ("Truck E", None, 3.33),
    ]
    return spark.createDataFrame(rows, "truck_name string, payment_method string, total double")


def test_metrics_fold_matches_four_aggregates(spark):
    day = _day(spark)
    new, old = daily_metrics(day), _daily_metrics_four_aggregates(day)
    assert new == old
    assert [g["name"] for g in new["by_group"]] == ["Truck A", "Truck B", "Truck D", "Truck E", None, "Truck C"]
    assert (new["best_group"], new["worst_group"]) == ("Truck A", "Truck C")
    empty = day.filter("total > 1e9")
    assert daily_metrics(empty) == _daily_metrics_four_aggregates(empty)


def test_metrics_null_group_sorts_first_on_ties(spark):
    """Spark's asc puts NULL first: a NULL truck tied on revenue with a
    named one comes before it, here as the worst group's predecessor."""
    rows = [("Truck A", "cash", 2.0), (None, "cash", 1.0), ("Truck Z", "card", 1.0)]
    m = daily_metrics(spark.createDataFrame(rows, "truck_name string, payment_method string, total double"))
    assert [g["name"] for g in m["by_group"]] == ["Truck A", None, "Truck Z"]
    assert m["worst_group"] == "Truck Z"


def test_metrics_two_jobs_on_parquet_day(spark, tmp_path, count_jobs):
    """One (group, method) aggregate: its shuffle map stage and its
    result stage are the only jobs (9 with a probe and three aggregates)."""
    from pyspark.sql import functions as F

    from serverless_etl_reporting_pipeline_spark.sources.lake import write_partitioned

    lake = str(tmp_path / "lake")
    write_partitioned(_transactions(spark), lake)
    day = spark.read.parquet(lake).filter((F.col("year") == 2024) & (F.col("month") == 3) & (F.col("day") == 1))
    jobs, m = count_jobs(lambda: daily_metrics(day))
    assert jobs == 2
    assert m == _daily_metrics_four_aggregates(day)


def test_ordered_panels_three_jobs(spark, count_jobs):
    """The ordered panels sort one gathered partition: no range-sampling
    job, and the rows still come back ordered."""
    from pyspark.sql import functions as F

    from serverless_etl_reporting_pipeline_spark.report.dashboard import Dashboard

    tx = _day(spark).withColumn("date", F.expr("date_add(DATE'2024-03-01', length(coalesce(truck_name, '')))"))
    dash = Dashboard(tx)
    try:
        dash.headline().collect()  # fills the cache
        jobs, by_truck = count_jobs(lambda: dash.by_column("truck_name").collect())
        assert jobs == 3
        revenue = [r["revenue"] for r in by_truck]
        assert revenue == sorted(revenue, reverse=True) and len(by_truck) == 6
        jobs, trend = count_jobs(lambda: dash.daily_trend().collect())
        assert jobs == 3
        days = [r["date"] for r in trend]
        assert days == sorted(days) and len(days) == 2
    finally:
        dash.close()
