"""Query corpus: every SURVEY.md §2 operator as a named, oracle-checked query.

Importing this package populates the registry from all corpus modules.
"""

from serverless_etl_reporting_pipeline_spark.plans.base import REGISTRY, Query, query

# corpus modules register themselves on import.
from serverless_etl_reporting_pipeline_spark.plans import text  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import vectors  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import multimodal  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import streams  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import lakehouse  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import analytics  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import windows  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import relational  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import curation  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import skewed  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import sketches  # noqa: F401, E402
from serverless_etl_reporting_pipeline_spark.plans import pipeline  # noqa: F401, E402

# Registry ORDER is deliberate: the driver's differential oracle verifies
# the first 50 registry entries. Rotation policy:
#   1. _PRIORITY first: queries whose plan or operator changed since the
#      last driver check.
#   2. _ROTATION_TAIL next: the other queries, oldest driver check first
#      (from the union of the CORRECTNESS_r* key sets); queries that
#      ever failed a driver check are re-pinned when they enter the
#      window.
#   3. Everything else follows in registration order.
# Queries outside the window stay covered every round by the
# full-registry sf0.01 oracle run (tools/oracle_check.py), both sweep
# modes (doctored + zero-row) and the spark.sql conformance test.
# CORPUS POLICY: the corpus is feature-complete (130 entries). New
# queries are capped at ~5 per round, so the 50-slot window re-verifies
# every query within ~2.5 rounds.
_PRIORITY = ("pipe03", "t20")

# oldest driver check first; the driver cuts _PRIORITY + this to 50
_ROTATION_TAIL = (
    ("pipe01", "pipe02")
    + ("a19", "a20", "c01", "c02", "c03", "c05", "c06", "c08", "c09")
    + ("e02", "e03", "e04", "e05", "m01", "m02", "m03", "m04", "s02")
    + ("t07", "t09", "t11", "t15", "t19", "t24", "v05")
    + ("w03", "w04", "w05", "w09", "x01")
    # the ever-failed queries first, then the d/e/j families
    + ("v04", "c07", "k01", "k02")
    + ("d01", "d02", "d03", "d04", "d05", "e08")
    + ("j01", "j02", "j03", "j04", "j05", "j06")
)


def _rotate() -> None:
    entries = list(REGISTRY.items())
    REGISTRY.clear()
    for want in _PRIORITY + _ROTATION_TAIL:
        for name, q in entries:
            if name.split("_", 1)[0] == want:
                REGISTRY[name] = q
    for name, q in entries:
        if name not in REGISTRY:
            REGISTRY[name] = q


_rotate()

__all__ = ["REGISTRY", "Query", "query"]
