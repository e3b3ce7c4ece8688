"""Route-config control plane (SURVEY.md §1.1 item 4, §2.5 J1).

Reference: RouteConfig documents keyed by `$dataStreamId-$dataStreamRoute`
(Common.kt:70-101, RouteIngestedFile.kt:453), seeded by an onboarding tool
(tools/onboarding/loadHL7Routes.py:25-51). Here the routing dimension is
content_type (reference content-type dispatch: FnDecompressor.kt:35,52-79) and
destinations are lake tables instead of blob containers.

The config is a tiny dimension — always broadcast at join time; re-read per
micro-batch (the Spark analog of the reference's 24h TTL cache,
Common.kt:20-41: re-reading a 5-row table per batch is cheaper than cache
invalidation bugs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_exchange_routing_spark.schemas import ROUTE_CONFIG

# seeded routes: 4 valid destinations, 1 invalid (storage-account-unknown
# analog, Common.kt:83 / RouteIngestedFile.kt:155-175); octet-stream has NO
# route at all -> dead-letter (RouteIngestedFile.kt:177-182).
DEFAULT_ROUTES = [
    ("text/html", "web_pages", ":y/:m/:d", {"tier": "hot"}, True),
    ("application/pdf", "web_pages_pdf", ":y/:m/:d", {"tier": "warm"}, True),
    ("text/plain", "web_pages_plain", ":y/:m/:d", {"tier": "warm"}, True),
    ("application/json", "web_pages_json", ":y/:m/:d", {"tier": "warm"}, True),
    ("application/xml", "web_pages_xml", ":y/:m/:d", {"tier": "cold"}, False),
]

DESTINATION_TABLES = [r[1] for r in DEFAULT_ROUTES if r[4]]


def default_route_config(spark: SparkSession) -> DataFrame:
    """The seeded routes as a ``LocalRelation``: built from pandas with
    Arrow on, the 5 rows ride in the plan itself. A list of rows would make
    a Python RDD instead, and every broadcast of it would run Python-worker
    tasks."""
    import pandas as pd

    routes = pd.DataFrame(DEFAULT_ROUTES, columns=ROUTE_CONFIG.names)
    return spark.createDataFrame(routes, ROUTE_CONFIG)
