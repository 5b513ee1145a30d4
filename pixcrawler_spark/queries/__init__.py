"""Query registry: every implemented operator exposed as a named query.

Each query is a (Spark callable, DuckDB oracle SQL) pair over the
driver-generated testdata tables — the correctness contract of
``__spark_entry__.py``. Importing this package registers everything.
The registry keeps registration order; every reader looks queries up
by name or sorts the names.
"""

from pixcrawler_spark.queries.registry import REGISTRY, Query, register

# Imported for their registration side effects.
from pixcrawler_spark.queries import roundfive as _roundfive  # noqa: F401
from pixcrawler_spark.queries import roundfour as _roundfour  # noqa: F401
from pixcrawler_spark.queries import trainprep as _trainprep  # noqa: F401
from pixcrawler_spark.queries import datasel as _datasel  # noqa: F401
from pixcrawler_spark.queries import analytics as _analytics  # noqa: F401
from pixcrawler_spark.queries import advanced as _advanced  # noqa: F401
from pixcrawler_spark.queries import crawlops as _crawlops  # noqa: F401
from pixcrawler_spark.queries import urlgraph as _urlgraph  # noqa: F401
# webtext transitively imports pipeline + scalepath, so those two
# register here (before webtext's own queries)
from pixcrawler_spark.queries import webtext as _webtext  # noqa: F401
from pixcrawler_spark.queries import scalepath as _scalepath  # noqa: F401
from pixcrawler_spark.queries import pipeline as _pipeline  # noqa: F401
from pixcrawler_spark.queries import media as _media  # noqa: F401
from pixcrawler_spark.queries import jobops as _jobops  # noqa: F401
from pixcrawler_spark.queries import frontiersched as _frontiersched  # noqa: F401,E501
from pixcrawler_spark.queries import webtext_ingest as _webtext_ingest  # noqa: F401,E501
from pixcrawler_spark.queries import winnow as _winnow  # noqa: F401
from pixcrawler_spark.queries import roundsix as _roundsix  # noqa: F401
from pixcrawler_spark.queries import roundseven as _roundseven  # noqa: F401
from pixcrawler_spark.queries import roundeight as _roundeight  # noqa: F401
from pixcrawler_spark.queries import retrieval as _retrieval  # noqa: F401
from pixcrawler_spark.queries import lakehouse as _lakehouse  # noqa: F401
from pixcrawler_spark.queries import roundnine as _roundnine  # noqa: F401
from pixcrawler_spark.queries import roundten as _roundten  # noqa: F401
from pixcrawler_spark.queries import roundeleven as _roundeleven  # noqa: F401,E501
from pixcrawler_spark.queries import roundtwelve as _roundtwelve  # noqa: F401,E501

__all__ = ["REGISTRY", "Query", "register"]
