"""Url-host column shared by the per-host aggregates.

A web corpus is Zipf-skewed by host — one hot domain can own a double-digit
percentage of rows (the synthetic fixture gives the hot host ~20%). Per-host
aggregations need no salting for that: Spark's hash aggregate runs a
partial aggregate per input partition first, so the hot host's reducer
receives one partial row per partition, not the host's rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def url_host(col):
    """Host part of a url column (JVM-side; empty string when absent)."""
    return F.coalesce(F.parse_url(col, F.lit("HOST")), F.lit(""))
