"""Spark column functions for URL processing (SURVEY.md §2.1, U1–U7).

The canonicalizer runs as an Arrow-batched pandas UDF (never a row-at-a-time
Python UDF); the hash is Spark's built-in ``xxhash64`` so it stays JVM-side
and whole-stage-codegen'd — the Python kernel's ``xxhash64`` is bit-identical
(tested) and exists only for the driver-side oracle.

Reference parity:
  U1/U2 canonicalize  — request.go:127-139, util.go:47-54
  U3 url_hash         — util.go:56-67 (FNV-1a there; xxhash64 here per the
                        north rule — set-equivalence is 1:1 on canonical URLs)
  U4 resolve          — request.go:61-79 (drops pure-fragment links)
  U7 host             — roddy.go:259
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from roddy_spark.functions.urlkernel import canonicalize_series, resolve_series


@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    # vectorized fast path (already-canonical → identity via C-speed regex),
    # scalar kernel for the residue — elementwise-identical, property-tested
    return canonicalize_series(urls)


@F.pandas_udf(StringType())
def resolve_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    return resolve_series(base, href)


def canonicalize(col: Column | str) -> Column:
    """url → canonical url (None if unparseable); falls back to NULL, callers
    that want roddy's ``normalizeURL`` fallback-to-input use
    ``F.coalesce(canonicalize(c), c)`` explicitly."""
    return canonicalize_udf(F.col(col) if isinstance(col, str) else col)


def resolve(base: Column | str, href: Column | str) -> Column:
    b = F.col(base) if isinstance(base, str) else base
    h = F.col(href) if isinstance(href, str) else href
    return resolve_udf(b, h)


def host_of(col: Column | str) -> Column:
    """Hostname column. Canonical URLs have a lowercase host, so the cheap
    JVM-side ``parse_url`` works; kept as an expression (codegen-friendly)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.parse_url(c, F.lit("HOST")))


def hash_of(col: Column | str) -> Column:
    """Visited-set key (U3): JVM-side xxhash64, seed 42."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def filename_from_url(col: Column | str) -> Column:
    """U6 (util.go:28-35): ``scheme_host`` slug used for per-host cookie
    file names — kept for API parity; JVM-side expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws("_",
                       F.lower(F.parse_url(c, F.lit("PROTOCOL"))),
                       F.lower(F.parse_url(c, F.lit("HOST"))))
