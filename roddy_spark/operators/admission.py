"""Admission — the crawl's WHERE clause (SURVEY.md §2.2, roddy.go:250-310).

A declarative ``filter`` chain in the reference's check order, then
first-occurrence in-batch dedup, the visited anti-join (mark-at-admission),
the ordered max_requests budget, and deterministic ``seq`` assignment.
Everything before the pandas-UDF robots check is JVM-side / codegen-able;
filters are written BEFORE the expensive fetch stage by construction —
the reference's check-before-fetch, i.e. predicate pushdown by design
(SURVEY.md §4).

Candidate schema in:  url_norm, depth, priority, parent_seq, pos
Admitted schema out:  url_norm, url_hash, host, depth, priority, seq
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from roddy_spark.config import CrawlConfig
from roddy_spark.functions import urls as U
from roddy_spark.operators.dedup import (bloom_prefilter, dedup_against,
                                         first_occurrence)
from roddy_spark.operators.rank import ordered_seq
from roddy_spark.robots import robots_gate_series


def admission_filters(df: DataFrame, config: CrawlConfig,
                      robots_map: dict | None) -> DataFrame:
    """The per-row check-before-fetch chain (roddy.go:250-290) over rows
    carrying ``url_norm`` and ``depth``; adds ``host``. Shared by the BFS
    admission below and the DFS fixpoint (plans/dfs.py), whose depth is
    its path length. The checks are one conjunction in the reference's
    order (one plan node, not one per check), then robots."""
    df = df.withColumn("host", U.host_of("url_norm"))
    url, host = F.col("url_norm"), F.col("host")
    checks = []
    # F2: depth (paging links carry the same depth, so a row filter — not
    # just the loop bound — is required)
    if config.max_depth:
        checks.append(F.col("depth") <= config.max_depth)
    # F4: deny regexes checked first (collector.go:51-55)
    checks += [~url.rlike(pat) for pat in config.disallowed_url_filters]
    # F5: allow regexes — empty list ⇒ allow all
    if config.url_filters:
        checks.append(reduce(lambda a, b: a | b,
                             [url.rlike(p) for p in config.url_filters]))
    # F6/F7: exact-hostname domain lists (roddy.go:312-330)
    if config.disallowed_domains:
        checks.append(~host.isin(*config.disallowed_domains))
    if config.allowed_domains:
        checks.append(host.isin(*config.allowed_domains))
    if checks:
        df = df.filter(reduce(lambda a, b: a & b, checks))
    # robots (north-rule addition; broadcast map, evaluated vectorized)
    if config.respect_robots and robots_map:
        bc = df.sparkSession.sparkContext.broadcast(robots_map)

        @F.pandas_udf(BooleanType())
        def robots_ok(host: pd.Series, url: pd.Series) -> pd.Series:
            # vectorized per-host-group longest-prefix evaluation — no
            # per-row Python on the admission hot path (VERDICT r2 item 5)
            return robots_gate_series(host, url, bc.value)

        df = df.filter(robots_ok(host, url))
    return df


def admit(candidates: DataFrame, config: CrawlConfig,
          visited: DataFrame | None, bloom=None,
          robots_map: dict | None = None,
          admitted_so_far: int = 0,
          num_partitions: int | None = None,
          order_cols: tuple[str, ...] = ("priority", "parent_seq",
                                         "pos")) -> DataFrame:
    """Apply the full admission chain; returns admitted rows with ``seq``
    (global discovery rank, continuing from ``admitted_so_far``).

    Candidates must carry canonical ``url_norm`` (non-null). Filter order
    matches roddy.go:250-290: depth → budget → deny regexes → allow regexes
    → domain deny → domain allow → robots → visited. Budget and visited act
    only on rows that survived the cheap filters (set-equivalent to the
    reference's sequential loop since budget consumption counts admissions
    only — SURVEY.md §3.3).

    ``order_cols`` is the discovery-order key (must be a total order over
    the batch): the BFS loop uses (priority, parent_seq, pos); the
    streaming intake substitutes its input-derived (priority, source file,
    in-file row index) key so admission winners and ``seq`` never depend on
    partitioning. Order columns are dropped from the output unless part of
    the admitted schema.
    """
    df = admission_filters(candidates, config, robots_map)
    df = df.withColumn("url_hash", U.hash_of("url_norm"))

    # F8: first-occurrence-wins within the batch, then the visited anti-join
    # (mark-at-admission happens when the caller appends these rows to the
    # visited table — before fetch). allow_url_revisit (F9) bypasses BOTH —
    # the reference skips the whole visited check (roddy.go:293-295). A
    # visited table bucketed by url_hash into K buckets gets candidates in
    # K hash partitions, so the anti-join shuffles neither side. The bloom
    # probe runs once, below first_occurrence: its tag is a function of
    # url_hash, so it rides the aggregate's struct, and the aggregate's
    # exchange (which every row crosses anyway) feeds both sides of the
    # split in dedup_against.
    if not config.allow_url_revisit:
        buckets = config.visited_buckets if visited is not None else 0
        if visited is not None and bloom is not None:
            df = bloom_prefilter(df, bloom, "url_hash")
        df = first_occurrence(df, "url_hash", order_cols, buckets)
        df = dedup_against(df, visited, "url_hash")

    # deterministic global discovery order (the crawl-ordering contract)
    df = ordered_seq(df, list(order_cols), "seq",
                     start=admitted_so_far, num_partitions=num_partitions)

    # F3: ordered admission budget — admissions beyond the global
    # max_requests cap are rejected (and NOT visited-marked)
    if config.max_requests:
        df = df.filter(F.col("seq") < config.max_requests)

    cols = [F.col("url_norm"),
            F.col("url_hash").cast("long").alias("url_hash"),
            F.col("host"),
            F.col("depth").cast("int").alias("depth"),
            F.col("priority").cast("int").alias("priority"),
            F.col("seq").cast("long").alias("seq")]
    if "ctx" in df.columns:  # Context propagation (context.go:8-52)
        cols.append(F.col("ctx"))
    return df.select(*cols)
