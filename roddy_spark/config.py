"""Crawl configuration — the Spark analog of roddy's ``Collector`` options.

Reference: collector.go:17-111 (maxDepth/maxRequests/maxResponses/maxPageNum,
domain & URL filters, delays, parallelism, allowURLRevisit). Politeness is
upgraded from roddy's global delay (roddy.go:683-690) to a per-host budget per
micro-batch (the colly LimitRule ancestor roddy stubs out, collector.go:104),
per the north rule.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    """Immutable crawl parameters; one instance drives one BFS crawl.

    Semantics preserved from the reference (SURVEY.md §1.3):
      * seeds enter at depth 1; children at parent depth + 1 (request.go:94-96)
      * a request is rejected iff ``max_depth > 0 and depth > max_depth``
        (roddy.go:251-253) — so ``max_depth=2`` fetches depths 1 and 2
      * filter order: depth → request budget → disallowed URL regexes →
        allowed URL regexes → domain deny → domain allow → visited
        (roddy.go:250-268, 270-290)
      * domain match is exact hostname equality; empty allowlist allows all
        (roddy.go:312-330)
      * visited is marked at admission, before fetch (roddy.go:292-310)
    """

    max_depth: int = 0                 # 0 = unlimited (roddy MaxDepth)
    max_requests: int = 0              # 0 = unlimited admitted-request budget
    max_responses: int = 0             # 0 = unlimited successful fetches
    # F11 (metric.go:5-24, roddy.go:235-238): stop following rel="next"
    # paging links once this many paging-priority pages were fetched
    max_page_num: int = 0
    # F12 (roddy.go:332-345, collector.go:113-131): error labels treated as
    # non-errors ('http_404' etc. → error_effective NULL in fetch results)
    ignored_errors: tuple[str, ...] = ()
    allowed_domains: tuple[str, ...] = ()
    disallowed_domains: tuple[str, ...] = ()
    url_filters: tuple[str, ...] = ()            # allow regexes (F5)
    disallowed_url_filters: tuple[str, ...] = () # deny regexes, checked first (F4)
    allow_url_revisit: bool = False    # F9: bypass the visited anti-join
    per_host_budget: int = 0           # 0 = unlimited; else fetches/host/level (D5/D6)
    respect_robots: bool = False       # north-rule addition (not in reference engine)
    # scale knobs
    salt_buckets: int = 8              # skew salt for repartition-by-host (D6)
    # visited-set bloom prefilter (operators/dedup.py ShardedBloom): the
    # expected visited-set size sizes the filter and its shard count (each
    # shard bitmap ≤ ShardedBloom.DEFAULT_MAX_SHARD_BYTES, so a 10^9-key
    # filter splits into ~10 shards). 'auto' enables it once the visited
    # set reaches dedup.BLOOM_MIN_VISITED (below that the exact anti-join
    # is cheaper than maintaining the filter); 'on'/'off' force it. The
    # false-positive target is the dedup.BLOOM_FPP constant.
    bloom_capacity: int = 1 << 20
    bloom_mode: str = "auto"
    # visited-table layout: 0 = plain per-batch parquet; K > 0 = a bucketed
    # table CLUSTERED BY pmod(url_hash) INTO K buckets (Iceberg bucket-
    # transform stand-in), so the per-batch anti-join never shuffles the
    # monotonically growing visited side — only the batch-sized candidate
    # side moves (SURVEY.md §7.4.1 cost center). Size K so one bucket of the
    # final visited set fits an executor task (10^10 rows → K in the
    # thousands).
    visited_buckets: int = 0

    def __post_init__(self) -> None:
        for name in ("max_depth", "max_requests", "max_responses", "per_host_budget"):
            if getattr(self, name) < 0:
                raise ValueError(f"{name} must be >= 0 (0 means unlimited)")
        if self.bloom_mode not in ("auto", "on", "off"):
            raise ValueError(f"bloom_mode must be 'auto', 'on' or 'off', "
                             f"not {self.bloom_mode!r}")
        # tuples keep the config hashable/broadcastable
        for name in ("allowed_domains", "disallowed_domains", "url_filters",
                     "disallowed_url_filters"):
            v = getattr(self, name)
            if not isinstance(v, tuple):
                object.__setattr__(self, name, tuple(v))
