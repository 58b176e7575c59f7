"""The iterative BFS crawl driver (SURVEY.md §3.3) — one micro-batch per
frontier level, checkpointed after every batch so a killed job resumes from
the last snapshot (reference analog: queue persistence + serialized
requests, queue/queue.go:99-106, roddy.go:656-681; north rule: resume from
the last Iceberg snapshot).

Snapshot store: in production this is Iceberg (atomic snapshots, hidden
partitioning by ``batch``, bucketing by ``url_hash`` for the storage-
partitioned anti-join). The sandbox has no Iceberg runtime, so the store is
parquet directories partitioned by batch plus an atomically-renamed JSON
manifest — the same layout/contract, pluggable behind ``SnapshotStore``,
whose paths all go through Hadoop ``FileSystem`` (roddy_spark/fs.py).

Per-batch dataflow (each arrow is declarative DataFrame API; Python runs
only in Arrow passes: canonicalize, robots, bloom probe, link extraction):

  candidates ─ admit(admission_filters → bloom probe → in-batch dedup →
               anti-join of the maybe-seen → seq) ─► visited write
               (+ the bloom delta), read back ─┐
  pending ─────────────────────────────────────┴─► pool
  pool ─ politeness_flags(per-host window budget) ─► flagged ─► pending
         write (the whole flagged pool), read back as two filters:
    ─ NOT fetch ─► next batch's pending
    ─ fetch ─► to_fetch ─ fetch(join vs pages) ─► fetches write
               (mark-at-admission already persisted BEFORE this step)
  fetched ─ expand = link_rows(linkable pages ─ extract_links_fast ─
            <base href> ─ resolve+canonicalize) ─►
      next candidates (depth+1; rel="next" keeps depth, priority 0 — D8)

Below 20k candidates ``seq`` is a one-partition window (operators/rank.py),
so admission runs no job of its own; the politeness windows run once per
batch, in the pending write, which shuffles the pool once on (host,
salt) and holds no cache (a cached pool costs the write a job of its
own under AQE); the fetch and the next batch's pool are filters of the
written snapshot. The fetch broadcasts the frontier once and scans the
pages once.
With the filter live, the batch's admitted hashes ride the visited write
when the candidate count bounds them under the delta cap, so the merge
reads nothing back. The fetches and candidates writes spread to a
data-sized width only when that width is above 1 (mid-size batches); a
small batch is written as its stage leaves it, with no exchange job. A
small batch runs at most 11 Spark jobs (pinned by tests/test_crawl_e2e.py).

``admission_filters`` and ``link_rows`` are also the DFS fixpoint's
filter and link steps (plans/dfs.py): one policy for both visit orders.

Plan truncation: every written table is re-read before the next batch, so
lineage never grows across iterations (SURVEY.md §7.4.5).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import time
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, MapType, StringType,
                               StructField, StructType)

from roddy_spark import fs
from roddy_spark.config import CrawlConfig
from roddy_spark.extract import parse_html_udf
from roddy_spark.fetch import fetch_join
from roddy_spark.functions import urls as U
from roddy_spark.operators.admission import admit
from roddy_spark.operators.dedup import (bloom_delta_metric,
                                         refresh_visited_bloom)
from roddy_spark.operators.politeness import (FETCH, politeness_flags,
                                              split_flagged)
from roddy_spark.operators.rank import release_rank_caches
from roddy_spark.streaming.events import fetch_rate_metrics

PRIORITY_PAGING = 0
PRIORITY_CHILD = 1

# the manifest fields a crawl resume reads: the last committed batch's
# frontier state, written by every Crawler commit (seed commit included)
FRONTIER_FIELDS = ("next_candidates", "pending_n", "pending_bytes",
                   "paging_count")

# Hook detach semantics (reference: roddy.go:404-422 On*Detach +
# callback_options.go wrapper hooks): a registered hook can UNREGISTER
# itself mid-crawl. Two surfaces:
#   * return DETACH from the hook — the current batch proceeds as if the
#     hook were absent and the slot is cleared for all later batches;
#   * wrap with once(fn) — fn fires for exactly one batch (its result
#     applies), then the slot is cleared.
DETACH = object()


def once(fn):
    """Hook wrapper: fire for exactly ONE batch, then detach (the batch
    analog of the reference's self-removing callback options,
    callback_options.go:1-21)."""
    def wrapper(df):
        wrapper._rs_detach = True
        return fn(df)
    wrapper._rs_detach = False
    return wrapper

CANDIDATE_SCHEMA = StructType([
    StructField("url_norm", StringType()),
    StructField("depth", IntegerType()),
    StructField("priority", IntegerType()),
    StructField("parent_seq", LongType()),
    StructField("pos", IntegerType()),
    # reference Context (context.go:8-52): parent→child propagated user map
    StructField("ctx", MapType(StringType(), StringType())),
])


def _row_bytes_agg(df: DataFrame, where=None):
    """Approximate serialized bytes of a frontier batch's VARIABLE-width
    columns, as a write-time Observation aggregate — JSON length is a
    close-enough proxy for broadcast sizing (fixed-width columns are added
    as a per-row constant by the caller). Rides on the batch write; no
    extra job. ``where`` (a boolean Column) counts only the rows it
    holds for."""
    var_cols = [c for c in ("url_norm", "host", "ctx") if c in df.columns]
    size = F.coalesce(F.octet_length(F.to_json(F.struct(*var_cols))),
                      F.lit(0))
    return F.sum(size if where is None else F.when(where, size))


class SnapshotStore:
    """Parquet + manifest snapshot layout (Iceberg stand-in, same contract:
    the manifest names the last COMPLETE batch; partial writes of batch N+1
    are invisible until the manifest flips).

    Every path goes through ``roddy_spark.fs`` (Hadoop ``FileSystem``), so
    the root is any path Spark can write. The manifest commits as a temp
    file renamed over ``manifest.json`` with overwrite: atomic on HDFS and
    the local FS. Object stores have no atomic rename; there the manifest
    needs a conditional put or a catalog (Iceberg's catalog commit).

    With ``visited_buckets = K > 0`` the visited table is a bucketed table
    (CLUSTERED BY url_hash SORTED BY url_hash INTO K BUCKETS) — the
    sandbox analog of Iceberg's ``bucket(K, url_hash)`` partition transform
    with storage-partitioned joins. Readers get a scan whose output
    partitioning already matches the anti-join key, so Catalyst plans the
    per-batch visited anti-join with NO Exchange (and no sort) on the
    visited side; only the batch-sized candidate side is shuffled. This is
    the §7.4.1 fix: at 10^10 visited rows the alternative re-shuffles the
    whole history every micro-batch.

    Read schema: ``write`` records each table's ``df.schema`` and ``read``
    hands it to ``spark.read.schema``, so a read of a table this instance
    wrote runs no footer-inference job. Spark's file sources read any given
    schema as nullable at every depth, so a not-null claim of the last
    written frame is never asserted over older batches' files. A table
    this instance has not written (a resume, or a fresh store over an old
    root) is inferred from its files."""

    def __init__(self, root: str, visited_buckets: int = 0):
        self.root = root.rstrip("/")
        self.visited_buckets = visited_buckets
        # catalog entry name: deterministic per store ROOT (not per
        # instance) — resumed crawls / repeated store construction over one
        # path reuse a single catalog entry instead of leaking
        # rs_visited_<uuid> definitions in a long-lived session (ADVICE r2)
        digest = hashlib.sha1(fs.qualify(root).encode()).hexdigest()
        self._visited_table = f"rs_visited_{digest[:12]}"
        # table → schema of its last write, for inference-free reads
        self._schemas: dict[str, StructType] = {}

    # -- bucketed visited table ----------------------------------------
    def _visited_path(self) -> str:
        return f"{self.root}/visited_bucketed"

    def _bucket_spec_of(self, spark: SparkSession) -> int | None:
        """Bucket count of the existing catalog entry, or None."""
        for r in spark.sql(
                f"DESCRIBE FORMATTED {self._visited_table}").collect():
            if r["col_name"].strip() == "Num Buckets":
                return int(r["data_type"])
        return None

    def _ensure_visited_table(self, spark: SparkSession) -> None:
        # pre-create the location: a CREATE TABLE over a missing dir makes
        # the first insert's file listing log a WARN + stacktrace; also
        # covers a stale catalog entry whose dir was deleted between runs
        fs.mkdirs(self._visited_path())
        if spark.catalog.tableExists(self._visited_table):
            # deterministic per-root naming can meet a STALE entry from an
            # earlier store over the same root with a different bucket
            # spec: reconcile rather than silently reuse. Over an empty
            # location (root wiped/recreated) drop + recreate; over live
            # data a bucket change would mis-route the storage-partitioned
            # anti-join, so refuse (bucket-spec evolution over existing
            # files is the caller's migration, as with Iceberg specs).
            existing = self._bucket_spec_of(spark)
            if existing is not None and existing != self.visited_buckets:
                has_data = any(
                    e.endswith(".parquet") or e.startswith("part-")
                    for e in fs.list_names(self._visited_path()))
                if has_data:
                    raise ValueError(
                        f"visited table at {self._visited_path()} has "
                        f"{existing} buckets but this store wants "
                        f"{self.visited_buckets}; bucket-spec change over "
                        "existing data requires an explicit migration")
                spark.sql(f"DROP TABLE {self._visited_table}")
        if not spark.catalog.tableExists(self._visited_table):
            k = self.visited_buckets
            spark.sql(
                f"CREATE TABLE {self._visited_table} ("
                "url_norm STRING, url_hash BIGINT, host STRING, depth INT, "
                "priority INT, seq BIGINT, ctx MAP<STRING,STRING>, "
                "batch INT) USING parquet "
                f"CLUSTERED BY (url_hash) SORTED BY (url_hash) "
                f"INTO {k} BUCKETS "
                f"LOCATION '{self._visited_path()}'")

    def write_visited(self, df: DataFrame, batch: int) -> None:
        if not self.visited_buckets:
            self.write(df, "visited", batch)
            return
        self._ensure_visited_table(df.sparkSession)
        (df.write.mode("append")
           .insertInto(self._visited_table))

    def rollback_visited(self, spark: SparkSession, completed: int) -> None:
        """Delete visited data written by batches > ``completed`` — the
        Iceberg uncommitted-snapshot rollback analog. Visited is written
        BEFORE the manifest commits (mark-at-admission), so a job killed
        mid-batch leaves rows the manifest never acknowledged; without this,
        a resume would see its own re-admissions as already visited (or,
        bucketed, duplicate them on re-append). Bucketed, each append's
        files hold one batch: the scan finds the files of rows with
        ``batch > completed``, and a file it cannot read raises."""
        if not self.visited_buckets:
            self.rollback_table("visited", completed)
            return
        if not fs.exists(self._visited_path()):
            return
        self._ensure_visited_table(spark)
        # another session may have appended since this one listed the files
        spark.catalog.refreshTable(self._visited_table)
        stale = (spark.table(self._visited_table)
                 .filter(F.col("batch") > completed)
                 .select("_metadata.file_path").distinct().collect())
        for r in stale:
            # file_path is a URI string: percent-decode it back to a path
            fs.delete(unquote(r["file_path"]))
        spark.catalog.refreshTable(self._visited_table)

    def read_visited(self, spark: SparkSession,
                     batch: int | None = None) -> DataFrame | None:
        if not self.visited_buckets:
            return self.read(spark, "visited", batch)
        if not fs.exists(self._visited_path()):
            return None
        self._ensure_visited_table(spark)
        df = spark.table(self._visited_table)
        if batch is not None:
            # each append's files hold exactly one batch → file-stats prune
            df = df.filter(F.col("batch") == batch)
        return df

    def path(self, table: str, batch: int | None = None) -> str:
        p = f"{self.root}/{table}"
        return p if batch is None else f"{p}/batch={batch}"

    def write(self, df: DataFrame, table: str, batch: int) -> None:
        df.write.mode("overwrite").parquet(self.path(table, batch))
        self._schemas[table] = df.schema

    def _batches(self, table: str) -> list[int]:
        """Batch numbers with a snapshot directory of ``table``."""
        return [int(e.split("=", 1)[1]) for e in fs.list_names(
            self.path(table)) if e.startswith("batch=")]

    def read(self, spark: SparkSession, table: str,
             batch: int | None = None) -> DataFrame | None:
        # ``batch`` is stored as a REGULAR column where needed; the
        # directory layout is only for snapshot isolation, so reads go
        # through an explicit path list (no partition-column inference, and
        # no "batch=*" glob: Spark probes a glob STRING for streaming-sink
        # metadata and logs a noisy FileNotFoundException per read). None
        # means the snapshot does not exist; a snapshot that exists but
        # cannot be read raises rather than passing for an empty table.
        if batch is not None:
            paths = [self.path(table, batch)]
            if not fs.exists(paths[0]):
                return None
        else:
            paths = [self.path(table, b) for b in sorted(self._batches(table))]
            if not paths:
                return None
        schema = self._schemas.get(table)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    def rollback_table(self, table: str, completed: int) -> None:
        """Delete ``table`` snapshots written by batches > ``completed`` —
        a killed run's uncommitted writes. Required for tables read via
        ``read_latest``: without it, a later resume could resurrect an
        orphaned snapshot that a successful intervening re-run never
        overwrote (e.g. its refetch set no cookies)."""
        for b in self._batches(table):
            if b > completed:
                fs.delete(self.path(table, b))

    def read_latest(self, spark: SparkSession, table: str,
                    max_batch: int) -> DataFrame | None:
        """Latest committed snapshot of ``table`` with batch <= max_batch.
        Needed for tables written only on CHANGE (the cookie jar since the
        count-routed write-back): the completed batch may not have a
        snapshot, but an earlier one does. Listing-only (no Spark jobs);
        batches > max_batch are a killed run's uncommitted writes and are
        excluded for snapshot isolation."""
        nums = [b for b in self._batches(table) if b <= max_batch]
        if not nums:
            return None
        return self.read(spark, table, max(nums))

    def manifest(self) -> dict | None:
        text = fs.read_text(f"{self.root}/manifest.json")
        return None if text is None else json.loads(text)

    def commit_manifest(self, m: dict) -> None:
        # atomic snapshot flip: temp file + rename with overwrite
        fs.write_text_atomic(f"{self.root}/manifest.json",
                             json.dumps(m, indent=1))


@dataclass
class CrawlState:
    store: SnapshotStore
    batches: list[dict]
    admitted_count: int
    success_count: int

    def visited(self, spark: SparkSession) -> DataFrame:
        df = self.store.read_visited(spark)
        return _empty_visited(spark) if df is None else df.drop("batch")

    def fetches(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "fetches")

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        """Per (batch, host) fetch counts and success rate (SURVEY.md
        D10), computed on read from the fetches table."""
        fetches = self.fetches(spark)
        return None if fetches is None else fetch_rate_metrics(fetches)

    def errors(self, spark: SparkSession) -> DataFrame | None:
        """on_error hook output across batches (roddy's OnError channel)."""
        return self.store.read(spark, "errors")

    def scraped(self, spark: SparkSession) -> DataFrame | None:
        """on_scraped hook output across batches (roddy's OnScraped)."""
        return self.store.read(spark, "scraped")

    def selected(self, spark: SparkSession) -> DataFrame | None:
        """User-selector element rows across batches (the OnHTML(selector)
        output table; one row per matched element — extract.select_css)."""
        return self.store.read(spark, "selected")

    def order(self, spark: SparkSession) -> list[str]:
        return [r["url_norm"] for r in
                self.visited(spark).orderBy("seq").collect()]

    def export_visited(self, spark: SparkSession, path: str,
                       fmt: str = "csv") -> None:
        """K4/K5 sink analog (examples/xkcd_store, examples/blindkr)."""
        df = self.visited(spark).drop("ctx") if fmt == "csv" else \
            self.visited(spark)
        df.write.mode("overwrite").format(fmt).option(
            "header", "true").save(path)


def _empty_visited(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], StructType([
        StructField("url_norm", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("depth", IntegerType()),
        StructField("priority", IntegerType()),
        StructField("seq", LongType()),
        StructField("ctx", MapType(StringType(), StringType())),
    ]))


def link_rows(fetched: DataFrame, cols: list[str], schema: StructType,
              shape, allow_paging: bool = True) -> DataFrame:
    """The one link pass over fetched pages (request.go:61-79), shared by
    ``expand`` and the DFS fixpoint (plans/dfs.py): linkable pages (HTML
    or 3xx) → anchors in document order (extract.extract_links_fast,
    C-regex fast path + HTMLParser fallback) → effective <base href> →
    child resolve/canonicalize (urlkernel.resolve_series) → NULL children
    dropped. ``allow_paging=False`` drops rel="next" links before
    resolution.

    ONE fused Arrow pass (mapInPandas): page bodies cross into Python
    exactly once and nothing body-sized is shuffled. Per Arrow batch,
    ``shape(pdf, links)`` builds the output rows of ``schema``: ``pdf``
    holds the pages (``url_norm`` plus ``cols``), ``links`` one row per
    kept link with ``page`` (row of ``pdf``), ``pos``, ``rel`` and
    ``child``."""
    import pandas as pd

    from roddy_spark.extract import extract_links_fast
    from roddy_spark.functions.urlkernel import resolve_series

    html = fetched.filter(
        F.col("success") & ((F.col("content_type") == "text/html")
                            | ((F.col("status") >= 300)
                               & (F.col("status") < 400))))
    src = html.select("url_norm", *cols, "body_html")

    def gen(batches):
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            base_href, links = extract_links_fast(pdf["body_html"])
            if not allow_paging and len(links):
                links = links[links["rel"] != "next"]
            if not len(links):
                continue
            base = resolve_series(pdf["url_norm"], base_href)
            base = base.where(base.notna(), pdf["url_norm"])
            child = resolve_series(
                base.iloc[links["page"].to_numpy()].reset_index(drop=True),
                links["href"].reset_index(drop=True)).to_numpy()
            yield shape(pdf, links.assign(child=child)[pd.notna(child)])

    return src.mapInPandas(gen, schema)


def expand(fetched: DataFrame, allow_paging: bool = True) -> DataFrame:
    """Fetched pages → next-batch candidates (SURVEY.md S4/S7/S8) through
    ``link_rows``: rel="next" links keep the parent's depth at paging
    priority (request.go:98-105 semantics), others go to depth+1. Children
    inherit the parent's Context map (request.go:94-96). When the paging
    budget (max_page_num, F11) is exhausted the caller passes
    ``allow_paging=False`` and rel="next" links are dropped — the analog of
    roddy skipping OnPaging callbacks past maxPageNum (roddy.go:235-238).
    Semantics equal the declarative parse→explode→resolve pipeline (pinned
    by the extractor parity tests + the e2e exact-(url,depth,seq) suite)."""
    import numpy as np
    import pandas as pd

    def candidates(pdf, links):
        page = links["page"].to_numpy()
        is_next = links["rel"].eq("next").to_numpy()
        pdepth = pdf["depth"].to_numpy()[page]
        return pd.DataFrame({
            "url_norm": links["child"].to_numpy(),
            "depth": np.where(is_next, pdepth, pdepth + 1).astype("int32"),
            "priority": np.where(is_next, PRIORITY_PAGING,
                                 PRIORITY_CHILD).astype("int32"),
            "parent_seq": pdf["seq"].to_numpy()[page],
            "pos": links["pos"].to_numpy().astype("int32"),
            "ctx": pdf["ctx"].iloc[page].to_numpy(),
        })

    return link_rows(fetched, ["depth", "seq", "ctx"], CANDIDATE_SCHEMA,
                     candidates, allow_paging)


def extractions(fetched: DataFrame) -> DataFrame:
    """The OnHTML/OnData output rows (titles, descriptions, image refs) —
    what a user callback would consume (roddy_test.go:140-168 parity)."""
    html = fetched.filter(F.col("success")
                          & (F.col("content_type") == "text/html"))
    return (html.withColumn("parsed", parse_html_udf("body_html"))
            .select("url_norm", "depth", "seq", "batch",
                    F.col("parsed.title").alias("title"),
                    F.col("parsed.descriptions").alias("descriptions"),
                    F.col("parsed.images").alias("images"),
                    F.size(F.coalesce(F.col("parsed.links"),
                                      F.array())).alias("n_links")))


class Crawler:
    """Level-synchronous BFS crawler. ``pages`` is the synthetic-web table
    (the sandbox network); swap ``fetcher`` for a networked mapInPandas
    stage in production."""

    def __init__(self, spark: SparkSession, config: CrawlConfig,
                 pages: DataFrame, checkpoint_dir: str,
                 robots_map: dict | None = None, fetcher=fetch_join,
                 max_batches: int = 200, on_request=None,
                 on_response=None, on_error=None, on_scraped=None,
                 cookies: dict | None = None,
                 selectors: list[str] | None = None):
        self.spark = spark
        self.config = config
        self.pages = pages
        self.store = SnapshotStore(checkpoint_dir,
                           visited_buckets=config.visited_buckets)
        self.robots_map = robots_map or {}
        self.fetcher = fetcher
        # the keywords the fetcher accepts, resolved once
        self._fetcher_params = set(inspect.signature(fetcher).parameters)
        self.max_batches = max_batches
        # User hook surface — the reference's callback registry
        # (roddy.go:360-483) as DataFrame→DataFrame transform slots, fired
        # per batch in the reference's order (roddy.go:185-248):
        # OnRequest → fetch → OnError / OnResponse → expansion → OnScraped.
        #   on_request: between admission and fetch; rows it filters out
        #     are ABORTED — stay visited, never fetch (roddy.go:206-208).
        #   on_response: over the batch's SUCCESSFUL fetches before they
        #     persist/expand; must preserve the schema. Rows it drops are
        #     suppressed — excluded from the fetches table, counters and
        #     link expansion (engine extension; roddy's OnResponse cannot
        #     abort).
        #   on_error: over the batch's FAILED fetches; its result (any
        #     schema) persists to the ``errors`` table — the durable analog
        #     of roddy's OnError channel.
        #   on_scraped: over the batch's successful fetches AFTER expansion
        #     (the reference fires OnScraped last, roddy.go:241-247);
        #     result (any schema) persists to the ``scraped`` table.
        self.on_request = on_request
        self.on_response = on_response
        self.on_error = on_error
        self.on_scraped = on_scraped
        # S4 generality (VERDICT r3 item 2): user-registered CSS selectors —
        # the migration slot for arbitrary OnHTML(selector) callbacks
        # (roddy.go:497-531; ChildText/ChildAttr element.go:77-88). Each
        # batch's successful HTML pages yield one row per matched element
        # (selector, pos, tag, text, attrs) into the durable ``selected``
        # table; matching rides the same Arrow parse pass as extraction.
        self.selectors = list(selectors or [])
        # K3 cookie-jar lifecycle (storage/storage.go:47-131): host → cookie
        # string. READ side: passed to cookie-aware fetchers (broadcast).
        # WRITE-BACK: responses carrying a ``set_cookie`` column update the
        # jar after each batch (last writer per host by seq) and the jar is
        # persisted per batch, so a resumed crawl fetches with the same
        # cookies an uninterrupted one would. Host count bounds jar size —
        # driver-safe at any page count.
        self.cookies: dict[str, str] = dict(cookies or {})

    # -- state helpers -------------------------------------------------
    def _seed_candidates(self, seeds: list) -> DataFrame:
        """seeds: list of url strings or (url, ctx_dict) pairs — the ctx map
        is the reference's Context, inherited by all descendants."""
        rows = []
        for i, s in enumerate(seeds):
            url, ctx = (s, None) if isinstance(s, str) else (s[0], s[1])
            rows.append((url, 1, PRIORITY_CHILD, i, 0, ctx))
        df = self.spark.createDataFrame(
            rows, StructType([
                StructField("raw_url", StringType()),
                StructField("depth", IntegerType()),
                StructField("priority", IntegerType()),
                StructField("parent_seq", LongType()),
                StructField("pos", IntegerType()),
                StructField("ctx", MapType(StringType(), StringType())),
            ]))
        return (df.withColumn("url_norm", U.canonicalize("raw_url"))
                  .filter(F.col("url_norm").isNotNull())
                  .select("url_norm", "depth", "priority", "parent_seq",
                          "pos", "ctx"))

    # -- main loop ------------------------------------------------------
    def run(self, seeds: list[str] | None = None,
            resume: bool = False) -> CrawlState:
        spark, store, cfg = self.spark, self.store, self.config
        m = store.manifest() if resume else None
        if m:
            missing = [k for k in FRONTIER_FIELDS if k not in m]
            if missing:
                raise ValueError(
                    f"cannot resume the crawl at {store.root}: its manifest "
                    f"has no {', '.join(missing)}; the store was not "
                    "written by Crawler (a FrontierIngest store holds "
                    "visited rows only)")
            batch = m["completed_batch"]
            admitted_count = m["admitted_count"]
            success_count = m["success_count"]
            paging_count = m["paging_count"]
            batches = m["batches"]
            # roll back visited rows a killed batch wrote but never
            # committed (they'd mask the re-run's own re-admissions), and
            # orphaned cookie snapshots (they'd shadow the committed jar
            # in read_latest on a LATER resume)
            store.rollback_visited(spark, batch)
            store.rollback_table("cookies", batch)
            candidates = store.read(spark, "candidates", batch)
            pending = store.read(spark, "pending", batch)
            if pending is not None:
                pending = split_flagged(pending)[1]
            visited = store.read_visited(spark)
            # latest-committed, not exact-batch: the jar is written only on
            # batches that SET cookies, so the completed batch may carry no
            # snapshot while an earlier one does
            jar = store.read_latest(spark, "cookies", batch)
            if jar is not None:
                self.cookies.update({r["host"]: r["cookie"]
                                     for r in jar.collect()})
            # The frontier-state counts/bytes are write-time Observation
            # values the completed batch already measured — the manifest
            # carries them, so a resume launches ZERO count/aggregate jobs
            # (VERDICT r4 item 4).
            n_cand = m["next_candidates"]
            n_pending = m["pending_n"]
            pending_bytes = m["pending_bytes"]
        else:
            if seeds is None:
                raise ValueError("seeds required for a fresh crawl")
            batch = 0
            admitted_count = success_count = paging_count = 0
            batches = []
            # Durably persist the SEED candidates as batch 0 BEFORE the
            # initial manifest commit: a job killed during batch 1 then
            # resumes from candidates/batch=0 and restarts at the seeds.
            # (Committing first would make resume read an absent candidate
            # table, see n_cand=0 and declare an empty crawl done.)
            obs_seed = Observation("seed")
            store.write(self._seed_candidates(seeds).observe(
                obs_seed, F.count(F.lit(1)).alias("n")), "candidates", 0)
            candidates = store.read(spark, "candidates", 0)
            n_cand = int(obs_seed.get["n"])  # rides the seed write
            pending = None
            n_pending = 0
            pending_bytes = 0
            visited = None
            store.commit_manifest({
                "completed_batch": 0, "admitted_count": 0,
                "success_count": 0, "paging_count": 0, "batches": [],
                "done": False, "next_candidates": n_cand, "pending_n": 0,
                "pending_bytes": 0, "config": repr(cfg)})
        # visited filter: empty on a fresh store, rebuilt on resume
        bloom = refresh_visited_bloom(cfg, None, admitted_count,
                                      lambda: visited)

        while batch < self.max_batches:
            batch += 1
            t0 = time.time()
            if n_cand == 0 and n_pending == 0:
                break
            if cfg.max_responses and success_count >= cfg.max_responses:
                break

            # 1. admission (+ mark-at-admission: persist BEFORE fetching).
            # Row counts ride along as write-time Observations — no extra
            # count jobs anywhere in the loop.
            if n_cand:
                admitted = admit(candidates, cfg, visited, bloom,
                                 self.robots_map, admitted_count,
                                 num_partitions=self._width(n_cand))
                obs_adm = Observation(f"adm_{batch}")
                adm_metrics = [F.count(F.lit(1)).alias("n"),
                               _row_bytes_agg(admitted).alias("bytes")]
                # the filter's delta rides the write when the candidate
                # count bounds it: the merge then reads nothing back
                ride = bloom_delta_metric(bloom, n_cand)
                if ride is not None:
                    adm_metrics.append(ride)
                store.write_visited(
                    admitted.observe(obs_adm, *adm_metrics)
                    .withColumn("batch", F.lit(batch)), batch)
                release_rank_caches()
                admitted = store.read_visited(spark, batch).drop("batch")
                got = obs_adm.get
                n_admitted = int(got["n"])
                adm_bytes = int(got["bytes"] or 0) + 32 * n_admitted
                admitted_count += n_admitted
                # per-micro-batch delta merge of the admitted hashes, routed
                # by the COUNT that rode the write (or the first build, once
                # bloom_mode='auto' activates the filter)
                bloom = refresh_visited_bloom(
                    cfg, bloom, admitted_count,
                    lambda: store.read_visited(spark), lambda: admitted,
                    n_admitted, got.get("hashes"))
            else:
                admitted = _empty_visited(spark)
                n_admitted = 0
                adm_bytes = 0

            # 2. politeness: pending ∪ newly admitted → fetch now vs defer.
            # With no per-host budget nothing is ever deferred — skip the
            # pending table's IO entirely. The flagged pool itself is the
            # pending snapshot, so its windows run once, in that write;
            # the fetch and the next batch's pool are filters of it.
            obs_def = None
            if cfg.per_host_budget:
                pool = admitted if pending is None else (
                    pending.select(*admitted.columns).unionByName(admitted))
                flagged = politeness_flags(
                    pool, cfg.per_host_budget, cfg.salt_buckets)
                deferred = ~F.col(FETCH)
                obs_def = Observation(f"def_{batch}")
                store.write(flagged.observe(
                    obs_def, F.count_if(deferred).alias("n"),
                    _row_bytes_agg(flagged, deferred).alias("bytes")),
                    "pending", batch)
                to_fetch, pending = split_flagged(
                    store.read(spark, "pending", batch))
            else:
                to_fetch = admitted

            # 2b. OnRequest hook — abort between admission and fetch
            if self.on_request is not None:
                r = self._fire_hook("on_request", to_fetch)
                if r is not None:
                    to_fetch = r

            # 3. fetch (the admitted rows are already durably visited);
            # error classification per F12 (ignored errors → NULL effective)
            obs_f = Observation(f"fetch_{batch}")
            fkw = {}
            fparams = self._fetcher_params
            if "frontier_rows" in fparams:
                # known batch bound → broadcast-frontier fetch strategy
                fkw["frontier_rows"] = n_admitted + n_pending
            if "frontier_bytes" in fparams:
                # write-time byte observation gates the broadcast by SIZE,
                # not just row count — fat-ctx frontiers take the SMJ path
                # (VERDICT r2 item 6); after resume the pending component
                # comes from the manifest, so it is always exact.
                fkw["frontier_bytes"] = adm_bytes + pending_bytes
            if "cookies" in fparams:
                # cookie-aware fetcher gets the CURRENT jar snapshot
                fkw["cookies"] = dict(self.cookies)
            # fetches feed the HTML-parse stage next. A MID-SIZE batch is
            # spread to a data-sized width: as the fetch stage leaves it
            # (AQE coalesces 2KB-html shuffles) it lands in one file and
            # the parse runs in one task. Width 1 keeps the stage's own
            # output (a repartition would be an exchange job for nothing),
            # and a LARGE batch's fetch stage is already wide. A fetcher
            # that takes ``num_partitions`` spreads its own output
            # (fetch_join: in the shuffle it runs anyway, so the page
            # bodies cross the wire once); any other is repartitioned.
            w = self._width(max(n_admitted, n_pending), 5_000)
            spread = 1 < w < self.spark.sparkContext.defaultParallelism
            if spread and "num_partitions" in fparams:
                fkw["num_partitions"] = w
            err = F.when(F.col("success"), F.lit(None)).otherwise(
                F.concat(F.lit("http_"), F.col("status").cast("string")))
            fetched = self.fetcher(to_fetch, self.pages, **fkw).withColumns({
                "batch": F.lit(batch), "error": err,
                "error_effective":
                    F.when(err.isin(*cfg.ignored_errors), F.lit(None))
                     .otherwise(err) if cfg.ignored_errors else err})
            # OnResponse slot: reshape/drop successful responses before they
            # persist; dropped rows are suppressed (never stored/expanded/
            # counted). Fired BEFORE the counters observe, by design.
            if self.on_response is not None:
                kept = self._fire_hook("on_response",
                                       fetched.filter(F.col("success")))
                if kept is not None:
                    fetched = kept.select(*fetched.columns).unionByName(
                        fetched.filter(~F.col("success")))
            f_metrics = [
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("success").cast("long")).alias("ok"),
                F.sum(((F.col("priority") == PRIORITY_PAGING)
                       & F.col("success")).cast("long")).alias("paging")]
            has_cookies = "set_cookie" in fetched.columns
            if has_cookies:
                # only the set-cookie COUNT rides the fetches write: a
                # collect_list metric — even sliced — would still ship each
                # task's full partial buffer to the driver before the slice
                # (ADVICE r5). Batches with any set-cookie rows pay one
                # host-bounded grouped-collect job below instead.
                f_metrics.append(
                    F.sum(F.col("set_cookie").isNotNull().cast("long"))
                    .alias("n_set_cookie"))
            fetched = fetched.observe(obs_f, *f_metrics)
            if spread and "num_partitions" not in fparams:
                fetched = fetched.repartition(w)
            store.write(fetched, "fetches", batch)
            fetched = store.read(spark, "fetches", batch)
            n_fetched = int(obs_f.get["n"])
            n_ok = int(obs_f.get["ok"] or 0)
            success_count += n_ok
            paging_count += int(obs_f.get["paging"] or 0)

            # 3b. cookie write-back (K3, storage/storage.go:92-131):
            # set-cookie responses update the jar (last writer per host by
            # seq) and the jar is persisted for resume. The set-cookie
            # COUNT rode the fetches write; batches without any (the
            # common case) skip this entirely, and batches with some pay
            # ONE grouped-collect over the persisted fetches snapshot —
            # driver traffic is bounded by the distinct-HOST count (the
            # jar's own size), never by batch rows (ADVICE r5).
            if has_cookies and int(obs_f.get["n_set_cookie"] or 0):
                updates = (fetched
                           .filter(F.col("set_cookie").isNotNull())
                           .groupBy(U.host_of("url_norm").alias("host"))
                           .agg(F.max_by("set_cookie", "seq")
                                .alias("cookie"))
                           .collect())
                self.cookies.update(
                    {r["host"]: r["cookie"] for r in updates})
                store.write(spark.createDataFrame(
                    list(self.cookies.items()),
                    "host string, cookie string"), "cookies", batch)

            # 3c. user-selector element rows (S4 generality): reads the
            # persisted fetches snapshot — nothing is refetched/reparsed
            # upstream, and bodies stay inside one Arrow pass
            if self.selectors:
                from roddy_spark.extract import select_css
                store.write(select_css(
                    fetched.filter(F.col("success")
                                   & (F.col("content_type") == "text/html")),
                    self.selectors,
                    keep=("url_norm", "depth", "seq", "batch")),
                    "selected", batch)

            # 3d. OnError slot (roddy.go:332-345): failed fetches → the
            # durable errors table; reads the already-persisted fetches
            # snapshot, so nothing is recomputed
            if self.on_error is not None:
                res = self._fire_hook("on_error",
                                      fetched.filter(~F.col("success")))
                if res is not None:
                    store.write(res, "errors", batch)

            # 4. expansion → next batch's candidates (paging gated by F11)
            allow_paging = not (cfg.max_page_num
                                and paging_count >= cfg.max_page_num)
            obs_c = Observation(f"cand_{batch}")
            # next batch's admission UDFs scan these files: a width above
            # 1 spreads them, width 1 keeps the parse stage's output
            cand = expand(fetched, allow_paging)
            w = self._width(n_fetched * 8)
            if w > 1:
                cand = cand.repartition(w)
            store.write(cand.observe(obs_c, F.count(F.lit(1)).alias("n")),
                        "candidates", batch)
            n_next = int(obs_c.get["n"])

            # 4b. OnScraped slot — fired LAST, after expansion, per the
            # reference's callback order (roddy.go:241-247)
            if self.on_scraped is not None:
                res = self._fire_hook("on_scraped",
                                      fetched.filter(F.col("success")))
                if res is not None:
                    store.write(res, "scraped", batch)

            # 5. snapshot commit. The manifest carries the
            # NEXT-batch frontier-state numbers (all write-time Observation
            # values) so a resume replays them without any count/aggregate
            # job (VERDICT r4 item 4).
            next_pending_n = int(obs_def.get["n"]) if obs_def else 0
            next_pending_bytes = ((int(obs_def.get["bytes"] or 0)
                                   + 32 * next_pending_n) if obs_def else 0)
            batches.append({
                "batch": batch, "candidates": n_cand, "admitted": n_admitted,
                "fetched": n_fetched, "success": n_ok,
                "failure": n_fetched - n_ok,
                "secs": round(time.time() - t0, 3)})
            store.commit_manifest({
                "completed_batch": batch, "admitted_count": admitted_count,
                "success_count": success_count,
                "paging_count": paging_count, "batches": batches,
                "next_candidates": n_next, "pending_n": next_pending_n,
                "pending_bytes": next_pending_bytes,
                "done": False, "config": repr(cfg)})

            # 6. roll state (re-read from disk: plan truncation)
            candidates = store.read(spark, "candidates", batch)
            n_cand = n_next
            if cfg.per_host_budget:
                n_pending = next_pending_n
                pending_bytes = next_pending_bytes
            visited = store.read_visited(spark)

        final = store.manifest() or {}
        final["done"] = True
        store.commit_manifest(final)
        return CrawlState(store, batches, admitted_count, success_count)

    def _fire_hook(self, slot: str, df: DataFrame):
        """Invoke the hook in ``slot`` honoring detach semantics: a DETACH
        return (or a once()-wrapped hook after firing) clears the slot.
        Returns the hook's result, or None when the hook returned DETACH
        (the caller treats the batch as if the hook were absent).

        A plain ``None`` return is an ERROR, not a no-op: only the DETACH
        sentinel means "proceed as if absent". Silently ignoring None would
        mask the classic bug of a user hook falling through without a
        return statement (ADVICE r3) — a filter hook that "worked" while
        filtering nothing."""
        hook = getattr(self, slot)
        out = hook(df)
        if out is DETACH:
            setattr(self, slot, None)
            return None
        if out is None:
            raise TypeError(
                f"{slot} hook returned None — hooks must return a "
                "DataFrame (or the DETACH sentinel to unregister); a "
                "missing return statement would otherwise be silently "
                "treated as 'keep everything'")
        if getattr(hook, "_rs_detach", False):
            setattr(self, slot, None)
        return out

    def _width(self, rows: int, rows_per_partition: int = 20_000) -> int:
        """Partition count sized to the data, capped at cluster width.

        A frontier batch is often far smaller than the cluster; running its
        pandas-UDF stages at full shuffle width just multiplies fixed
        per-task Arrow/python overhead (measured 4x slowdown at local[32]
        on 2k-row batches), and below 20k candidates width 1 takes
        ``ordered_seq``'s job-free window rank. Counts are free — they
        ride on the previous batch's write Observations."""
        cores = self.spark.sparkContext.defaultParallelism
        return max(1, min(cores, rows // rows_per_partition + 1))
