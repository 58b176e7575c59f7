"""Deterministic synthetic web (FIXTURES.md §2-§4) — the sandbox "network".

Replaces the reference's httptest fixture server
(roddy_httptestserver.go:21-238) with a *table* of pages the fetch stage
resolves frontier URLs against. Route coverage mirrors the reference server
without copying it: percent-sign paths (/100%25), tabs/newlines inside
hrefs, absolute + relative <base href>, robots fixtures, /allowed vs
/disallowed, a 500 page, a redirect pair, non-HTML content types, plus a
paging chain (next-links scheduled at paging priority, SURVEY.md D8).

Every page is a pure function of (seed, host_index, local_index), so
generation is distributed (mapInPandas over spark.range) and
order-independent; host page-counts are Zipf-skewed to exercise the
politeness scheduler's skew handling.

Redirect semantics (documented deviation): a 3xx row carries its target as
its only link; the target is crawled at depth+1. Both the Spark engine and
the Python oracle consume this same table, so equivalence is well-defined.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

PAGE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("status", IntegerType()),
    StructField("content_type", StringType()),
    StructField("base_href", StringType()),
    StructField("links", ArrayType(StructType([
        StructField("href", StringType()),
        StructField("text", StringType()),
        StructField("pos", IntegerType()),
        StructField("rel", StringType()),
    ]))),
    StructField("image_refs", ArrayType(StructType([
        StructField("image_id", StringType()),
        StructField("src", StringType()),
    ]))),
    StructField("title", StringType()),
    StructField("body_html", StringType()),
])

# fixed routes appended after the /p/{j} tree on every host
_FIXED_ROUTES = ("_root", "100%25", "disallowed", "allowed", "boom",
                 "redirect", "redirected/", "base", "deep/dir/leaf",
                 "base_relative", "deep2/leaf2", "list/0", "list/1",
                 "list/2", "sitemap.xml", "blob.bin")
_N_FIXED = len(_FIXED_ROUTES)
_PAGING_LEN = 3


@dataclass(frozen=True)
class WebConfig:
    n_hosts: int = 4
    n_pages: int = 200          # total target across hosts (Zipf-skewed)
    branching: int = 3
    n_corpus: int = 100         # corpus size image_refs point into
    seed: int = 42

    def host_sizes(self) -> list[int]:
        """Zipf-skewed tree sizes per host (min 4 tree pages)."""
        w = np.array([1.0 / (k + 1) ** 1.1 for k in range(self.n_hosts)])
        w /= w.sum()
        tree_total = max(self.n_pages - self.n_hosts * _N_FIXED,
                         4 * self.n_hosts)
        sizes = np.maximum((w * tree_total).astype(int), 4)
        return [int(s) for s in sizes]

    def offsets(self) -> list[int]:
        """Global row-id offset of each host's page block."""
        out, acc = [], 0
        for s in self.host_sizes():
            out.append(acc)
            acc += s + _N_FIXED - 1  # root is tree page 0 (in _FIXED_ROUTES)
        out.append(acc)
        return out

    @property
    def total_pages(self) -> int:
        return self.offsets()[-1]


@lru_cache(maxsize=16)
def _cached_layout(cfg: "WebConfig") -> tuple[list[int], np.ndarray]:
    """(host_sizes, offsets-as-ndarray) — memoized; page_record is called
    per ROW during distributed generation, so the O(n_hosts) layout math
    must not be recomputed 10^5 times per partition."""
    return cfg.host_sizes(), np.asarray(cfg.offsets())


def _host(k: int) -> str:
    return f"h{k}.test"


def _url(k: int, route: str) -> str:
    if route == "_root":
        return f"http://{_host(k)}/"
    return f"http://{_host(k)}/{route}"


def _tree_url(k: int, j: int) -> str:
    return f"http://{_host(k)}/" if j == 0 else f"http://{_host(k)}/p/{j}"


def _render_html(title: str, base_href: str | None, descriptions: list[str],
                 links: list[dict], image_refs: list[dict]) -> str:
    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace('"', "&quot;")
    base = f'<base href="{esc(base_href)}"/>' if base_href else ""
    body = "".join(f'<p class="description">{d}</p>' for d in descriptions)
    body += "".join(
        f'<a href="{esc(l["href"])}"'
        + (f' rel="{l["rel"]}"' if l["rel"] else "")
        + f'>{l["text"]}</a>' for l in links)
    body += "".join(f'<img src="{esc(r["src"])}" alt="{r["image_id"]}"/>'
                    for r in image_refs)
    return (f"<!DOCTYPE html><html><head><title>{title}</title>{base}"
            f"</head><body>{body}</body></html>")


def page_record(cfg: WebConfig, k: int, local: int) -> dict:
    """Pure function → one page row. ``local`` indexes the host's block:
    0..n_tree-1 are the content tree (0 = root), then the fixed routes."""
    n_tree = _cached_layout(cfg)[0][k]
    B = cfg.branching
    host = _host(k)
    links: list[dict] = []
    image_refs: list[dict] = []
    status, ctype, base_href = 200, "text/html", None

    def add(href: str, text: str = "", rel: str = "") -> None:
        links.append({"href": href, "text": text or href,
                      "pos": len(links), "rel": rel})

    if local < n_tree:  # content-tree page (root = 0)
        j = local
        url = _tree_url(k, j)
        title = f"{host} page {j}"
        # children in varied href forms (absolute / root-relative / relative)
        for t in range(1, B + 1):
            c = B * j + t
            if c >= n_tree:
                break
            form = c % 3
            if form == 0:
                add(_tree_url(k, c), f"child {c}")
            elif form == 1:
                add(f"/p/{c}", f"child {c}")
            else:
                add(f"p/{c}" if j == 0 else f"{c}", f"child {c}")
        if j == 0:  # root: fixed-route links + torture cases
            add("/100%", "percent")            # canonicalizes to /100%25
            add("/allowed", "allowed")
            add("/disallowed", "disallowed")
            add("/boom", "server error")
            add("/redirect", "redirect")
            add("/base", "base abs")
            add("/base_relative", "base rel")
            add("/list/0", "paging start")
            add("/sitemap.xml", "xml")
            add("/blob.bin", "binary")
            add("#frag", "fragment only")      # dropped (request.go:62-64)
            add("mailto:root@" + host, "mail") # dropped (non-http scheme)
            if n_tree > 1:
                add("/p/1", "duplicate child") # admission dedup case
            add(f"http://{_host((k + 1) % cfg.n_hosts)}/", "next host")
        else:
            if j % 4 == 1 and n_tree > 2:
                # tabs/newlines inside an href (fixture /tabs_and_newlines)
                add(f"\t/p/{(j % (n_tree - 1)) + 1}\n", "whitespace href")
            if j % 5 == 2:
                add(f"http://{_host((k + 1) % cfg.n_hosts)}/", "cross host")
            if j % 4 == 3:
                add("#top", "fragment only")
            if j % 7 == 4:
                # dangling link → 404 at fetch; stays visited, never retried
                # (mark-at-admission invariant, roddy.go:292-310)
                add(f"/missing/{j}", "dead link")
        # image refs: 1-3 corpus images, pure function of (k, j)
        gidx = int(_cached_layout(cfg)[1][k]) + j
        for t in range(1 + (j % 3)):
            iid = f"img{(gidx * 3 + t) % max(cfg.n_corpus, 1):08d}"
            image_refs.append({"image_id": iid, "src": f"/img/{iid}.png"})
        n_desc = 2 if j % 4 == 0 else 1
    else:
        route = _FIXED_ROUTES[local - n_tree + 1]  # +1: root consumed slot 0
        url = _url(k, route)
        title = f"{host} {route}"
        n_desc = 1
        if route == "100%25":
            pass  # leaf
        elif route == "disallowed" or route == "allowed":
            pass  # leaves; robots decides admission
        elif route == "boom":
            status = 500
        elif route == "redirect":
            status = 301
            add("/redirected/", "target", rel="redirect")
        elif route == "redirected/":
            add("/", "home (already visited)")
        elif route == "base":
            base_href = f"http://{host}/deep/dir/"
            add("leaf", "base-resolved leaf")  # → /deep/dir/leaf
        elif route == "deep/dir/leaf":
            pass
        elif route == "base_relative":
            base_href = "/deep2/"
            add("leaf2", "rel-base leaf")      # → /deep2/leaf2
        elif route == "deep2/leaf2":
            pass
        elif route.startswith("list/"):
            i = int(route.split("/")[1])
            if i + 1 < _PAGING_LEN:
                add(f"/list/{i + 1}", "next page", rel="next")
            if n_tree > 1:
                add(f"/p/{(i % (n_tree - 1)) + 1}", "item")
        elif route == "sitemap.xml":
            ctype = "application/xml"
        elif route == "blob.bin":
            ctype = "application/octet-stream"

    body = ("" if ctype != "text/html" else _render_html(
        title, base_href,
        [f"description {d} of {url}" for d in range(n_desc)],
        links, image_refs))
    return {"url": url, "host": host, "status": status,
            "content_type": ctype, "base_href": base_href, "links": links,
            "image_refs": image_refs, "title": title, "body_html": body}


def _locate(cfg: WebConfig, gid: int) -> tuple[int, int]:
    offs = _cached_layout(cfg)[1]
    k = int(np.searchsorted(offs, gid, side="right")) - 1
    return k, gid - int(offs[k])


def synthweb_pandas(cfg: WebConfig) -> pd.DataFrame:
    """Driver-side full materialization (tests + the Python oracle)."""
    rows = [page_record(cfg, *_locate(cfg, g)) for g in range(cfg.total_pages)]
    return pd.DataFrame(rows)


def synthweb_df(spark: SparkSession, cfg: WebConfig,
                partitions: int | None = None) -> DataFrame:
    parts = partitions or max(1, min(cfg.total_pages // 256 + 1, 64))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([page_record(cfg, *_locate(cfg, int(g)))
                                for g in pdf["id"]])

    return spark.range(0, cfg.total_pages, 1, parts).mapInPandas(
        gen, PAGE_SCHEMA)


def robots_pandas(cfg: WebConfig) -> pd.DataFrame:
    """Per-host robots.txt in the reference fixture's grammar
    (roddy_httptestserver.go:13-18 format: User-agent/Allow/Disallow)."""
    rows = []
    for k in range(cfg.n_hosts):
        if k % 2 == 1:
            txt = ("User-agent: *\nAllow: /allowed\nDisallow: /disallowed\n"
                   "Disallow: /list/\n")
        else:
            txt = "User-agent: *\nDisallow:\n"
        rows.append({"host": _host(k), "robots_txt": txt})
    return pd.DataFrame(rows)


def default_seeds(cfg: WebConfig) -> list[str]:
    """Seed list with pre-canonical variants + duplicates (FIXTURES.md §4)."""
    return [
        f"http://{_host(0)}",      # no trailing slash (util.go:47-59 case)
        f"http://{_host(0)}/",     # duplicate after canonicalization
        f"HTTP://{_host(0).upper()}/",  # case-folding duplicate
    ] + [f"http://{_host(k)}/" for k in range(1, min(cfg.n_hosts, 2))]
