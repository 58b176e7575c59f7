"""References the workloads check their outputs against.

* ``same_result``: a Spark leaf result against its DuckDB twin, mirroring
  ``tests/test_contract.py``: columns sorted by name, floats rounded to 6
  places, rows compared as sorted multisets.
* ``page_terms`` / ``level_children``: a Python replay of one frontier
  level built from the engine's scalar ``urlkernel`` functions and the
  synthetic web's own link lists (so the engine's HTML extraction is
  checked, not reused).
"""

from __future__ import annotations

import math
import re


CHECKSUM_BITS = 0xFFFFF   # low 20 bits: the weighted sum stays in a long


def child_term(url: str, depth: int, priority: int, pos: int) -> int:
    """Low 20 bits of ``xxhash64("url|depth|priority|pos")``. The level
    checksum is the sum over children of this term times
    ``parent_seq + 1``; Spark computes the same with its ``xxhash64``."""
    from roddy_spark.functions.urlkernel import xxhash64
    return xxhash64(f"{url}|{depth}|{priority}|{pos}") & CHECKSUM_BITS


def page_terms(pages: dict, depth: int) -> dict:
    """Per page URL: ``[url_hash, children, term sum]`` of the children
    ``expand`` must emit when the page is fetched at ``depth`` (0 children
    for pages that are not expanded). Independent of the seed."""
    from roddy_spark.functions.urlkernel import resolve_url, url_hash
    from roddy_spark.plans.crawl import PRIORITY_CHILD, PRIORITY_PAGING
    out = {}
    for url, page in pages.items():
        n, total = 0, 0
        if page["status"] < 400 and (page["content_type"] == "text/html"
                                     or 300 <= page["status"] < 400):
            base = url
            if page.get("base_href"):
                base = resolve_url(url, page["base_href"]) or url
            for link in page["links"]:
                child = resolve_url(base, link["href"])
                if child is None:
                    continue
                nxt = link.get("rel") == "next"
                n += 1
                total += child_term(
                    child, depth if nxt else depth + 1,
                    PRIORITY_PAGING if nxt else PRIORITY_CHILD,
                    int(link["pos"]))
        out[url] = [url_hash(url), n, total]
    return out


def level_children(terms: dict, candidates, visited: set, config) -> dict:
    """Replay canonicalize → admit (no bloom) → politeness (no cut) →
    fetch → expand over ``candidates`` rows ``(raw_url, depth, priority,
    parent_seq, pos)`` (all at the depth ``terms`` was built for). Returns
    the admitted and children counts and the children checksum."""
    from roddy_spark.functions.urlkernel import canonicalize_url, url_hash
    deny = [re.compile(p) for p in config.disallowed_url_filters]
    seen = {terms[u][0] if u in terms else url_hash(u) for u in visited}
    first: dict[int, tuple] = {}
    for raw, depth, prio, parent_seq, pos in candidates:
        url = canonicalize_url(raw)
        if url is None or any(r.search(url) for r in deny) or (
                config.max_depth and depth > config.max_depth):
            continue
        h = terms[url][0] if url in terms else url_hash(url)
        key = (int(prio), int(parent_seq), int(pos))
        if h not in seen and (h not in first or key < first[h][0]):
            first[h] = (key, url)
    admitted = sorted(first.values())
    n_children, checksum = 0, 0
    for seq, (_key, url) in enumerate(admitted):
        _h, n, total = terms.get(url, (0, 0, 0))   # unknown URL: a 404
        n_children += n
        checksum += total * (seq + 1)
    return {"admitted": len(admitted), "children": n_children,
            "checksum": checksum}


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def same_result(scols, srows, dcols, drows) -> str | None:
    """None when the Spark and DuckDB results match, else the reason."""
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"row count {len(srows)} vs {len(drows)}"
    a, b = _rowset(scols, srows), _rowset(dcols, drows)
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return f"{bad} value mismatches" if bad else None
