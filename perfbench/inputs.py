"""Seeded input generation, cached on disk inside the checkout.

The synthetic web is a pure function of its ``WebConfig`` (the engine's
``page_record`` does not read ``WebConfig.seed``), so the webs are cached
once per size. The ``--seed`` acts only on inputs this module controls:

* ``crawl_bfs``: which deeper pages seed the crawl beside the host
  roots, and the order and spelling of the seed list;
* ``level_clean``, its frontier level: the spelling and discovery order
  of every candidate and which pages are already visited;
* ``level_clean``, its cleaning stages: the leaf documents, and the text
  and layout of the near-duplicate chains.

Each seed changes the outputs (and their checksums) while keeping the
amount of work the same: every host has more crawl seeds than its
budget, exactly the same share of pages is pre-visited, and the
chain-length multiset is fixed.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes -----------------------------------------------------------------
CRAWL_HOSTS = 4
CRAWL_PAGES = 400          # hosts of 169, 79, 50 and 36 tree pages
CRAWL_DEPTH = 4
CRAWL_BUDGET = 10          # fetches per host per batch
# seeds per host (its root and seeded deeper pages): above the budget, so
# every batch fetches the full budget of every host and defers the rest
CRAWL_SEEDS_PER_HOST = 20
CRAWL_BATCHES = 2          # batch 2 also probes the visited bloom
# paging chains keep their depth and would add tail batches of 1-2 rows
CRAWL_DENY = r"/list/"
CRAWL_DUP_SEEDS = 2        # extra duplicate spellings in the seed list

LEVEL_HOSTS = 64
LEVEL_PAGES = 12000
LEVEL_DEPTH = 2            # depth of every candidate
LEVEL_COPIES = 2           # messy spellings of every page URL
LEVEL_JUNK_SHARE = 0.02    # extra unparseable (mailto:) candidates
LEVEL_VISITED_SHARE = 0.3  # pages already visited before the level

DOCS_N = 1000              # leaf documents table
NEARDUP_N = 1500           # near-duplicate corpus size
NEARDUP_CHAINS = (2, 3, 4, 6, 8) * 8
NEARDUP_WORDS = 68         # 66 word 3-shingles per document
# share of document groups carrying the boilerplate stop-phrase; its
# documents must outnumber the Jaccard frequency cap (1000)
NEARDUP_HOT_SHARE = 0.8
NEARDUP_VOCAB = 5000

_BOILERPLATE = ["cookie", "policy", "accept", "all"]
_DOC_VOCAB = ("the a spark line column order small sort fast value scan hash "
              "slow group agg filter query big key window row part table "
              "stream merge data vector batch customer join").split()
_LANGS = ("en", "de", "fr", "es", "zh")


def _atomic_dir(path: str, build) -> str:
    """Build ``path`` once: ``build(tmp_dir)`` fills a temp dir that is
    renamed into place, so an interrupted run never leaves half a cache."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.replace(tmp, path)
    except OSError:  # another run won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


# -- synthetic webs ----------------------------------------------------------
def web_config(hosts: int, pages: int):
    from roddy_spark.sources.synthweb import WebConfig
    return WebConfig(n_hosts=hosts, n_pages=pages, n_corpus=100)


def web_dir(cache: str, hosts: int, pages: int) -> str:
    """Parquet of the synthetic web's page table, written without Spark."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from roddy_spark.sources.synthweb import PAGE_SCHEMA, synthweb_pandas

    def build(tmp):
        rows = synthweb_pandas(web_config(hosts, pages)).to_dict("records")
        table = pa.Table.from_pylist(rows, to_arrow_schema(PAGE_SCHEMA))
        pq.write_table(table, os.path.join(tmp, "pages.parquet"))

    return _atomic_dir(os.path.join(cache, f"web_{hosts}x{pages}"), build)


def pages_dict(path: str) -> dict:
    """url → page row of a cached web (the oracle's view of the web)."""
    from roddy_spark.oracle import pages_dict_from_pandas
    return pages_dict_from_pandas(
        pq.read_table(os.path.join(path, "pages.parquet")).to_pandas())


# -- crawl_bfs -----------------------------------------------------------------
def crawl_seeds(seed: int, urls: list[str]) -> list[str]:
    """Every host root and ``CRAWL_SEEDS_PER_HOST - 1`` seeded deeper pages
    of each host, in seeded order and spelling, plus duplicate spellings
    of a seeded subset of roots. Every host has more seeds than its
    budget, so each batch fetches the same number of pages for every
    seed; which pages, and their order, differ."""
    import re
    rng = np.random.default_rng(seed)
    deny = re.compile(CRAWL_DENY)
    picked = []
    for k in range(CRAWL_HOSTS):
        root = f"http://h{k}.test/"
        deeper = sorted(u for u in urls if u.startswith(root)
                        and u != root and not deny.search(u))
        picked += [root] + list(rng.choice(deeper, CRAWL_SEEDS_PER_HOST - 1,
                                           replace=False))
    picked += [f"http://h{int(k)}.test/" for k in
               rng.choice(CRAWL_HOSTS, CRAWL_DUP_SEEDS, replace=False)]
    return _messy(rng, [picked[i] for i in rng.permutation(len(picked))])


def crawl_config():
    from roddy_spark.config import CrawlConfig
    # the visited bloom is on from the start: every batch that admits
    # URLs probes it and merges its delta
    return CrawlConfig(max_depth=CRAWL_DEPTH, per_host_budget=CRAWL_BUDGET,
                       disallowed_url_filters=(CRAWL_DENY,),
                       bloom_mode="on")


def crawl_inputs(cache: str, seed: int) -> dict:
    web = web_dir(cache, CRAWL_HOSTS, CRAWL_PAGES)

    def build(tmp):
        from roddy_spark.oracle import crawl_oracle
        pages = pages_dict(web)
        seeds = crawl_seeds(seed, list(pages))
        res = crawl_oracle(pages, seeds, crawl_config(),
                           max_batches=CRAWL_BATCHES)
        _write_json(os.path.join(tmp, "oracle.json"), {
            "seeds": seeds,
            "order": [[u, d, s] for u, d, s, _ in
                      sorted(res.admitted, key=lambda a: a[2])],
            "fetched": len(res.fetches)})

    d = _atomic_dir(os.path.join(
        cache, f"crawl_{CRAWL_HOSTS}x{CRAWL_PAGES}d{CRAWL_DEPTH}b{CRAWL_BUDGET}"
        f"s{CRAWL_SEEDS_PER_HOST}n{CRAWL_BATCHES}_seed{seed}"), build)
    return {"web": web, **read_json(os.path.join(d, "oracle.json"))}


# -- level_clean: the frontier level ---------------------------------------
def level_config():
    from roddy_spark.config import CrawlConfig
    # no budget cut: the politeness window runs, nothing is deferred
    return CrawlConfig(disallowed_url_filters=(r"/missing/",),
                       per_host_budget=1_000_000)


def _messy(rng, urls: list[str]) -> list[str]:
    """A seeded spelling of each URL that canonicalizes back to it:
    upper-case scheme and host, an explicit default port, or a ``/./``
    dot segment after the host."""
    out = []
    for u, form in zip(urls, rng.integers(0, 4, len(urls))):
        host_end = u.index("/", len("http://"))
        head, path = u[:host_end], u[host_end:]
        out.append((u, head.upper() + path, f"{head}:80{path}",
                    f"{head}/.{path}")[int(form)])
    return out


def level_inputs(cache: str, seed: int) -> dict:
    """Candidates ``(raw_url, depth, priority, parent_seq, pos)``: every
    page URL ``LEVEL_COPIES`` times in seeded spellings plus ``mailto:``
    junk, in a seeded discovery order; ``visited.parquet`` holds a seeded
    ``LEVEL_VISITED_SHARE`` of the page URLs. The expected children count
    and checksum come from ``reference.level_children``."""
    from perfbench.reference import level_children, page_terms
    web = web_dir(cache, LEVEL_HOSTS, LEVEL_PAGES)

    def build_terms(tmp):
        _write_json(os.path.join(tmp, "terms.json"),
                    page_terms(pages_dict(web), LEVEL_DEPTH))

    terms = _atomic_dir(os.path.join(
        cache, f"levelterms_{LEVEL_HOSTS}x{LEVEL_PAGES}d{LEVEL_DEPTH}"),
        build_terms)

    def build(tmp):
        rng = np.random.default_rng(seed)
        urls = pq.read_table(os.path.join(web, "pages.parquet"),
                             columns=["url"]).column("url").to_pylist()
        raw = [r for _ in range(LEVEL_COPIES) for r in _messy(rng, urls)]
        raw += [f"mailto:user{i}@h{i % LEVEL_HOSTS}.test"
                for i in range(int(LEVEL_JUNK_SHARE * len(urls)))]
        n = len(raw)
        cands = {"raw_url": raw,
                 "depth": np.full(n, LEVEL_DEPTH, np.int32),
                 "priority": np.ones(n, np.int32),
                 "parent_seq": rng.permutation(n).astype(np.int64),
                 "pos": np.zeros(n, np.int32)}
        visited = sorted(rng.choice(urls, int(LEVEL_VISITED_SHARE
                                              * len(urls)), replace=False))
        pq.write_table(pa.table(cands),
                       os.path.join(tmp, "candidates.parquet"))
        pq.write_table(pa.table({"url": pa.array(visited, pa.string())}),
                       os.path.join(tmp, "visited.parquet"))
        expected = level_children(
            read_json(os.path.join(terms, "terms.json")),
            list(zip(*cands.values())), set(visited), level_config())
        _write_json(os.path.join(tmp, "expected.json"),
                    {"candidates": n, **expected})

    d = _atomic_dir(os.path.join(
        cache, f"level_{LEVEL_HOSTS}x{LEVEL_PAGES}_seed{seed}"), build)
    return {"web": web, "dir": d,
            **read_json(os.path.join(d, "expected.json"))}


# -- level_clean: the cleaning stages ----------------------------------------
def _documents(rng, n: int) -> pa.Table:
    """Leaf input shaped like the contract's ``documents`` table."""
    texts = []
    for i in range(n):
        if i and rng.random() < 0.02:          # exact duplicates
            texts.append(texts[int(rng.integers(i))])
            continue
        k = int(rng.integers(8, 70))
        texts.append(" ".join(rng.choice(_DOC_VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[int(j)] for j in rng.integers(0, 5, n)]),
        "source": pa.array([f"src{int(j)}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _neardup_corpus(rng) -> tuple[pa.Table, dict]:
    """Documents of ``NEARDUP_WORDS`` random words; chain docs differ from
    their predecessor by one word at a fresh position, so chain neighbours
    at distance 1 and 2 have Jaccard >= 0.8 and farther ones < 0.8 —
    connected components must run several rounds to close a chain."""
    vocab = np.array([f"w{i}" for i in range(NEARDUP_VOCAB)])
    chains = list(NEARDUP_CHAINS)
    n_chain_docs = sum(chains)
    if n_chain_docs > NEARDUP_N:
        raise ValueError("chains exceed the corpus size")
    groups: list[list[list[str]]] = []
    # edit positions spaced >= 3 apart, away from the boilerplate prefix
    slots = np.arange(len(_BOILERPLATE) + 2, NEARDUP_WORDS - 1, 3)
    for length in rng.permutation(chains):
        words = list(rng.choice(vocab, NEARDUP_WORDS))
        chain = [words]
        for p in rng.choice(slots, int(length) - 1, replace=False):
            words = list(words)
            words[int(p)] = f"x{len(groups)}_{int(p)}"
            chain.append(words)
        groups.append(chain)
    while sum(map(len, groups)) < NEARDUP_N:
        groups.append([list(rng.choice(vocab, NEARDUP_WORDS))])
    # the boilerplate stop-phrase goes on whole groups, so it never splits
    # a chain; its shingles exceed the Jaccard frequency cap
    hot = np.zeros(len(groups), bool)
    hot[rng.permutation(len(groups))[:int(NEARDUP_HOT_SHARE
                                          * len(groups))]] = True
    docs = [" ".join(_BOILERPLATE + w[len(_BOILERPLATE):] if h else w)
            for chain, h in zip(groups, hot) for w in chain]
    ids = rng.permutation(NEARDUP_N).astype(np.int64)
    expected = {
        "docs": NEARDUP_N,
        "keepers": NEARDUP_N - sum(c - 1 for c in chains),
        "pairs": sum((c - 1) + max(c - 2, 0) for c in chains),
        "hot_docs": sum(len(c) for c, h in zip(groups, hot) if h),
    }
    return pa.table({"doc_id": pa.array(ids),
                     "text": pa.array(docs, pa.string())}), expected


def clean_inputs(cache: str, seed: int) -> dict:
    def build(tmp):
        rng = np.random.default_rng(seed)
        pq.write_table(_documents(rng, DOCS_N),
                       os.path.join(tmp, "documents.parquet"))
        corpus, expected = _neardup_corpus(rng)
        pq.write_table(corpus, os.path.join(tmp, "neardup.parquet"))
        _write_json(os.path.join(tmp, "expected.json"), expected)

    d = _atomic_dir(os.path.join(
        cache, f"clean_{DOCS_N}_{NEARDUP_N}_seed{seed}"), build)
    return {"dir": d, **read_json(os.path.join(d, "expected.json"))}
