"""Resume-from-snapshot, HTML-extraction parity, fetcher parity, and the
image payload pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from roddy_spark.config import CrawlConfig
from roddy_spark.extract import parse_html
from roddy_spark.fetch import fetch_mapinpandas, page_lookup_from_pandas
from roddy_spark.oracle import crawl_oracle, pages_dict_from_pandas
from roddy_spark.plans.crawl import Crawler, extractions
from roddy_spark.sources.synthweb import (WebConfig, robots_pandas,
                                          synthweb_df, synthweb_pandas)

WEB = WebConfig(n_hosts=3, n_pages=120, n_corpus=50)


@pytest.fixture(scope="module")
def web(spark):
    pdf = synthweb_pandas(WEB)
    df = synthweb_df(spark, WEB, partitions=4)
    df.persist().count()
    yield pdf, df
    df.unpersist()


def test_extraction_parity_with_links_column(web, spark):
    """Parsing body_html must reproduce the structured links column — the
    extraction UDF is the real path, the column is the fixture's oracle."""
    pdf, _ = web
    for _, row in pdf.iterrows():
        if row["content_type"] != "text/html":
            continue
        parsed = parse_html(row["body_html"])
        got = [(l["href"], l["pos"], l["rel"]) for l in parsed["links"]]
        exp = [(l["href"], l["pos"], l["rel"]) for l in row["links"]]
        assert got == exp, f"link mismatch on {row['url']}"
        assert parsed["base_href"] == row["base_href"]
        assert parsed["title"] == row["title"]
        got_imgs = [i["src"] for i in parsed["images"]]
        exp_imgs = [r["src"] for r in row["image_refs"]]
        assert got_imgs == exp_imgs
        # p.description count parity (roddy_test.go:140-168 analog)
        assert len(parsed["descriptions"]) >= 1


def test_resume_equals_uninterrupted(spark, web, tmp_path):
    """Kill after batch 1, resume from the snapshot store → identical final
    state to an uninterrupted run (SURVEY.md §5 item 6)."""
    _, pages_df = web
    cfg = CrawlConfig(max_depth=3, per_host_budget=4)
    seeds = ["http://h0.test/"]

    full = Crawler(spark, cfg, pages_df, str(tmp_path / "full")).run(seeds)

    # interrupted run: stop the loop after 1 batch (simulates a kill — the
    # manifest names batch 1 as the last complete snapshot)
    part = Crawler(spark, cfg, pages_df, str(tmp_path / "part"),
                   max_batches=1)
    part.run(seeds)
    m = part.store.manifest()
    assert m["completed_batch"] == 1

    resumed = Crawler(spark, cfg, pages_df, str(tmp_path / "part"))
    state = resumed.run(resume=True)

    got = [(r["url_norm"], r["depth"], r["seq"]) for r in
           state.visited(spark).orderBy("seq").collect()]
    exp = [(r["url_norm"], r["depth"], r["seq"]) for r in
           full.visited(spark).orderBy("seq").collect()]
    assert got == exp
    assert state.success_count == full.success_count


def test_resume_surfaces_corrupt_snapshot(spark, web, tmp_path):
    """A snapshot that exists but cannot be read must fail the resume
    with the read error: ``SnapshotStore.read`` returns None only for a
    snapshot that does not exist, so a corrupt one can never pass for an
    empty frontier."""
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from roddy_spark.plans.crawl import SnapshotStore

    _, pages_df = web
    cfg = CrawlConfig(max_depth=3)
    ckpt = str(tmp_path / "corrupt")
    Crawler(spark, cfg, pages_df, ckpt, max_batches=1).run(
        ["http://h0.test/"])
    snap = os.path.join(ckpt, "candidates", "batch=1")
    for e in os.listdir(snap):
        if e.startswith("part-"):
            with open(os.path.join(snap, e), "wb") as f:
                f.write(b"not a parquet file")
    # the JVM's read error, not a None frontier failing downstream
    with pytest.raises((PySparkException, Py4JJavaError)):
        Crawler(spark, cfg, pages_df, ckpt).run(resume=True)
    assert SnapshotStore(ckpt).manifest()["completed_batch"] == 1


def test_rollback_visited_surfaces_unreadable_file(spark, tmp_path):
    """Bucketed rollback scans the visited table for the files holding
    rows of batches after the completed one; a file the scan cannot read
    raises instead of being skipped (a skipped file could keep an
    uncommitted batch's rows)."""
    import os

    from roddy_spark.plans.crawl import SnapshotStore

    store = SnapshotStore(str(tmp_path / "st"), visited_buckets=4)
    os.makedirs(store._visited_path())
    with open(os.path.join(store._visited_path(),
                           "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="[Pp]arquet"):
        store.rollback_visited(spark, 0)


def test_recorded_read_schema_keeps_older_batches_nulls(spark, tmp_path):
    """``SnapshotStore.read`` hands the last write's schema to the reader.
    A frame whose nested fields claim not-null must not hide the nulls an
    earlier batch (written by another store instance) holds there: the
    read schema is nullable at every depth."""
    from pyspark.sql import functions as F

    from roddy_spark.plans.crawl import SnapshotStore

    root = str(tmp_path / "schema_st")
    base = spark.range(1).select(F.col("id").alias("seq"))
    SnapshotStore(root).write(base.select(
        "seq", F.struct(F.lit(None).cast("int").alias("x")).alias("s"),
        F.create_map(F.lit("k"), F.lit(None).cast("string")).alias("ctx"),
        F.array(F.lit(None).cast("int")).alias("a")), "t", 1)
    store = SnapshotStore(root)
    strict = base.select(
        (F.col("seq") + 1).alias("seq"),
        F.struct(F.lit(1).alias("x")).alias("s"),
        F.create_map(F.lit("k"), F.lit("v")).alias("ctx"),
        F.array(F.lit(2)).alias("a"))
    assert not strict.schema["s"].dataType["x"].nullable
    store.write(strict, "t", 2)
    got = store.read(spark, "t")
    assert got.schema == spark.read.parquet(store.path("t")).drop(
        "batch").schema
    nulls = got.filter(F.col("s.x").isNull() & F.col("ctx")["k"].isNull()
                       & F.col("a")[0].isNull())
    assert [r["seq"] for r in nulls.collect()] == [0]


def test_filename_from_url(spark):
    """U6 golden triples (util_test.go:24-40 analog)."""
    from roddy_spark.functions.urls import filename_from_url
    df = spark.createDataFrame(
        [("http://example.com/a/b",), ("https://x.test:8080/p?q=1",)],
        ["u"])
    got = [r[0] for r in df.select(filename_from_url("u")).collect()]
    assert got == ["http_example.com", "https_x.test"]


def test_fetch_mapinpandas_cookies_proxies(spark, web):
    """K3/S3 config surface: cookies + proxies broadcast into the
    per-partition client without changing fetch results."""
    from roddy_spark.fetch import fetch_mapinpandas, page_lookup_from_pandas
    pdf, _ = web
    lookup = page_lookup_from_pandas(pdf)
    tf = spark.createDataFrame(
        [("http://h0.test/", 1), ("http://h0.test/nope", 1)],
        ["url_norm", "depth"])
    out = fetch_mapinpandas(tf, lookup,
                            cookies={"h0.test": "sid=abc"},
                            proxies=["proxy1:8080", "proxy2:8080"])
    rows = {r["url_norm"]: r["success"] for r in out.collect()}
    assert rows == {"http://h0.test/": True, "http://h0.test/nope": False}


def test_mapinpandas_fetcher_parity(spark, web, tmp_path):
    """The production-shaped mapInPandas fetcher produces the same crawl as
    the declarative join fetcher."""
    pdf, pages_df = web
    lookup = page_lookup_from_pandas(pdf)
    cfg = CrawlConfig(max_depth=2)
    seeds = ["http://h0.test/"]

    def fetcher(to_fetch, pages):
        return fetch_mapinpandas(to_fetch, lookup)

    a = Crawler(spark, cfg, pages_df, str(tmp_path / "join")).run(seeds)
    b = Crawler(spark, cfg, pages_df, str(tmp_path / "mip"),
                fetcher=fetcher).run(seeds)
    va = [(r["url_norm"], r["seq"]) for r in
          a.visited(spark).orderBy("seq").collect()]
    vb = [(r["url_norm"], r["seq"]) for r in
          b.visited(spark).orderBy("seq").collect()]
    assert va == vb


def test_image_payload_pipeline(spark, web, tmp_path):
    """Crawl → extractions → img refs joined to corpus → decode+validate."""
    from roddy_spark.operators.images import (decode_validate,
                                              join_page_images)
    from roddy_spark.sources.corpus import corpus_df

    _, pages_df = web
    corpus = corpus_df(spark, WEB.n_corpus, seed=42, partitions=4)
    corpus.persist().count()
    state = Crawler(spark, CrawlConfig(max_depth=2), pages_df,
                    str(tmp_path / "img")).run(["http://h0.test/"])
    fetched = state.fetches(spark)
    ext = extractions(fetched)
    pi = join_page_images(ext, corpus)
    rows = pi.collect()
    assert rows, "no page-image pairs extracted"
    assert all(r["caption"] is not None for r in rows), "corpus join missed"

    dv = decode_validate(corpus)
    bad = dv.filter(~F.col("dims_ok") | ~F.col("phash_ok")
                    | F.col("decode_error").isNotNull()).collect()
    assert not bad, f"decode/validate failures: {bad[:3]}"
    corpus.unpersist()


def test_phash_near_duplicates(spark):
    """Banded phash join finds planted near-dups without a cross join."""
    import numpy as np

    from roddy_spark.operators.images import phash_near_duplicates
    from roddy_spark.sources import codecs
    from roddy_spark.sources.corpus import gen_pixels

    rows = []
    for i in range(40):
        px = gen_pixels(42, i)
        ph = codecs.phash64(px)
        rows.append((f"img{i:08d}", ph))
        if i < 5:  # plant a near-dup: lossy re-encode (few-bit phash drift)
            px2 = codecs.decode_lossy(codecs.encode_lossy(px))
            rows.append((f"img{i:08d}_dup", codecs.phash64(px2)))
    df = spark.createDataFrame(rows, ["image_id", "phash"])
    got = {(r["a"], r["b"]) for r in
           phash_near_duplicates(df, max_hamming=6).collect()}
    for i in range(5):
        a, b = f"img{i:08d}", f"img{i:08d}_dup"
        assert (a, b) in got or (b, a) in got, f"missed planted dup {i}"


ADVERSARIAL_HTML = [
    '<a href="/p/1">x</a><a href="/p/2" rel="next">y</a>',
    '<!DOCTYPE html><html><head><title>t</title><base href="/deep2/"/>'
    '</head><body><a href="p/3">c</a></body></html>',
    '<a href="/a?x=1&amp;y=2">q</a>',
    '<a href="/a" href="/b">dup attr (fallback, last wins)</a>',
    "<a href='/sq'>single quotes (fallback)</a>",
    '<a href=/unq>unquoted (fallback)</a>',
    '<!-- <a href="/ghost">g</a> --><a href="/real">r</a>',
    '<script>var a = \'<a href="/js">\';</script><a href="/ok">o</a>',
    '<a name="anchor">no href</a><a href="/h">h</a>',
    '<A HREF="/UP" REL="NEXT">uppercase tag</A>',
    '<a\nhref="/nl"\trel="x">whitespace in tag</a>',
    '<a href="">empty href</a>',
    '<a href="/gt>weird">gt in value (fallback)</a>',
    '<base href="/b1"/><base href="/b2"/><a href="x">first base wins</a>',
    '<a href="/&auml;">named entity</a>',
    '<a href="/&#65;">charref</a>',
    '<a rel="next" href="/revorder">attr order</a>',
    '<a data-x="1" href="/data">extra attrs</a>',
    # data-* attrs must not be misread as href/rel (ADVICE r2: \b matched
    # after '-', emitting phantom links / phantom rel=next)
    '<a data-href="http://evil.test/phantom">no real href</a>'
    '<a href="/ok2">k</a>',
    '<a data-rel="next" href="/r">data-rel is not rel</a>',
    '<a href="/x" data-href="/y">href plus data-href</a>',
    '<base data-href="/bad" href="/good"/><a href="x">base data-href</a>',
    # an <a nested in another tag's quoted attribute value is attribute
    # TEXT, not a link — the page must fall back (ADVICE r2)
    '<div title="<a href="http://x.test/">">quoted anchor (fallback)</div>',
    "<div title='<a href=\"http://x.test/p\">'>sq wrap (fallback)</div>",
    '<a href="/a"><a href="/b">nested</a></a>',
    '<p class="description">no anchors</p>',
    None,
    "",
]


def test_extract_links_fast_parity_adversarial():
    """The C-regex fast path must agree with the HTMLParser reference on
    every construct that could fool a regex — fooling cases must FALL BACK,
    not diverge (extract.py fast-path contract)."""
    import pandas as pd

    from roddy_spark.extract import extract_links_fast, parse_html

    s = pd.Series(ADVERSARIAL_HTML, dtype="object")
    base, links = extract_links_fast(s)
    for i, h in enumerate(ADVERSARIAL_HTML):
        r = parse_html(h)
        want_base = r["base_href"] if r else None
        want = [(lk["href"], lk["rel"], lk["pos"])
                for lk in (r["links"] if r else [])]
        sub = links[links["page"] == i]
        got = list(zip(sub["href"], sub["rel"], sub["pos"]))
        assert base[i] == want_base, f"case {i}: base {base[i]!r}"
        assert got == want, f"case {i}: {h!r}: {got} != {want}"


def test_extract_links_fast_parity_synthweb(spark, web):
    """Fast extractor == HTMLParser on every synthetic-web page (the bodies
    the e2e suite crawls, including the torture fixtures)."""
    from roddy_spark.extract import extract_links_fast, parse_html

    _, web_df = web
    pdf = web_df.select("body_html").toPandas()
    base, links = extract_links_fast(pdf["body_html"])
    for i, h in enumerate(pdf["body_html"]):
        r = parse_html(h)
        want = [(lk["href"], lk["rel"], lk["pos"])
                for lk in (r["links"] if r else [])]
        sub = links[links["page"] == i]
        got = list(zip(sub["href"], sub["rel"], sub["pos"]))
        assert got == want and base[i] == (r["base_href"] if r else None), \
            f"page {i} diverged"


@pytest.mark.parametrize("buckets", [0, 8])
def test_resume_after_kill_during_first_batch(spark, web, tmp_path, buckets):
    """A job killed MID-batch-1 (after mark-at-admission wrote visited, before
    the manifest committed) must resume from the durable seed candidates and
    produce the same final state as an uninterrupted run — neither a silent
    empty crawl (seeds never persisted) nor a self-masked one (uncommitted
    visited rows surviving into the resume). Covers both the plain and the
    bucketed visited layouts (SnapshotStore.rollback_visited)."""
    _, pages_df = web
    cfg = CrawlConfig(max_depth=2, visited_buckets=buckets)
    seeds = ["http://h0.test/", "http://h1.test/"]
    ckpt = str(tmp_path / f"kill_b{buckets}")

    from roddy_spark.plans.crawl import SnapshotStore

    def dying_fetcher(to_fetch, pages, **kw):
        raise RuntimeError("killed during batch 1 fetch")

    with pytest.raises(RuntimeError):
        Crawler(spark, cfg, pages_df, ckpt,
                fetcher=dying_fetcher).run(seeds)
    m = SnapshotStore(ckpt).manifest()
    assert m["completed_batch"] == 0 and not m["done"]

    state = Crawler(spark, cfg, pages_df, ckpt).run(resume=True)
    full = Crawler(spark, cfg, pages_df,
                   str(tmp_path / f"full_b{buckets}")).run(seeds)
    got = [(r["url_norm"], r["depth"], r["seq"]) for r in
           state.visited(spark).orderBy("seq").collect()]
    exp = [(r["url_norm"], r["depth"], r["seq"]) for r in
           full.visited(spark).orderBy("seq").collect()]
    assert got == exp and got, "resume after mid-batch kill diverged"
    assert state.success_count == full.success_count


@pytest.mark.parametrize("buckets", [0, 8])
def test_resume_on_uri_root(spark, web, tmp_path, monkeypatch, buckets):
    """A ``file://`` URI root behaves like the plain path it names: a run
    cut after batch 1 and resumed gives the same (url, depth, seq), counts
    and successes as an uninterrupted plain-path run, and nothing of the
    store lands under the working directory (every store path goes
    through Hadoop FileSystem, as Spark's own writes do)."""
    import os

    _, pages_df = web
    monkeypatch.chdir(tmp_path)
    cfg = CrawlConfig(max_depth=3, per_host_budget=4,
                      visited_buckets=buckets)
    seeds = ["http://h0.test/"]
    full = Crawler(spark, cfg, pages_df, str(tmp_path / "plain")).run(seeds)
    uri = (tmp_path / "uri").as_uri()
    assert uri.startswith("file:///")
    Crawler(spark, cfg, pages_df, uri, max_batches=1).run(seeds)
    state = Crawler(spark, cfg, pages_df, uri).run(resume=True)

    def triples(st):
        return [(r["url_norm"], r["depth"], r["seq"]) for r in
                st.visited(spark).orderBy("seq").collect()]

    assert triples(state) == triples(full) and triples(full)
    assert state.admitted_count == full.admitted_count
    assert state.success_count == full.success_count
    assert not [e for e in os.listdir(tmp_path) if e.startswith("file:")]


def test_cookie_writeback_lifecycle(spark, web, tmp_path):
    """K3 write-back (storage/storage.go:92-131): set-cookie responses
    update the per-host jar after each batch; later batches fetch WITH the
    jar; the jar persists per snapshot so a resumed crawl sees the cookies
    an uninterrupted one would."""
    from roddy_spark.fetch import fetch_join

    _, pages_df = web
    # pages answer with a set-cookie on each host's root
    pages_ck = pages_df.withColumn(
        "set_cookie",
        F.when(F.col("url").rlike(r"^http://h[0-9]+\.test/$"),
               F.concat(F.lit("sid="), F.col("host"))))
    seen_jars = []

    def fetcher(to_fetch, pages, frontier_rows=None, cookies=None):
        seen_jars.append(dict(cookies or {}))
        return fetch_join(to_fetch, pages, frontier_rows=frontier_rows)

    cfg = CrawlConfig(max_depth=2)
    ckpt = str(tmp_path / "jar")
    crawler = Crawler(spark, cfg, pages_ck, ckpt, fetcher=fetcher)
    crawler.run(["http://h0.test/", "http://h1.test/"])

    # batch 1 fetches the roots with an empty jar; batch 2 onward carries
    # the cookies batch 1's responses set
    assert seen_jars[0] == {}
    assert seen_jars[1] == {"h0.test": "sid=h0.test",
                            "h1.test": "sid=h1.test"}
    # later batches may reach further hosts whose roots also set cookies
    assert seen_jars[1].items() <= crawler.cookies.items()
    assert all(v == f"sid={h}" for h, v in crawler.cookies.items())

    # resume restores the persisted jar into a FRESH crawler
    resumed = Crawler(spark, cfg, pages_ck, ckpt, fetcher=fetcher)
    resumed.run(resume=True)
    assert resumed.cookies == crawler.cookies

    # a killed run's ORPHANED jar snapshot (batch > completed, manifest
    # never committed) must be rolled back on resume, not resurrected by
    # read_latest on this or any later resume (code-review r6)
    import os

    from roddy_spark.plans.crawl import SnapshotStore
    store = SnapshotStore(ckpt)
    completed = store.manifest()["completed_batch"]
    orphan = store.path("cookies", completed + 1)
    os.makedirs(orphan, exist_ok=True)
    spark.createDataFrame([("evil.test", "sid=stale")],
                          "host string, cookie string"
                          ).write.mode("overwrite").parquet(orphan)
    resumed2 = Crawler(spark, cfg, pages_ck, ckpt, fetcher=fetcher)
    resumed2.run(resume=True)
    assert "evil.test" not in resumed2.cookies
    assert resumed2.cookies == crawler.cookies
    assert not os.path.isdir(orphan)


def test_authenticated_crawl_via_cookie_gate(spark, web, tmp_path):
    """The reference's login-flow OUTCOME (examples/login, S9's data
    semantics): a /login response sets the session cookie; a cookie-aware
    fetcher 403s gated pages without it; because the jar updates between
    batches, the gated pages succeed from batch 2 on."""
    from roddy_spark.fetch import fetch_join

    _, pages_df = web
    gated = spark.createDataFrame(
        [("http://h0.test/login", "h0.test", 200, "text/html", None,
          '<html><body><a href="/private/1">p</a></body></html>',
          "session=ok"),
         ("http://h0.test/private/1", "h0.test", 200, "text/html", None,
          "<html><body>secret</body></html>", None)],
        "url string, host string, status int, content_type string, "
        "base_href string, body_html string, set_cookie string")
    pages_ck = (pages_df.withColumn("set_cookie",
                                    F.lit(None).cast("string"))
                .select(*gated.columns).unionByName(gated))

    def session_fetcher(to_fetch, pages, frontier_rows=None, cookies=None):
        out = fetch_join(to_fetch, pages, frontier_rows=frontier_rows)
        if (cookies or {}).get("h0.test") != "session=ok":
            out = (out.withColumn(
                "status", F.when(F.col("url_norm").rlike("/private/"),
                                 F.lit(403)).otherwise(F.col("status")))
                   .withColumn("success", F.col("status") < 400))
        return out

    state = Crawler(spark, CrawlConfig(max_depth=2), pages_ck,
                    str(tmp_path / "login"),
                    fetcher=session_fetcher).run(["http://h0.test/login"])
    got = {r["url_norm"]: r["status"]
           for r in state.fetches(spark).collect()}
    assert got["http://h0.test/login"] == 200
    assert got["http://h0.test/private/1"] == 200, \
        "session cookie must unlock the gated page in batch 2"

    # control: without cookie write-back the gate holds (fetcher sees no jar)
    state2 = Crawler(spark, CrawlConfig(max_depth=2),
                     pages_ck.drop("set_cookie"),
                     str(tmp_path / "nologin"),
                     fetcher=session_fetcher).run(["http://h0.test/login"])
    got2 = {r["url_norm"]: r["status"]
            for r in state2.fetches(spark).collect()}
    assert got2["http://h0.test/private/1"] == 403


def test_visited_bucket_spec_reconciliation(spark, tmp_path):
    """Deterministic per-root catalog naming must not silently reuse a
    stale entry with a DIFFERENT bucket spec (review finding r3): over
    live data a bucket change raises (mis-bucketed storage-partitioned
    joins otherwise); over a wiped location the entry is dropped and
    recreated with the new spec."""
    import shutil

    from pyspark.sql import functions as F

    from roddy_spark.plans.crawl import SnapshotStore

    root = str(tmp_path / "spec_store")
    row = spark.createDataFrame(
        [("http://h0.test/", 1, "h0.test", 1, 1, 0, None, 1)],
        "url_norm string, url_hash long, host string, depth int, "
        "priority int, seq long, ctx map<string,string>, batch int")
    s8 = SnapshotStore(root, visited_buckets=8)
    s8.write_visited(row, 1)
    assert s8.read_visited(spark).count() == 1

    s16 = SnapshotStore(root, visited_buckets=16)
    with pytest.raises(ValueError, match="bucket"):
        s16.read_visited(spark)

    # wiped location → drop + recreate under the new spec
    shutil.rmtree(root)
    s16b = SnapshotStore(root, visited_buckets=16)
    s16b.write_visited(row.withColumn("batch", F.lit(1)), 1)
    assert s16b.read_visited(spark).count() == 1
    assert s16b._bucket_spec_of(spark) == 16


def test_export_visited_csv_json_roundtrip(spark, web, tmp_path):
    """K4/K5 sinks (reference examples' CSV/JSON outcome): exported files
    must round-trip the visited rows — values, ordering key, and (for
    JSON) the ctx map — not just write without error."""
    _, pages_df = web
    state = Crawler(spark, CrawlConfig(max_depth=2), pages_df,
                    str(tmp_path / "exp")).run(
        [("http://h0.test/", {"job": "x"})])
    want = sorted((r["url_norm"], r["depth"], r["seq"]) for r in
                  state.visited(spark).collect())
    assert want

    csv_path = str(tmp_path / "out_csv")
    state.export_visited(spark, csv_path, fmt="csv")
    back = spark.read.option("header", "true").csv(csv_path)
    got = sorted((r["url_norm"], int(r["depth"]), int(r["seq"]))
                 for r in back.collect())
    assert got == want

    json_path = str(tmp_path / "out_json")
    state.export_visited(spark, json_path, fmt="json")
    jback = spark.read.json(json_path)
    jgot = sorted((r["url_norm"], int(r["depth"]), int(r["seq"]))
                  for r in jback.collect())
    assert jgot == want
    # ctx survives the JSON sink
    assert all(dict(r["ctx"].asDict() if hasattr(r["ctx"], "asDict")
                    else r["ctx"]) == {"job": "x"}
               for r in jback.collect())


def test_resume_runs_no_count_jobs(spark, web, tmp_path, monkeypatch):
    """VERDICT r4 item 4: the manifest carries the completed batch's
    write-time Observation values (next_candidates / pending_n /
    pending_bytes), so a resume — and the whole continued loop — launches
    ZERO DataFrame.count() actions. Pinned by making count() raise."""
    from pyspark.sql import DataFrame

    _, pages_df = web
    cfg = CrawlConfig(max_depth=3, per_host_budget=4)
    seeds = ["http://h0.test/"]

    full = Crawler(spark, cfg, pages_df, str(tmp_path / "njfull")).run(seeds)
    part = Crawler(spark, cfg, pages_df, str(tmp_path / "njpart"),
                   max_batches=1)
    part.run(seeds)
    m = part.store.manifest()
    assert {"next_candidates", "pending_n", "pending_bytes"} <= set(m), \
        "manifest must carry the frontier-state observations"

    def no_count(self):
        raise AssertionError("resume path must not run count() jobs")

    monkeypatch.setattr(DataFrame, "count", no_count)
    state = Crawler(spark, cfg, pages_df,
                    str(tmp_path / "njpart")).run(resume=True)
    monkeypatch.undo()
    got = [(r["url_norm"], r["seq"]) for r in
           state.visited(spark).orderBy("seq").collect()]
    exp = [(r["url_norm"], r["seq"]) for r in
           full.visited(spark).orderBy("seq").collect()]
    assert got == exp


@pytest.mark.parametrize("buckets", [0, 4])
def test_visited_columns_same_for_both_layouts(spark, web, tmp_path,
                                               buckets):
    """``CrawlState.visited`` has the columns of ``_empty_visited`` (no
    ``batch``) whether the visited table is plain or bucketed, so the CSV
    export has the same header for both."""
    from roddy_spark.plans.crawl import _empty_visited

    _, pages_df = web
    state = Crawler(spark, CrawlConfig(max_depth=1, visited_buckets=buckets),
                    pages_df, str(tmp_path / "cols")).run(["http://h0.test/"])
    assert state.visited(spark).columns == _empty_visited(spark).columns
    csv_path = str(tmp_path / "cols_csv")
    state.export_visited(spark, csv_path, fmt="csv")
    header = spark.read.option("header", "true").csv(csv_path).columns
    assert header == ["url_norm", "url_hash", "host", "depth", "priority",
                      "seq"]
