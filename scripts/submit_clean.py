#!/usr/bin/env python
"""spark-submit entry point for the TRAINING-DATA CLEANING pipeline (the
pipeline-brief ops end-to-end): raw documents parquet → optional
main-content extraction from HTML (boilerplate removal) → optional C4
line/doc rules + global exact line dedup → optional LM-perplexity filter
against a clean reference corpus → near-dup removal
(MinHash-LSH pairs → connected components → keep-one-per-cluster) →
repetition filter → optional eval-set decontamination → PII scrubbing →
cleaned corpus parquet + one JSON metrics line.

    cd /root/repo && zip -r /tmp/roddy_spark.zip roddy_spark
    spark-submit --py-files /tmp/roddy_spark.zip \\
        scripts/submit_clean.py \\
        --docs /path/to/documents_parquet --out /path/to/clean \\
        [--html-col body_html] [--lm-ref /path/to/wiki_parquet] \\
        [--eval-set /path/to/eval_parquet] [--prefer quality_col]

Input schema: ``doc_id bigint, text string`` (+ any passthrough columns;
with ``--html-col`` the named column holds raw HTML and replaces text
after extraction; ``--prefer`` names a numeric column used to pick each
cluster's survivor, defaulting to min doc_id). Prints ONE JSON line:
{input_docs, boilerplate_removed, c4_removed, line_dedup_emptied,
 lm_removed, near_dup_removed, repetitive_removed, contaminated_removed,
 kept, pii_redactions}.

Every stage is the operator the contract oracles verify
(textdedup/textquality/sampling/functions.text) — this script only
composes them; scale shapes are the operators' own (banded equi-joins,
semi-naive components, zero-shuffle repetition scan, broadcast
decontamination).

Connected components keeps its round state in executor memory by
default. On a cluster, set ``RODDY_SCRATCH_DIR`` in the driver's
environment to shared storage (HDFS/object store) to make that state
durable parquet instead; the run's subdirectory there is deleted when
the components are done.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True,
                   help="input documents parquet (doc_id, text, ...), or "
                        "a directory of WARC archives with --warc")
    p.add_argument("--warc", action="store_true",
                   help="treat --docs as WARC archive(s): HTTP response "
                        "records become docs (doc_id = xxhash64(url), "
                        "HTML payload in body_html; implies --html-col "
                        "body_html unless one is given)")
    p.add_argument("--out", required=True, help="cleaned-corpus output dir")
    p.add_argument("--wet-out", default=None,
                   help="also write the cleaned corpus as gzip WET "
                        "archives (one per partition; url column or "
                        "urn:doc:<id>)")
    p.add_argument("--eval-set", default=None,
                   help="optional eval/benchmark parquet (text column); "
                        "docs sharing an n-gram with it are removed")
    p.add_argument("--prefer", default=None,
                   help="numeric column deciding each cluster's survivor")
    p.add_argument("--html-col", default=None,
                   help="if set, docs carry raw HTML in this column; main "
                        "content is extracted first (boilerplate removal) "
                        "and becomes the text column; docs whose main text "
                        "is empty are dropped")
    p.add_argument("--lm-ref", default=None,
                   help="optional clean-reference parquet (text column); "
                        "docs above --lm-threshold bits of mean token "
                        "surprisal under its unigram LM are removed")
    p.add_argument("--c4", action="store_true",
                   help="apply the C4 line rules (terminal punctuation + "
                        "min words per line) and doc rules (3+ sentences, "
                        "no lorem ipsum / braces) before deduplication")
    p.add_argument("--line-dedup", action="store_true",
                   help="keep only each line's first global occurrence "
                        "(C4/RefinedWeb exact line dedup); docs emptied "
                        "by it are dropped")
    p.add_argument("--span-dedup", type=int, default=0, metavar="K",
                   help="scrub every repeat of a K-token span, keeping "
                        "its first (doc, position) occurrence (bounded "
                        "ExactSubstr dedup); docs emptied by it are "
                        "dropped")
    p.add_argument("--lm-threshold", type=float, default=10.0)
    p.add_argument("--lm-vocab", type=int, default=50000)
    p.add_argument("--minhash-threshold", type=float, default=0.7)
    p.add_argument("--decontaminate-ngram", type=int, default=13)
    p.add_argument("--top-frac", type=float, default=0.20)
    p.add_argument("--dup-frac", type=float, default=0.50)
    return p.parse_args()


def main():
    args = parse_args()
    spark = (SparkSession.builder.appName("roddy-spark-clean")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    from roddy_spark.functions import text as T
    from roddy_spark.operators import textdedup as TD
    from roddy_spark.operators import textquality as TQ

    if args.warc:
        # WARC archives -> one doc per successful HTML response record
        from roddy_spark.sources import warc as WA
        recs = WA.read_warc(spark, args.docs, types=("response",))
        docs = (recs.filter(F.col("error").isNull()
                            & (F.col("http_status") == 200)
                            & F.col("content_type").startswith("text/"))
                .select(F.xxhash64("url").alias("doc_id"),
                        F.col("url"),
                        F.col("payload").cast("string")
                        .alias("body_html")))
        if not args.html_col:
            args.html_col = "body_html"
    else:
        docs = spark.read.parquet(args.docs)
    n_input = docs.count()

    n_current = n_input

    # 0a. optional boilerplate removal: raw HTML -> main content text
    # (one streaming parse per page, bodies cross into Python once)
    n_boilerplate = 0
    if args.html_col:
        from roddy_spark.operators import maintext as MT
        keep_cols = tuple(c for c in docs.columns if c != args.html_col)
        mt = MT.extract_main_text(docs, html_col=args.html_col,
                                  keep=keep_cols)
        docs = (mt.filter(F.col("main_text") != "")
                .withColumnRenamed("main_text", "text")
                .drop("n_blocks", "n_kept"))
        n_after = docs.count()
        n_boilerplate, n_current = n_input - n_after, n_after

    # 0b. optional C4 line/doc rules, then global exact line dedup
    n_c4 = 0
    n_line_emptied = 0
    if args.c4 or args.line_dedup:
        from roddy_spark.operators import lines as LN
        if args.c4:
            c4 = LN.c4_quality_filters(docs)
            good = (c4.filter(F.col("keep_doc") & (F.col("text") != ""))
                    .select("doc_id", "text"))
            docs = docs.drop("text").join(good, "doc_id")
            n_after = docs.count()
            n_c4, n_current = n_current - n_after, n_after
        if args.line_dedup:
            dl = (LN.dedup_lines(docs).filter(F.col("text") != "")
                  .select("doc_id", "text"))
            docs = docs.drop("text").join(dl, "doc_id")
            n_after = docs.count()
            n_line_emptied, n_current = n_current - n_after, n_after

    # 0b2. optional bounded exact-substring (span) dedup
    n_span_emptied = 0
    if args.span_dedup:
        sd = (TD.remove_duplicate_spans(docs, k=args.span_dedup)
              .filter(F.col("text") != "").select("doc_id", "text"))
        docs = docs.drop("text").join(sd, "doc_id")
        n_after = docs.count()
        n_span_emptied, n_current = n_current - n_after, n_after

    # 0c. optional LM perplexity filter against a clean reference corpus
    n_lm = 0
    if args.lm_ref:
        ref = spark.read.parquet(args.lm_ref).select("text")
        xent = TQ.lm_crossentropy(docs, ref, vocab_size=args.lm_vocab,
                                  threshold=args.lm_threshold)
        ok_ids = xent.filter(~F.col("hi_perplexity")).select("doc_id")
        docs = docs.join(ok_ids, "doc_id")
        n_after = docs.count()
        n_lm, n_current = n_current - n_after, n_after

    # 1. near-dup removal: LSH pairs -> components -> keep one per cluster
    pairs = TD.minhash_lsh_pairs(docs, threshold=args.minhash_threshold)
    clusters = TD.canonical_docs(docs, pairs, prefer=args.prefer)
    keep_ids = (clusters.filter(F.col("id") == F.col("keeper_id"))
                .select(F.col("id").alias("doc_id")))
    kept = docs.join(keep_ids, "doc_id")

    # 2. repetition filter (zero-shuffle row-local metrics)
    rep = TQ.repetition_stats(kept, top_frac_threshold=args.top_frac,
                              dup_frac_threshold=args.dup_frac)
    kept = (kept.join(rep.filter(~F.col("repetitive"))
                      .select("doc_id"), "doc_id"))

    # 3. optional decontamination against a broadcast eval set
    n_contaminated = 0
    if args.eval_set:
        ev = spark.read.parquet(args.eval_set).select("text")
        dec = TD.decontaminate(kept, ev, n=args.decontaminate_ngram)
        clean_ids = (dec.filter(~F.col("contaminated"))
                     .select("doc_id"))
        n_before = kept.count()
        kept = kept.join(clean_ids, "doc_id")
        n_contaminated = n_before - kept.count()

    # 4. PII scrub + write; redaction count rides the write as an
    # Observation (no second pass)
    from pyspark.sql import Observation
    obs = Observation()
    scrubbed = kept.withColumn(
        "_pii", (T.pii_email_count("text") + T.pii_ipv4_count("text")
                 + T.pii_phone_count("text")).cast("long")) \
        .withColumn("text", T.scrub_pii("text"))
    scrubbed = scrubbed.observe(
        obs, F.sum("_pii").alias("pii_redactions"),
        F.count(F.lit(1)).alias("kept"))
    scrubbed.drop("_pii").write.mode("overwrite").parquet(args.out)

    if args.wet_out:
        from roddy_spark.sources import warc as WA
        cleaned = spark.read.parquet(args.out)
        u = (F.col("url") if "url" in cleaned.columns
             else F.concat(F.lit("urn:doc:"),
                           F.col("doc_id").cast("string")))
        WA.write_wet(cleaned.select(u.alias("url"), "text"),
                     args.wet_out)

    got = obs.get
    n_kept = int(got["kept"] or 0)
    # stage deltas from the stage counts above (near-dup = input minus
    # survivors of stage 1; repetition = stage-1 survivors minus stage-2)
    n_stage1 = keep_ids.count()
    n_stage2 = (n_kept + n_contaminated) if args.eval_set else n_kept
    print(json.dumps({
        "input_docs": n_input,
        "boilerplate_removed": n_boilerplate,
        "c4_removed": n_c4,
        "line_dedup_emptied": n_line_emptied,
        "span_dedup_emptied": n_span_emptied,
        "lm_removed": n_lm,
        "near_dup_removed": n_current - n_stage1,
        "repetitive_removed": n_stage1 - n_stage2,
        "contaminated_removed": n_contaminated,
        "kept": n_kept,
        "pii_redactions": int(got["pii_redactions"] or 0),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
