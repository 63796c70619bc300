#!/usr/bin/env python
"""Benchmark harness for pdf_extract_spark.

Default mode runs the headline query suite at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line::

    {"metric": "headline suite wall time", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Each query is forced end-to-end with the ``noop`` sink (full computation,
no driver collect, no disk write skew).

Flagship throughput, N -> 4N scaling and lake durability are measured by
``perfbench/run.py`` (``BENCHMARK.json``), not here.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# The headline queries: one per major operator family (SURVEY.md §2) plus
# the flagship extraction and the training-data ops.
HEADLINE = [
    "extract_spans_flagship",   # the core engine: salted range-partitioned Arrow extraction
    "pricing_summary",          # A1 hash agg, decimal-exact
    "mode_quantity",            # A3 per-group mode
    "join_orders_customers",    # J1 broadcast equi join
    "full_outer_nation_counts", # J4
    "asof_last_signup",         # J9 as-of via window
    "run_length_events",        # W4 run-length grouping
    "sectionize_events",        # W5 running-marker sections
    "topk_orders",              # W7
    "dedup_exact",              # exact dedup
    "dedup_minhash_lsh",        # MinHash+LSH near-dup (scale path)
    "dedup_cross_corpus",       # incremental-ingest dedup (batch vs lake)
    "dedup_simhash",            # SimHash
    "token_count",              # text analysis
    "quality_score",            # text analysis
    "lang_id",                  # text analysis
    "cosine_topk",              # similarity brute force
    "ann_lsh_topk",             # similarity scale path
    "ann_lsh_multitable",       # multi-table LSH (recall-recovering scale path)
    "ann_ivf_fixed_topk",       # IVF probe/rank path (value-exact vs DuckDB)
    "decontaminate",            # benchmark n-gram decontamination (broadcast eval grams)
    "curate_corpus",            # composed pipeline: dedup->components->sample->pack
    "align_export_full_outer",  # J4 export join (value-exact vs DuckDB)
    "pdf_bytes_extract",        # byte path: xref walk + content-stream parse
    "html_extract",             # HTML path: DOM boilerplate strip + extraction
    "align_pairs",              # Hungarian/greedy alignment kernel
    "pair_metadata",            # counter-algebra pair metadata
    "monotonic_prune",          # W6 running-max window filter
    "punct_stats",              # C12 regexp_extract_all
    "remove_numbering",         # C7 first-match-only numbering chain
    "media_features",           # multimodal byte features
    "table_detect",             # grid-aligned table source_type classification
    "link_domains",             # JVM-regex href harvest + per-domain counts
    "url_dedup_hosts",          # URL canonicalization + keep-first dedup
    "domain_cap_kept",          # salted two-phase per-domain cap (r5: recorded number)
    "web_curate",               # composed URL leg: dedup_url -> domain_cap -> gate
    "line_dedup",               # corpus-level duplicated-line removal (RefinedWeb step)
    "curate_corpus_full",       # FULL chain: line dedup -> pii scrub -> capped curation
    "ngram_topk",               # corpus boilerplate miner (heap top-k, no window)
    "temperature_sample",       # corpus-derived multilingual mixing (XLM-R rule)
    "host_pagerank",            # fixed-point integer link-graph centrality (iterative)
    "quality_buckets",          # CCNet-style LM-surprisal quartile buckets (2-pass train/score)
    "url_blocklist",            # UT1-style domain blocklist (suffix hash join, anti-join back)
    "upsample_mix",             # Dolma-style weighted upsampling (map-only epoch explode)
    "chunk_documents",          # fixed-token-window chunking with stride (map-only)
    "corpus_diff",              # snapshot diff between ingests (fingerprint full outer join)
    "substring_overlap",        # winnowing passage-overlap pairs (fp self-join, ReusedExchange)
    "c4_clean",                 # C4 line/page cleaning rules (map-only, zero Exchange)
    "tfidf_topk",               # integer-exact tf-idf keywords (term-keyed shuffle join)
    "gopher_repetition",        # full Gopher repetition battery (map-only sorted-run folds)
    "decontaminate_fuzzy",      # MinHash-Jaccard benchmark decontamination (graded sibling)
    "canonical_dedup",          # dedup by declared rel=canonical target (keeper min-agg)
    "vocab_coverage",           # tokenizer-vocab OOV audit (broadcast top-V vocabulary)
    "minhash_accuracy",         # sketch-vs-exact Jaccard audit over LSH candidates
    "script_profile",           # Unicode-script composition profile (map-only)
    "gopher_gate",              # published Gopher thresholds over the battery (map-only)
    "semantic_dedup",           # SemDeDup: cell-bounded embedding near-dup (scale path)
    "bm25_topk",                # Okapi BM25 retrieval (integer-exact, heap top-k)
    "split_assign",             # hash-based train/val/test assignment (map-only)
    "exact_substrings",         # Lee-et-al. exact-substring spans (gram join + islands)
    "dsir_weights",             # DSIR importance weights (bounded bits-table broadcast)
    "token_budget",             # exact token-budget selection (bounded score histogram)
    "shard_manifest",           # content-addressed shard checksums (one hash aggregate)
    "dup_gram_profile",         # memorization-risk audit (gram-keyed df join)
    "linear_classify",          # fastText-style classifier inference (broadcast weights)
    "domain_boilerplate",       # intra-domain chrome strip (per-site doc frequency)
    "bpe_pair_counts",          # BPE merge-decision pair counts (vocab-bounded)
    "gram_novelty",             # ingestion-order marginal-utility audit (gram-keyed owner join)
    "bigram_surprisal",         # stupid-backoff bigram LM scoring (key-shuffled LM tables)
    "rank_correlation",         # Spearman signal-agreement audit (bounded value histograms)
    "token_drift",              # snapshot TV-distance drift monitor (vocab-keyed full outer)
    "filter_kappa",             # gate-agreement Cohen's kappa (map-only five-counter fold)
    "lsh_tuning",               # (bands, rows) S-curve planner over the measured Jaccard histogram
    "eval_contamination",       # per-eval-doc contamination report (broadcast eval grams)
    "minhash_merge",            # incremental sketch maintenance (elementwise-min fold, one aggregate)
    "dup_substring_removal",    # Lee et al. exact-substring REMOVAL (interval-merged cuts, cased rebuild)
    "shuffle_shards",           # deterministic training-order shuffle (one shuffle, reused exchange)
    "bloom_ingest",             # incremental-ingest Bloom prefilter (bounded bit-set broadcast)
    "site_quality",             # per-host quality gate (map-side-combinable mean aggregate)
    "encoding_audit",           # mojibake/control/U+FFFD audit (map-only, zero Exchange)
    "compaction_plan",          # small-file binpack planning (per-partition cumsum window)
    "robots_gate",              # RFC 9309 fetch-permission gate (host-keyed metadata join)
    "pmi_collocations",         # PMI phrase induction (integer-milli lift, heap top-N)
    "skew_stats",               # key-skew diagnostic (exact Gini over count-of-counts)
    "robots_directives",        # crawl-delay/sitemap extraction (shared robots parse)
    "lang_segments",            # mixed-language doc segmentation (per-doc windows only)
    "frontier_schedule",        # composed crawl leg: gate + delay + per-host slots
    "skew_top_keys",            # hot-key listing for targeted salting (heap top-N)
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> int:
    """Force full evaluation without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_suite(sf_dir: str, cpus: str) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    from pdf_extract_spark.queries import QUERIES
    from pdf_extract_spark.session import build_spark

    spark = build_spark(app_name=f"bench_local[{cpus}]")
    # warm the JVM + scan path AND the Python/Arrow workers (a pure-
    # Catalyst query alone leaves the pyspark daemon fork inside the
    # first timed Arrow query — which is the flagship, the BASELINE
    # metric) so per-query times measure the queries, not process spin-up
    _force(QUERIES["status_counts"](spark, sf_dir))
    from pdf_extract_spark import generator
    from pdf_extract_spark.pipeline import run_extraction
    from pdf_extract_spark.schemas import DOCUMENTS

    warm = spark.createDataFrame(generator.make_corpus(64, seed=1), schema=DOCUMENTS)
    _force(run_extraction(warm, num_partitions=8))

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
    total = round(sum(timings.values()), 3)

    # documents/sec for the flagship (the BASELINE.json metric)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    dps = round(n_docs / timings["extract_spans_flagship"], 2)

    return {
        "metric": "headline suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "cpus": int(cpus),
        "flagship_docs_per_sec": dps,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()
    print(json.dumps(run_suite(args.sf_dir, args.cpus)))


if __name__ == "__main__":
    main()
