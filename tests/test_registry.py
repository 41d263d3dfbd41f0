"""The driver-facing registry of `__spark_entry__` in tier-1.

Every `queries()` entry is built once at sf0.01 on the shared session and
executed once (`toPandas()`); that one execution is checked two ways:

- **oracle**: when `oracle_sql()` has the entry, DuckDB runs it over the
  same parquet tables, and the sorted column names, the row count and an
  order-insensitive value hash must match;
- **plan**: the formatted physical plan of the executed DataFrame (so
  AQE's final plan) holds no `CartesianProduct` and no row-at-a-time
  `BatchEvalPython`, and matches the entry's `PLAN_SPECS` expect/forbid
  patterns where it has a spec.

Plus the `entry()` smoke, the plan of one non-registry operator and
static checks of the entry module (no duplicate top-level def, oracle
coverage, every spec names an entry). One entry alone:

    pytest tests/test_registry.py -k <entry>
"""

from __future__ import annotations

import ast
import collections
import contextlib
import hashlib
import io
import os
import re

import duckdb
import pytest

import __spark_entry__ as em

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

QUERIES = em.queries()
ORACLES = em.oracle_sql()
#: kernel-only entries without an oracle_sql(): checked for rows, no hash
ROWS_ONLY = {"kring_cells", "polyfill_region_cells", "cell_overlap_region",
             "h3_index_documents", "pages_index_pipeline",
             "h3_hotspot_cells"}
#: entries that replay cell_to_parent in the JVM next to the numpy kernel
#: and sum the disagreements into n_parent_impl_mismatch
PARENT_IMPL_GATED = ("h3_index_documents", "pages_index_pipeline")
#: operators no registry plan may hold. BroadcastNestedLoopJoin is not
#: among them: it is the one-row scalar-broadcast idiom in many entries,
#: and a spec forbids it where it would be a real nested loop.
BANNED = ("CartesianProduct", "BatchEvalPython")

# entry name -> what its executed physical plan must / must not match
PLAN_SPECS = {
    "radius_reference": {
        "expect": ["PushedFilters", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
        "note": "great-circle radius predicate is pure JVM trig; bbox "
                "prefilter pushed to the parquet scan",
    },
    "bbox_filter": {
        "expect": ["PushedFilters", "codegen id"],
        "forbid": ["ArrowEvalPython", "MapInPandas"],
        "note": "P5 range predicates -> parquet row-group min/max skipping",
    },
    "grid_cell_agg": {
        "expect": ["HashAggregate", "codegen id"],
        "forbid": ["ArrowEvalPython"],
        "note": "A4 per-cell agg: partial (map-side) + final hash "
                "aggregate, no Python",
    },
    "correlator_null_filters": {
        "expect": ["BroadcastHashJoin"],
        "forbid": [],
        "note": "J1 correlator join broadcasts the small side; NULL-pass "
                "filters stay JVM",
    },
    "broadcast_join_topn": {
        "expect": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin"],
        "note": "small dim broadcast, no shuffle of the big side",
    },
    "idw_knn": {
        "expect": ["codegen id", "Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython"],
        "note": "J5 kNN-IDW: per-batch top-k in one Arrow pass over "
                "the points, broadcast-joined to the grid on the row "
                "index, then the window top-k; never a cross join",
    },
    "region_semi_join": {
        "expect": ["LeftSemi|INSET"],
        "forbid": ["CartesianProduct"],
        "note": "J2 polyfill cell set -> broadcast left-semi join; with a "
                "small literal cell set Catalyst collapses it further to an "
                "INSET predicate pushed into the scan (either is optimal; "
                "the reference chunks 20k-id IN-lists instead)",
    },
    "exact_dedup": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython"],
        "note": "exact dedup is a pure hash aggregate",
    },
    "time_filter_events": {
        "expect": ["PushedFilters"],
        "forbid": [],
        "note": "P2 time-key filters pushed to scan",
    },
    "allpairs_cosine_pairs": {
        "expect": ["HashAggregate", "Window",
                   "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
        "note": "WWW'07 prefix-filtered exact all-pairs: the postings "
                "self-join is an EQUI-join on the PRUNED prefix relation "
                "(AQE broadcasts it at oracle scale; shuffled hash/SMJ "
                "at corpus scale — both fine, cross join never); "
                "doc-partitioned row_number window, no global sort; "
                "verification re-derives term sets map-side and "
                "intersects JVM-side — never a cross join, no Python",
    },
    "containment_pairs": {
        "expect": ["HashAggregate", "Window",
                   "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
        "note": "directed containment join: A-side prefix postings "
                "equi-join B-side full postings with per-pair rank "
                "bound — never a cross join, no Python",
    },
    "minhash_lsh_pairs": {
        "expect": ["HashAggregate",
                   r"hashpartitioning\(id_a[^)]*id_b[^)]*est_jaccard"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   r"hashpartitioning\([^)]*sig_"],
        "note": "MinHash LSH dedup: band-bucket equi-join candidates, "
                "never an all-pairs product; the pair-dedup exchange "
                "carries (id_a, id_b, est_jaccard) — the full signatures "
                "never ride the distinct shuffle",
    },
    "simhash_pairs": {
        # gl/gr in the join keys = the salted triangle decomposition is
        # actually in the plan (bounded in-bucket task size)
        "expect": ["HashAggregate",
                   r"(?i)keys \[4\]: \[band[^\]]*gl[^\]]*gr"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   r"hashpartitioning\([^)]*sh_"],
        "note": "simhash banded dedup: pigeonhole band join with salted "
                "triangle in-bucket decomposition (join keys band,bh,gl,"
                "gr), hamming verify before the narrow (id_a, id_b, "
                "hamming) distinct",
    },
    "idw_knn_highlat": {
        "expect": ["codegen id", "Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython"],
        "note": "J5 adversarial high-latitude gate: the latitude-banded "
                "bucket grid must keep the same Arrow pass + window "
                "shape as the equatorial case — no cross-join fallback",
    },
    "pii_redaction_stats": {
        "expect": ["HashAggregate", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "PII scrub: regexp_replace projection + rollup entirely "
                "inside whole-stage codegen — a 100 TB scrub pass never "
                "leaves the JVM",
    },
    "repetition_ratio": {
        "expect": ["Generate", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
        "note": "intra-doc repetition: JVM shingling (transform/slice) + "
                "explode (Generate) + two-level agg; widest shuffle key "
                "is (doc_id, shingle)",
    },
    "bpe_token_counts": {
        "expect": ["HashAggregate", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
        "note": "BPE-ish pre-tokenizer counting: regexp_extract_all + "
                "array aggregate stay in codegen; per-lang rollup is "
                "partial+final",
    },
    "image_decode_stats": {
        # Python here is DELIBERATE (binary codec) — assert it is the
        # Arrow-batched mapInPandas path, never row-at-a-time Python
        "expect": ["MapInPandas|ArrowEvalPython", "HashAggregate"],
        "forbid": ["BatchEvalPython", "CartesianProduct"],
        "note": "real Netpbm decode: Arrow-batched mapInPandas over "
                "binary payloads feeding a JVM aggregate; the slow "
                "row-at-a-time BatchEvalPython path must not appear",
    },
    "gif_decode_stats": {
        # Python here is DELIBERATE (binary codec) — assert the Arrow
        # batch path, never row-at-a-time Python
        "expect": ["MapInPandas|ArrowEvalPython", "HashAggregate"],
        "forbid": ["BatchEvalPython", "CartesianProduct"],
        "note": "real GIF/LZW decode: Arrow-batched mapInPandas over "
                "binary payloads feeding a JVM aggregate; the slow "
                "row-at-a-time BatchEvalPython path must not appear",
    },
    "audio_decode_stats": {
        # Python here is DELIBERATE (binary codec) — assert the Arrow
        # batch path, never row-at-a-time Python
        "expect": ["MapInPandas|ArrowEvalPython", "HashAggregate"],
        "forbid": ["BatchEvalPython", "CartesianProduct"],
        "note": "real WAV/PCM16 decode: Arrow-batched mapInPandas over "
                "binary payloads feeding a JVM aggregate; the slow "
                "row-at-a-time BatchEvalPython path must not appear",
    },
    "jpeg_progressive_stats": {
        # Python here is DELIBERATE (binary codec) — assert the Arrow
        # batch path, never row-at-a-time Python
        "expect": ["MapInPandas|ArrowEvalPython", "HashAggregate"],
        "forbid": ["BatchEvalPython", "CartesianProduct"],
        "note": "progressive JPEG decode (T.81 Annex G): Arrow-batched "
                "mapInPandas over binary payloads feeding a JVM "
                "aggregate; decode grain is inherently per-payload",
    },
    "flac_decode_stats": {
        # Python here is DELIBERATE (binary codec) — assert the Arrow
        # batch path, never row-at-a-time Python
        "expect": ["MapInPandas|ArrowEvalPython", "HashAggregate"],
        "forbid": ["BatchEvalPython", "CartesianProduct"],
        "note": "FLAC decode (RFC 9639 Rice/LPC): Arrow-batched "
                "mapInPandas over binary payloads feeding a JVM "
                "aggregate; losslessness gated by the PCM-recipe oracle",
    },
    "cdc_chunk_dedup": {
        "expect": ["MapInPandas", "HashAggregate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin"],
        "note": "content-defined chunking: one stateless Python decode "
                "pass, then a chunk-hash groupBy with map-side partial "
                "agg; the shuffle never carries chunk bytes",
    },
    "anchor_text_profile": {
        # BroadcastNestedLoopJoin IS expected once: the synthetic page
        # builder crossJoins a broadcast ONE-ROW aggregate (max doc_id)
        # — the standard scalar-broadcast idiom, not an all-pairs join
        "expect": ["HashAggregate", "Generate", "Window"],
        "forbid": ["CartesianProduct",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "rangepartitioning"],
        "note": "anchor-text rollup: aligned double regex scan stays in "
                "codegen; shuffle key is (target, term); the top-k "
                "window hash-partitions by target — no global sort",
    },
    "sitemap_seed_rollup": {
        # the one-row max(doc_id) broadcast appears as a
        # BroadcastNestedLoopJoin (scalar-broadcast idiom) — allowed
        "expect": ["MapInPandas", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython",
                   "SortMergeJoin", "rangepartitioning"],
        "note": "sitemap ingest: XML parse is one Arrow-batched pass "
                "per sitemap payload (50k-URL cap by spec bounds row "
                "work); rollup is a plain partial+final agg",
    },
    "tpch_q3_shipping": {
        "expect": ["BroadcastHashJoin", "TakeOrderedAndProject",
                   "HashAggregate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "MapInPandas"],
        "note": "TPC-H Q3 shape: segment dim broadcasts, fact join "
                "co-keyed on l_orderkey, top-10 never global-sorts",
    },
    "tpch_q5_local_supplier": {
        "expect": ["BroadcastHashJoin", "HashAggregate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "MapInPandas"],
        "note": "TPC-H Q5 shape: all four dims broadcast; the only "
                "shuffles are orders-lineitem and the nation rollup",
    },
    "h3_compact_cells": {
        # plan shown is the hex-render projection past the final
        # localCheckpoint: the per-level shape (groupBy(parent) +
        # co-keyed anti-join) is gated by the kernel-parity pytest
        "expect": ["Project"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "rangepartitioning"],
        "note": "H3 compaction: parent derivation is JVM bit math; "
                "each level is one parent-keyed count + anti-join, "
                "never Python, never a sort",
    },
    "triangle_counts_links": {
        "expect": ["HashAggregate", "LeftSemi"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
        "note": "triangles: degree-ordered orientation bounds the "
                "wedge join fan-out; closing edges via a narrow "
                "left-semi join, all-relational",
    },
    "weighted_sample_by_lang": {
        "expect": ["Window", "HashAggregate|Project"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "rangepartitioning"],
        "note": "A-ES weighted draw: key is one codegen projection; "
                "the only exchange is the per-group window (hash-"
                "partitioned, no global sort)",
    },
    "hits_scores": {
        # plan seen here is the final hub<->auth join past the last
        # localCheckpoint; each iteration is two co-keyed joins + two
        # partial-aggregated groupBys with one-row norm broadcasts
        "expect": ["BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "BatchEvalPython"],
        "note": "HITS: iterative mutual reinforcement stays fully "
                "relational; norms are broadcast one-row aggregates, "
                "never a collect",
    },
    "dedup_clusters": {
        # plan seen here is the post-convergence reduction (the star
        # rounds are behind localCheckpoint truncation — each round is
        # itself a node-keyed window + projection, audited in tests)
        "expect": ["Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "ArrowEvalPython", "BatchEvalPython"],
        "note": "near-dup clustering: alternating large-star/small-star "
                "CC, all-relational; the cluster-size window and the "
                "doc<-component join never degenerate to a cross join",
    },
    "boilerplate_removal": {
        "expect": ["Generate", "HashAggregate", "LeftAnti"],
        "forbid": ["CartesianProduct", "ArrowEvalPython",
                   "BatchEvalPython", "MapInPandas"],
        "note": "CCNet-style line dedup: JVM chunking (Generate) + "
                "distinct-doc counts + anti-join against the frequent "
                "set + ordered reassembly — no Python anywhere",
    },
    "span_dedup_coverage": {
        "expect": ["Generate", "HashAggregate", "LeftSemi"],
        "forbid": ["CartesianProduct", "ArrowEvalPython",
                   "BatchEvalPython", "MapInPandas"],
        "note": "k-gram span dedup: gram hashes built in codegen "
                "(transform/slice/xxhash64), explode -> 16-byte "
                "(gh, doc_id) shuffle, distinct-doc count + semi-join "
                "mark-back — no Python, never the gram text",
    },
    "quality_top_fraction": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["CartesianProduct", "ArrowEvalPython",
                   "BatchEvalPython", "MapInPandas"],
        "note": "top-fraction curation: scoring is map-side codegen; "
                "rank + group-count windows share one lang-keyed "
                "exchange; no Python",
    },
    "bpe_encode_counts": {
        "expect": ["HashAggregate", "codegen id"],
        "forbid": ["CartesianProduct", "ArrowEvalPython",
                   "BatchEvalPython", "MapInPandas", "SortMergeJoin"],
        "note": "BPE encode: wrap + rank-ordered literal replaces as ONE "
                "map-side codegen projection; the only exchange is the "
                "per-lang rollup",
    },
    "ann_topk_lsh": {
        "expect": ["TakeOrderedAndProject"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "note": "multiprobe LSH ANN: bucket IN-filter + exact re-rank, "
                "global top-k via TakeOrdered (no full sort)",
    },
    "ann_topk_ivf": {
        "expect": ["TakeOrderedAndProject"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "ArrowEvalPython", "BatchEvalPython"],
        "note": "IVF ANN search: centroid scoring + probe-list IN-filter "
                "+ exact re-rank, all JVM expressions; global top-k via "
                "TakeOrdered (no full sort, no Python)",
    },
    "training_mix_sample": {
        "expect": ["BroadcastHashJoin", "codegen id"],
        "forbid": ["SortMergeJoin", "CartesianProduct",
                   "ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
        "note": "deterministic stratified mix: md5-threshold keep "
                "predicate is a codegen'd string compare; the mix table "
                "broadcasts — the corpus scan is one pass, no Python",
    },
    "distance_pairs_join": {
        "expect": ["HashAggregate|SortMergeJoin|ShuffledHashJoin"
                   "|BroadcastHashJoin", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "within-distance pair join: bucket EQUI-join (band + "
                "per-band lng pitch), 9x probe-side explode, exact "
                "haversine verify — never a theta/cross join",
    },
    "gi_star_hotspots": {
        "expect": ["HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "Gi* on the surrogate grid: per-cell agg first (points "
                "collapse before any fan-out), 9x literal explode of "
                "the CELL relation, equi-join on grid keys; the one "
                "BroadcastNestedLoopJoin is the 1-row global-stats "
                "scalar riding the plan",
    },
    "funnel_conversion": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "Window", "rangepartitioning"],
        "note": "funnel: chained per-user min-aggregates + time-"
                "shifted equi-joins; never a per-user sort/window of "
                "the full stream",
    },
    "cohort_retention": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "Window", "rangepartitioning"],
        "note": "cohort triangle: stream collapses to user-week grain "
                "before the first-week join",
    },
    "lisa_clusters": {
        "expect": ["HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "LISA: same cell-relation fan-out as Gi*/Moran; "
                "quadrant labels are codegen case-when",
    },
    "textrank_keywords": {
        "expect": ["HashAggregate", "TakeOrderedAndProject"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "TextRank: vocab-sized co-occurrence graph, "
                "checkpointed weighted-PageRank rounds, top-k never a "
                "full sort",
    },
    "zorder_layout_spans": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin",
                   "rangepartitioning"],
        "note": "z-order spans: the morton key is a codegen bit-math "
                "projection; the only exchange is the final "
                "bucket-count hash agg (map-side combined)",
    },
    "hilbert_layout_spans": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin",
                   "rangepartitioning"],
        "note": "hilbert spans: the 10-level rotate/reflect chain is "
                "one codegen projection; only exchange is the final "
                "bucket agg",
    },
    "morans_i": {
        "expect": ["HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "Moran's I: same cell-relation fan-out as Gi*; every "
                "global term is a broadcast 1-row aggregate",
    },
    "corpus_power_laws": {
        "expect": ["HashAggregate", "Window"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "power-law fits: corpus pass collapses to vocab-/doc-"
                "sized relations before any window; output is 1 row",
    },
    "leakage_safe_split": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "split assignment is a codegen md5 projection on top "
                "of the clustering — zero additional shuffles",
    },
    "collocations_g2": {
        "expect": ["TakeOrderedAndProject", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "Dunning G^2 collocations: one corpus bigram shuffle, "
                "vocab-sized marginal joins, broadcast 1-row total, "
                "top-k never a full sort",
    },
    "rrf_hybrid_topk": {
        "expect": ["TakeOrderedAndProject", "HashAggregate", "Union"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "hybrid fusion: both retrievers end in "
                "TakeOrderedAndProject (never a full sort of the "
                "corpus); the fuse is a union + groupBy over two "
                "bounded top-n lists",
    },
    "bm25_topk": {
        "expect": ["TakeOrderedAndProject", "BroadcastHashJoin",
                   "Generate"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "ArrowEvalPython", "BatchEvalPython"],
        "note": "BM25 retrieval: query-vocab filter before the tf "
                "aggregate, df + corpus stats broadcast, top-k via "
                "TakeOrdered — no full sort, no wide shuffle, no Python",
    },
    "bigram_counts": {
        "expect": ["Generate", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython"],
        "note": "corpus bigrams: JVM array ops + explode (Generate) + "
                "partial/final agg, no Python",
    },
    "sessionize_events": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython"],
        "note": "sessionization: lag + running-sum windows and both "
                "aggregates share one user_id exchange",
    },
    "quality_model_scores": {
        "expect": ["codegen id"],
        "forbid": ["Exchange", "ArrowEvalPython", "BatchEvalPython",
                   "MapInPandas"],
        "note": "model-based quality scoring: literal-weight linear "
                "classifier + sigmoid as ONE map-side codegen "
                "projection — a 100 TB scoring pass with no shuffle "
                "and no Python",
    },
    "chunk_documents": {
        "expect": ["Generate", "codegen id"],
        "forbid": ["Exchange", "ArrowEvalPython", "BatchEvalPython",
                   "MapInPandas"],
        "note": "context-window chunking: JVM array slicing + one "
                "explode, shuffle-free — a pure map stage at any scale",
    },
    "pack_sequences": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "sequence packing: per-shard ordered window cumsum -> "
                "bin groupBy; shards pack independently (no global "
                "single-partition sort)",
    },
    "url_canonical_domains": {
        "expect": ["Project"],
        "forbid": ["Exchange", "ArrowEvalPython", "BatchEvalPython",
                   "MapInPandas", "CartesianProduct"],
        "note": "URL canonicalization + PSL domain + blocklist flag as "
                "a single shuffle-free JVM projection (higher-order "
                "filter/array_sort lambdas stay JVM-side) — a 100 TB "
                "per-row pass with no Python and no Exchange",
    },
    "domain_rollup": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin"],
        "note": "per-domain curation rollup: the weburl module's one "
                "intentional shuffle — groupBy(domain) with map-side "
                "partial agg (count-distinct host expands to a "
                "two-phase partial aggregate, still one Exchange "
                "chain, no join)",
    },
    "bigram_lm_scores": {
        "expect": ["Generate", "HashAggregate", "BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "bigram LM train+score in one lineage: explode -> two "
                "map-side-combined count aggregates, vocab-sized "
                "count tables broadcast back onto the bigram relation "
                "(co-keyed shuffle join at web scale), V as a one-row "
                "broadcast — no Python in train or score",
    },
    "kn_lm_scores": {
        "expect": ["Generate", "HashAggregate", "BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "interpolated Kneser-Ney: ONE corpus (w1,w2) groupBy "
                "builds the bigram-type table; context totals, "
                "continuation-type counts and the n1/n2 discount all "
                "derive from that vocab-sized relation (the token "
                "stream is shuffled once); count tables broadcast back "
                "onto the per-doc bigram relation, discount as a "
                "one-row broadcast — no Python anywhere",
    },
    "contamination_flags": {
        "expect": ["BroadcastHashJoin", "HashAggregate", "Generate"],
        "forbid": ["SortMergeJoin", "ArrowEvalPython", "BatchEvalPython",
                   "MapInPandas", "CartesianProduct"],
        "note": "decontamination: benchmark gram set broadcast, corpus "
                "gram explode + hit probe map-side, single partial+final "
                "groupBy(doc_id) — the corpus is never re-joined or "
                "shuffled by gram",
    },
    "span_dedup_removal": {
        "expect": ["HashAggregate", "Generate", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "span removal: gram winner election and the cut-position "
                "re-join both key on the 8-byte gram hash (never gram "
                "text); the per-doc rebuild is a codegen array filter — "
                "no Python anywhere",
    },
    "inverted_index": {
        "expect": ["HashAggregate", "Generate", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "Window", "SortMergeJoin"],
        "note": "posting-list build: tokenize explode -> (term,doc) tf "
                "agg -> per-term rollup; the delta-gap transform is a "
                "zip_with INSIDE the aggregate projection, so no "
                "corpus-wide Window and no Python",
    },
    "dsir_selection": {
        "expect": ["TakeOrderedAndProject", "HashAggregate",
                   "BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin"],
        "note": "DSIR selection: the 256-bucket fit is one map-side-"
                "combined groupBy; the log-ratio table broadcasts into "
                "the weight pass (BroadcastHashJoin, the corpus side "
                "never shuffles for it); Gumbel top-k compiles to "
                "TakeOrderedAndProject, not a global sort",
    },
    "phrase_search": {
        "expect": ["BroadcastHashJoin", "HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin", "Window"],
        "note": "positional phrase search: vocab IN-filter before any "
                "shuffle, m-row offsets table broadcast into the vote "
                "fan-out, two narrow map-side-combined aggregates "
                "replace the k-way postings intersection — no per-term "
                "self-joins, no window",
    },
    "frontier_schedule": {
        "expect": ["Window", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin",
                   "BroadcastNestedLoopJoin"],
        "note": "crawl-frontier politeness: ONE host-keyed exchange "
                "feeding the row_number window; rank filter and round "
                "division are codegen projections on top — no joins, "
                "no Python, hosts schedule independently",
    },
    "shard_assignment": {
        "expect": ["Window", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin",
                   "\\], true, 0", "rangepartitioning"],
        "note": "training-shard writer: hash-derived shard key -> ONE "
                "hash exchange + per-shard LOCAL window sort; the "
                "forbids on rangepartitioning and global Sort (the "
                "', true, 0' argument form) pin that the 'global "
                "shuffle' never becomes a corpus-wide range exchange",
    },
    "drifted_terms": {
        "expect": ["TakeOrderedAndProject", "HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin", "Window",
                   "rangepartitioning"],
        "note": "corpus drift: one tokenize+groupBy(term) pass with "
                "conditional side sums (vocab-sized shuffle), one-row "
                "totals broadcast, per-term contributions a codegen "
                "projection, top-k via TakeOrderedAndProject",
    },
    "pq_adc_topk": {
        "expect": ["TakeOrderedAndProject", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin", "Window",
                   "Exchange hashpartitioning"],
        "note": "PQ/ADC search: encode is a map-side codegen argmax "
                "per subspace, ADC a literal-table lookup sum — zero "
                "shuffles before TakeOrderedAndProject (at scale the "
                "scan reads only the m-int code column)",
    },
    "winnow_fingerprints": {
        "expect": ["Window", "HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin",
                   "rangepartitioning"],
        "note": "winnowing: codegen gram-hash transform + posexplode, "
                "selection is ONE doc-partitioned window-min over the "
                "packed (hash,pos) key; distinct and rollup reuse the "
                "doc partitioning — docs fingerprint independently",
    },
    "normalize_text": {
        "expect": ["Project", "codegen id"],
        "forbid": ["Exchange", "ArrowEvalPython", "BatchEvalPython",
                   "MapInPandas", "CartesianProduct", "Window"],
        "note": "unicode normalization is a pure map-side codegen "
                "projection (translate + regexp_replace chain) — zero "
                "exchanges; at 100 TB this pass is scan-bound",
    },
    "cms_term_frequencies": {
        "expect": ["HashAggregate", "Generate", "BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin", "Window"],
        "note": "Count-Min: per-key totals aggregated once (vocab-"
                "sized shuffle), the d-fold hash fan-out touches the "
                "vocabulary never the token stream, the probe table "
                "broadcasts against the fixed 4x256 sketch",
    },
    "robots_exclusion": {
        "expect": ["BroadcastHashJoin", "Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin",
                   "BroadcastNestedLoopJoin"],
        "note": "RFC 9309 filter: parsed rule table broadcast onto the "
                "url side (urls never shuffle for the match); the "
                "window exchanges live on the kilobyte-scale robots "
                "relation only; precedence is one max_by aggregate, "
                "no Python anywhere",
    },
    "html_link_graph": {
        "expect": ["Generate", "HashAggregate", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin"],
        "note": "outlink extraction: binary->string cast + "
                "regexp_extract_all + explode in ONE codegen "
                "projection; the only exchange is the host-edge "
                "rollup's groupBy with map-side partial agg",
    },
    "robots_wildcard_exclusion": {
        "expect": ["BroadcastHashJoin", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "SortMergeJoin",
                   "BroadcastNestedLoopJoin"],
        "note": "RFC 9309 SS2.2.3 wildcard rules: the "
                "anchored-regex compilation happens on the broadcast "
                "rule side; the url side still sees one broadcast join "
                "+ one max_by aggregate, regex or not — no Python, no "
                "url reshuffle",
    },
    "embedding_blocked_pairs": {
        "expect": ["Generate", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "SRP-LSH blocked embedding dedup: bucket ids explode per "
                "table (Generate), "
                "candidates come from a bucket EQUI-join — the plan "
                "must never contain a cross/nested-loop join; the "
                "exact cosine re-rank is JVM fold arithmetic",
    },
    "semdedup_prune": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "SemDeDup semantic dedup: centroid assignment is one "
                "codegen projection (literal dot products), candidate "
                "pairs come from a cluster-keyed EQUI self-join (never "
                "a cross/nested-loop join), the kept set is a LeftAnti "
                "against distinct losers — ids only on the wire",
    },
    "lpa_communities": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "rangepartitioning"],
        "note": "label propagation: per round one co-keyed equi-join "
                "(symmetrized edges x labels) + two partial-aggregated "
                "groupBys; nothing wider than (id, id, count) on the "
                "wire, integer-only state, no sort anywhere",
    },
    "image_dhash_pairs": {
        "expect": ["MapInPandas", "bit_count"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin"],
        "note": "perceptual image dedup: the ONLY Python is "
                "the per-row-by-nature media decode (MapInPandas); "
                "candidates come from the salted banded equi-join "
                "inherited from simhash (hamming_pairs) — never a "
                "cross join; hamming verify is JVM bit_count",
    },
    "audio_afp_pairs": {
        "expect": ["MapInPandas", "bit_count"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin"],
        "note": "acoustic dedup: same shape as "
                "image_dhash_pairs — decode-only Python, banded "
                "equi-join candidates, JVM hamming verify",
    },
    "quality_top_fraction_approx": {
        "expect": ["ObjectHashAggregate", "BroadcastHashJoin"],
        "forbid": ["Window", "rangepartitioning", "Sort \\[",
                   "ArrowEvalPython", "BatchEvalPython",
                   "CartesianProduct", "SortMergeJoin"],
        "note": "approx top-fraction: "
                "percentile_approx is a mergeable GK sketch -> "
                "partial+final ObjectHashAggregate over the group-"
                "keyed exchange; thresholds broadcast back; NO Window, "
                "NO global sort — the shape that survives 10^12-row "
                "groups where the exact rank form cannot",
    },
    "asof_join_events": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "bucketed as-of join: union + (key,bucket)-bounded "
                "window carry, then a carry-in fix equi-joined back on "
                "(key,bucket) — no range join, no cross join, and no "
                "single-key-owns-the-history task at scale",
    },
    "interval_overlap_join": {
        "expect": ["Generate", "HashAggregate|SortMergeJoin"
                   "|ShuffledHashJoin|BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "keyless point-in-interval join: interval side "
                "replicated to its time buckets (Generate), points in "
                "exactly one bucket, bucket EQUI-join + exact "
                "containment filter — Spark's default for this shape "
                "is a BroadcastNestedLoopJoin, which must never appear",
    },
    "embedding_covariance": {
        "expect": ["MapInPandas", "HashAggregate", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "note": "sufficient-statistics covariance: one mapInPandas "
                "pass emits per-batch (n, colsum, X^T X) partials — "
                "~2k rows per split regardless of row count — then a "
                "tiny groupBy(i,j) reduce; the means/n fan back in as "
                "broadcasts; the data rows themselves NEVER shuffle "
                "(the BroadcastNestedLoopJoin is the 1-row n scalar)",
    },
    "burst_zscores": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Generate"],
        "note": "burst detection: events collapse to (key, bucket) "
                "integer counts in one partial-agg groupBy; the RANGE "
                "window runs over that small relation — no self-join, "
                "no explode of silent buckets",
    },
    "knn_graph": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "thresholded kNN graph: exact pairs ride the adaptive "
                "all-pairs join (count-based postings self-join + "
                "groupBy overlap at this low floor; WWW'07 prefix prune "
                "when the floor is high or gram dfs are stop-word-"
                "grade), then one per-src row_number window over "
                "qualifying PAIRS only — the corpus is never windowed "
                "and a cross join never planned",
    },
    "edge_jaccard_links": {
        "expect": ["LeftSemi", "HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "per-edge neighborhood Jaccard: common-neighbor "
                "counts ride the degree-ordered triangle machinery "
                "(bounded wedge fan-out, left-semi closing), "
                "triangles explode to 3 edges + one groupBy; the one "
                "BroadcastNestedLoopJoin is the 1-row max(doc_id) "
                "scalar riding the synthetic edge build",
    },
    "timeseries_gapfill": {
        "expect": ["Window", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "resample + linear gap-fill: grid explodes from the "
                "per-key SPAN relation (one row per key), prev/next "
                "neighbors are the two bucketed asof window carries — "
                "no range join, no per-key full-stream sort, "
                "interpolation is one codegen'd projection",
    },
    "dbscan_grid_clusters": {
        "expect": ["Generate", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "grid DBSCAN: points collapse to the cell relation in "
                "one groupBy, then every step (9-offset density "
                "explode, core adjacency, border labeling) is an "
                "equi-join on cell keys; the component loop's "
                "intermediate rounds sit behind localCheckpoints — "
                "this plan is the final assembly",
    },
    "kcore_links": {
        "expect": ["LeftSemi", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "k-core peeling: per-round left-semi restriction of "
                "the (id,id) edge list + partial-agg degree count; the "
                "one BroadcastNestedLoopJoin is the 1-row max(doc_id) "
                "scalar riding the synthetic edge build",
    },
    "trajectory_stats": {
        "expect": ["Window", "SortAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "per-entity track summary: ONE entity-keyed exchange "
                "feeds sort -> window (lag steps) -> partial+final "
                "SortAggregate, which REUSES the window's sort order "
                "(struct min/max can't hash-aggregate, and here "
                "shouldn't: the sorted run is already in hand) — no "
                "second exchange anywhere",
    },
    "stay_points": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Generate"],
        "note": "gaps-and-islands dwell runs: two row_number windows "
                "share the entity-keyed exchange, then one run-keyed "
                "groupBy — no joins, no explode, pure window algebra",
    },
    "od_matrix_flows": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window", "Generate"],
        "note": "OD matrix: trip endpoints are struct min/max in a "
                "(entity, day) groupBy — windowless — then a second "
                "cell-pair groupBy; the whole plan is two hash "
                "aggregates",
    },
    "nearest_neighbor_join": {
        "expect": ["Window", "HashAggregate|SortMergeJoin"
                   "|ShuffledHashJoin|BroadcastHashJoin", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "kNN JOIN: banded bucket EQUI-join bounds candidates "
                "by local anchor density, then a probe-keyed "
                "row_number window takes top-k — the quadratic "
                "probe x anchor join is never planned",
    },
    "c4_line_filters": {
        "expect": ["Project", "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "Exchange", "HashAggregate", "Window", "Generate"],
        "note": "C4 page cleaning is a pure map: split -> one "
                "higher-order line filter (projected, never inlined) "
                "-> flags + rejoin, ZERO exchanges — scales exactly "
                "as the parquet scan does",
    },
    "tfidf_top_terms": {
        "expect": ["HashAggregate", "Window", "Generate",
                   "BroadcastNestedLoopJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "per-doc TF-IDF: tf groupBy collapses the token "
                "stream map-side, df rides the (doc,term) relation "
                "(vocab-sized), N is the broadcast 1-row agg (the "
                "BNLJ), top-k is a doc-keyed row_number window",
    },
    "ewma_hourly": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Generate"],
        "note": "truncated EWMA: the stream collapses to (key, hour) "
                "counts in one partial-agg groupBy; the bounded ROWS "
                "collect_list window + fold is pure JVM expression "
                "work over that small relation",
    },
    "cusum_hourly": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Generate"],
        "note": "CUSUM closed form: per-key mean + running sum + "
                "running min are three window passes sharing ONE "
                "key-keyed exchange and sort — the sequential "
                "recursion never materializes",
    },
    "markov_transitions": {
        "expect": ["Window", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Generate"],
        "note": "transition matrix: one user-keyed lag window, one "
                "|types|^2 groupBy; the normalizer window runs over "
                "the tiny transition relation, not the stream",
    },
    "events_rollup": {
        "expect": ["Expand", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window", "Generate"],
        "note": "GROUPING SETS rollup: one Expand (3 grouping sets) "
                "into one partial+final hash aggregate — never three "
                "unioned scans",
    },
    "pivot_type_by_dom": {
        "expect": ["HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window", "Generate", "Expand"],
        "note": "pivot with an EXPLICIT value list: one pass, "
                "conditional aggregates per pivot value, no driver-"
                "side distinct collection and no Expand",
    },
    "iqr_outliers": {
        "expect": ["Window", "BroadcastHashJoin", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "Tukey fences: exact quantiles off the distinct-value "
                "cumulative curve, the 5-row fence table broadcast "
                "back onto the stream (BroadcastHashJoin, stream "
                "never reshuffles on value)",
    },
    "label_propagation": {
        "expect": ["HashAggregate", "SortMergeJoin|ShuffledHashJoin"
                   "|BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window"],
        "note": "synchronous LPA final round: one co-keyed "
                "labels-x-edges join + vote groupBy + max_by groupBy "
                "over the checkpointed edge relation; winner pick is "
                "max_by, never a window over the vote relation",
    },
    "assoc_rules": {
        "expect": ["HashAggregate", "BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "Window", "Generate"],
        "note": "pairwise rules: stream collapses to the distinct "
                "basket relation first; pair self-join keyed by "
                "entity; denominators broadcast onto the |items|^2 "
                "pair relation (the 1-row N crossJoin plans as a "
                "broadcast nested loop of a single row — allowed via "
                "BroadcastHashJoin expectation on the item counts)",
    },
    "scd2_history": {
        "expect": ["Window", "HashAggregate|SortAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "Generate"],
        "note": "SCD2 gaps-and-islands: both row_numbers share ONE "
                "entity-keyed sort; boundaries groupBy the run-sized "
                "relation; no self-join, no explode",
    },
    "constraint_audit": {
        "expect": ["HashAggregate", "BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "Window", "Generate",
                   "SortMergeJoin"],
        "note": "DQ audit: row-local checks fused into single "
                "conditional-aggregate scans; FK orphans via "
                "broadcast LEFT ANTI (fact table never shuffles); "
                "report union is check-count-sized",
    },
    "snapshot_diff": {
        "expect": ["SortMergeJoin|ShuffledHashJoin", "FullOuter"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window", "Generate", "HashAggregate"],
        "note": "CDC diff: exactly ONE table-sized exchange (the "
                "full-outer key join); change detection is codegen "
                "null-safe equality — no hashing pass, no aggregate "
                "anywhere",
    },
    "attribution_last_touch": {
        "expect": ["Window"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "HashAggregate", "Generate"],
        "note": "last-touch attribution: one user-keyed exchange, one "
                "shared sort feeding both ignore-nulls last() frames; "
                "no self-join of the stream",
    },
    "distance_clusters": {
        "expect": ["Window", "HashAggregate|SortMergeJoin"
                   "|ShuffledHashJoin|BroadcastHashJoin"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "spatial components: the banded pair join feeds the "
                "checkpointed star rounds (behind localCheckpoints — "
                "this is the final label+size assembly); the size "
                "window rides one cluster-keyed exchange",
    },
    "session_paths": {
        "expect": ["TakeOrderedAndProject",
                   "ObjectHashAggregate|SortAggregate|HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "rangepartitioning"],
        "note": "top paths: ordered type lists via sort_array in a "
                "(user, day) groupBy (collect_list forces object agg "
                "— inherent to list building), path counts, top-k by "
                "per-partition heaps (TakeOrderedAndProject, never a "
                "global sort); the rank Window runs AFTER the limit, "
                "over <= top_k rows",
    },
    "link_reciprocity": {
        "expect": ["LeftSemi", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "reciprocity: dedup pass, one LEFT SEMI self-join on "
                "the reversed edge key (no fan-out), two src-keyed "
                "groupBys; the one BroadcastNestedLoopJoin is the "
                "1-row max(doc_id) scalar riding the synthetic edge "
                "build",
    },
    "exact_quantiles": {
        "expect": ["Window", "HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "exact quantiles: the stream collapses to (key, value) "
                "counts map-side; cumsum/lag/total windows share one "
                "key exchange over that distinct-value-sized relation; "
                "the |probs| explode multiplies the small relation, "
                "never the stream",
    },
    "fuzzy_title_pairs": {
        "expect": ["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                   "codegen id"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "BroadcastNestedLoopJoin"],
        "note": "blocked fuzzy join: pure EQUI-join on the block key; "
                "the length prune and banded levenshtein run inside "
                "codegen on candidates — the corpus-level quadratic "
                "is never planned",
    },
    "geodesic_area": {
        "expect": ["Window", "HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "geodesic ring stats: vertex explode from the per-"
                "region relation, ONE region-keyed window (lead + "
                "first_value share the sort), one groupBy on the same "
                "exchange; spherical trig is all JVM codegen",
    },
    "skew_profile": {
        "expect": ["TakeOrderedAndProject", "HashAggregate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct", "rangepartitioning"],
        "note": "skew diagnostic: counts groupBy (partial agg), top-k "
                "via per-partition heaps (TakeOrderedAndProject — "
                "never a global sort), global stats as the broadcast "
                "1-row aggregate (the one BNLJ)",
    },
    "ripleys_k": {
        "expect": ["HashAggregate", "Generate"],
        "forbid": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"],
        "note": "Ripley's K: one banded pair join at max(d) + a "
                "|d|-row threshold explode and integer count; the one "
                "BroadcastNestedLoopJoin is the broadcast 1-row n "
                "scalar, same shape as funnel's base join",
    },
}


def value_hash(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        "|".join(_norm(v) for v in row) for row in pdf.values.tolist())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _norm(v):
    # dtype-sensitive: a float64 25.0 must NOT hash equal to an int64 25
    # (DuckDB's sum(INTEGER) -> HUGEINT materializes as float64 in
    # pandas, which a looser normalizer would paper over)
    import numpy as np
    if v is None:
        return "NULL"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "NULL"
        s = f"{v:.6g}"
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"  # keep the float-ness visible
        return s
    return str(v)


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _oracle_problems(name, got, con):
    want = con.sql(ORACLES[name]).df()
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return [f"columns {gcols} vs oracle {wcols}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs oracle {len(want)}"]
    gh, wh = value_hash(got), value_hash(want)
    if gh == wh:
        return []
    gs = set(map(tuple, got[gcols].astype(str).values.tolist()))
    ws = set(map(tuple, want[wcols].astype(str).values.tolist()))
    return [f"value hash {gh} vs oracle {wh} ({len(got)} rows); "
            f"only-spark {sorted(gs - ws)[:2]}, "
            f"only-oracle {sorted(ws - gs)[:2]}"]


def _plan_problems(name, df):
    """the expect/forbid misses of df's formatted plan; call after df
    ran, so the adaptive plan is final (codegen ids appear only then)"""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    spec = PLAN_SPECS.get(name, {"expect": [], "forbid": [], "note": ""})
    bad = [f"expect:{p}" for p in spec["expect"] if not re.search(p, plan)]
    bad += [f"forbid:{p}" for p in dict.fromkeys(BANNED + tuple(
        spec["forbid"])) if re.search(p, plan)]
    if not bad:
        return []
    return [f"plan {', '.join(bad)} -- {spec['note']}\n{plan}"]


@pytest.mark.parametrize("name", list(QUERIES))
def test_query(spark, oracle, name):
    df = QUERIES[name](spark, SF_DIR)
    got = df.toPandas()
    problems = []
    if name in ORACLES:
        problems += _oracle_problems(name, got, oracle)
    elif got.empty:
        problems.append("rows-only entry returned no rows")
    if name in PARENT_IMPL_GATED:
        if "n_parent_impl_mismatch" not in got.columns:
            problems.append("no n_parent_impl_mismatch column")
        elif (bad := got["n_parent_impl_mismatch"].sum()) != 0:
            problems.append(f"{bad} parent-impl mismatches")
    problems += _plan_problems(name, df)
    assert not problems, f"{name}: " + "\n".join(problems)


def test_top_fraction_approx_plan(spark):
    """an operator outside the registry, planned on its own"""
    from pyspark.sql import functions as F
    from osc_geo_h3grid_srv_spark.operators.quality import (
        quality_classifier, top_fraction_by_group_approx)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    # group key derived in the same projection so the ONLY join in the
    # plan is the broadcast of the per-group thresholds
    scored = quality_classifier(docs).withColumn(
        "g", F.col("doc_id") % 7)
    df = top_fraction_by_group_approx(scored, 0.3, "g", "quality_score")
    df.toPandas()
    problems = _plan_problems("quality_top_fraction_approx", df)
    assert not problems, "\n".join(problems)


def test_entry_smoke(spark):
    df = em.entry(spark)
    assert df.columns == ["url", "latitude", "longitude", "res7", "res9",
                          "lang"]
    assert df.count() > 0


def test_no_duplicate_top_level_defs():
    # a second def of a name silently replaces the first (an oracle
    # helper swapped this way once went unnoticed)
    with open(em.__file__) as fh:
        tree = ast.parse(fh.read())
    counts = collections.Counter(
        n.name for n in tree.body if isinstance(n, ast.FunctionDef))
    dupes = {k: c for k, c in counts.items() if c > 1}
    assert not dupes, f"duplicate top-level defs: {dupes}"


def test_oracle_coverage():
    assert set(ORACLES) <= set(QUERIES)
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY


def test_plan_specs_name_registry_entries():
    assert set(PLAN_SPECS) - set(QUERIES) == {"quality_top_fraction_approx"}
