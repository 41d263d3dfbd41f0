"""Exact all-pairs set-cosine similarity search with prefix filtering
(Bayardo, Ma & Srikant, WWW 2007 "Scaling Up All Pairs Similarity
Search"; the same bound family PPJoin builds on) — the standard way to
make EXACT near-duplicate discovery tractable at corpus scale, sitting
between the estimate-only MinHash path (`dedup.minhash_lsh_pairs`) and
the unpruned verifier (`dedup.ngram_jaccard_pairs`).

For binary term sets A, B and cosine threshold t:

  cos(A,B) = |A inter B| / sqrt(|A|*|B|)  >=  t

implies two prunes that lose NO qualifying pair:

* size filter:   |B| >= t^2 * |A|   (else |A inter B| <= |B| < t*sqrt(|A||B|))
* prefix filter: order every doc's terms by one GLOBAL canonical order
  (ascending document frequency, ties by term); any qualifying pair
  must share a term inside each doc's first
      p = |A| - ceil(t^2 * |A|) + 1
  terms, because missing the whole prefix caps the overlap at
  |A| - p < t^2*|A| <= t*sqrt(|A||B|) for size-filter survivors.

So candidate generation self-joins ONLY the prefix postings — and the
df-ascending order puts the corpus's rarest terms in the prefixes, so
the join's per-term bucket sizes are the df of RARE terms, not the
stop-word df that makes a naive postings self-join quadratic.

Scale design (10^12 docs):
* the df table and the per-doc prefix rank are one groupBy + one
  doc-partitioned window over the distinct-term relation — the window
  partitions on doc_id, so no global sort;
* candidate pairs carry only (id_a, id_b) through a distinct — width 2;
* exact verification recomputes each side's term set FROM THE DOCS
  TABLE (array_distinct over a codegen split — no postings re-shuffle)
  and intersects JVM-side with array_intersect; candidates join to docs
  by id, a co-keyed shuffle join;
* the completeness of the prune is not an assumption here: the DuckDB
  oracle for `allpairs_cosine_pairs` runs the UNPRUNED quadratic
  postings join, so a prefix bound that dropped one true pair flips the
  value hash.

No reference-repo counterpart (the reference has no text similarity);
cites the public WWW 2007 paper only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _gram_array_of(t: Column, n: int) -> Column:
    """distinct word-n-gram array over an already-split token array
    column. IMPORTANT: pass a bound ATTRIBUTE (a projected column),
    not the split(...) expression itself — higher-order functions run
    interpreted (no codegen, no common-subexpression elimination), so
    an inline split would be re-evaluated for every element_at in the
    lambda: measured ~7x the whole pass at sf0.1."""
    if n == 1:
        return F.array_distinct(t)
    # windows of n consecutive words joined by one space; docs shorter
    # than n words contribute no terms (the size guard matters:
    # F.sequence(0, -1) would DESCEND, not be empty)
    return F.when(
        F.size(t) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j + 1) for j in range(n)])))
    ).otherwise(F.array().cast("array<string>"))


def _gram_array(text_col: str, n: int) -> Column:
    """distinct word-n-gram array from a single-space split (inline
    split form — fine for tests/single use; the operators below route
    through a projected token column instead, see _gram_array_of)."""
    return _gram_array_of(F.split(F.col(text_col), " "), n)


def _gram_sets(docs: DataFrame, id_col: str, text_col: str,
               n: int) -> DataFrame:
    """(id, ts) distinct n-gram ARRAY per doc, split projected once."""
    return (_spread(docs)
            .select(F.col(id_col).alias("id"),
                    F.split(F.col(text_col), " ").alias("__toks"))
            .select("id", _gram_array_of(F.col("__toks"), n).alias("ts"))
            .filter(F.size("ts") > 0))


def _hash_sets(sets: DataFrame) -> DataFrame:
    """(id, ts: array<string>) -> (id, ts: array<long>): xxhash64
    every gram. Everything downstream of gram building — postings
    join keys, df table, the verify intersects — runs on 8-byte
    tokens instead of multi-word strings: measured 3.2x on the verify
    stage alone at sf0.1 (24.5 s string-array intersect vs 7.6 s
    hashed). Exactness caveat, documented not hidden: two DIFFERENT
    grams colliding in the same comparison would perturb one overlap
    count with probability ~|A|*|B|/2^64 (~5e-15 per pair) — the
    DuckDB oracles replay grams as strings, so any real collision
    flips a value hash instead of passing silently."""
    return sets.select("id", F.array_distinct(
        F.transform("ts", lambda x: F.xxhash64(x))).alias("ts"))


def _hashed_gram_sets(docs: DataFrame, id_col: str, text_col: str,
                      n: int) -> DataFrame:
    """(id, ts: array<long>) distinct HASHED word-n-gram set per doc in
    ONE map-only projection: multi-argument xxhash64 over the n
    consecutive tokens directly inside the transform lambda — no
    intermediate "w1 w2 w3" string concat and no second hashing pass
    over a string-gram array (_gram_sets + _hash_sets). Higher-order
    functions run interpreted, so lambda cost is the whole game:
    dropping the concat_ws string build measured 2.1 s -> 1.2 s warm on
    the sf0.1 trigram pass. Same exactness caveat as _hash_sets (the
    DuckDB oracles replay grams as strings; a 2^-64 collision would
    flip a value hash, not pass silently)."""
    toks = (_spread(docs)
            .select(F.col(id_col).alias("id"),
                    F.split(F.col(text_col), " ").alias("__toks")))
    if n == 1:
        ts = F.array_distinct(
            F.transform("__toks", lambda x: F.xxhash64(x)))
    else:
        ts = F.when(
            F.size("__toks") >= n,
            F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.size("__toks") - n),
                lambda i: F.xxhash64(
                    *[F.element_at("__toks", i + j + 1)
                      for j in range(n)])))
        ).otherwise(F.array().cast("array<long>"))
    return (toks.select("id", ts.alias("ts"))
            .filter(F.size("ts") > 0))


#: broadcast the verify-side gram arrays when the corpus is at most
#: this many docs (~100k docs x ~450 B/row of hashed grams ≈ 45 MB —
#: comfortably under executor broadcast budgets). Beyond it the verify
#: join falls back to a co-keyed shuffle join, the only shape that
#: works at 10^12 docs.
_BROADCAST_VERIFY_MAX_DOCS = 100_000


def _verify_join(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """attach ts_a/ts_b gram arrays onto a (id_a, id_b) candidate
    relation for exact verification. Two fixes that together took the
    sf0.1 knn_graph verify from 225 s to seconds:

    * the candidate relation is NARROW (two longs) but every row costs
      an array_intersect downstream, so AQE's bytes-based partition
      coalescing collapses the post-distinct exchange to ~3 partitions
      and serializes the verify — repartition with an EXPLICIT
      partition count (AQE keeps user-specified counts) proportional
      to the cluster;
    * when the gram-set relation is small in absolute terms (oracle /
      single-node scale), broadcast BOTH verify sides: the 8-byte-
      token arrays of a bounded corpus fit executor memory and the
      candidate stream then never reshuffles at all. The cutoff is
      doc-count-based on the already-materialized (localCheckpointed)
      sets relation, so the count() is a metadata-cheap job."""
    n_parts = cand.sparkSession.sparkContext.defaultParallelism * 2
    cand = cand.repartition(n_parts, "id_a")
    va = sets.select(F.col("id").alias("id_a"),
                     F.col("ts").alias("ts_a"))
    vb = sets.select(F.col("id").alias("id_b"),
                     F.col("ts").alias("ts_b"))
    if sets.count() <= _BROADCAST_VERIFY_MAX_DOCS:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return cand.join(va, "id_a").join(vb, "id_b")


def _spread(docs: DataFrame) -> DataFrame:
    """Parallelism guard for the repeated text passes below: a small
    single-file parquet scan plans as ONE input partition (128 MB
    maxPartitionBytes), which serializes every split/explode pass of
    this operator onto one core — measured 13 s/pass at sf0.1 vs
    sub-second spread. Repartition only when the scan is narrower than
    the cluster; at real corpus scale the input already has thousands
    of partitions and this is a no-op (no shuffle added)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


#: per-posting fan-out ceiling for the count-based exact path: the
#: postings self-join emits sum(df^2) rows, i.e. (sum(df^2)/sum(df))
#: rows PER posting on average — choose the count path only when that
#: average fan-out is bounded by this constant, so its shuffle stays a
#: constant number of corpus passes. Web-scale stop-word grams push the
#: ratio to 10^6+, which correctly falls back to the prefix prune.
_COUNT_FANOUT_MAX = 512


def _count_cosine_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """EXACT (id_a, id_b, cosine) pairs via the unpruned-but-counted
    postings self-join: join the (id, term) relation with itself on
    term, groupBy (id_a, id_b) count — the overlap |A inter B| is the
    count, so no candidate distinct, no gram-array re-join, and no
    per-pair array_intersect. This is the right EXACT plan when the
    cosine floor is low (prefix pruning keeps > 1-t^2 of postings, so
    the WWW'07 path pays the full join anyway PLUS a distinct PLUS a
    verify): measured 48.6 s -> ~5 s on the sf0.1 bigram knn_graph
    shape (t=0.35, median df 285 of 5000 docs). The groupBy is
    map-side-combinable and the pair stream is three narrow columns;
    sizes join back via two tiny (corpus-cardinality, 12-byte row)
    relations that AQE broadcasts at test scale."""
    t = float(threshold)
    terms = sets.select("id", F.explode("ts").alias("term"))
    a = terms.select(F.col("id").alias("id_a"), "term")
    b = terms.select(F.col("id").alias("id_b"), "term")
    common = (a.join(b, "term")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count("*").alias("common")))
    sizes = sets.select("id", F.size("ts").alias("sz"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    cos = (F.col("common").cast("double")
           / F.sqrt(F.col("sz_a").cast("double")
                    * F.col("sz_b").cast("double")))
    return (common.join(sa, "id_a").join(sb, "id_b")
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= F.lit(t))
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def _pick_strategy(sets: DataFrame, threshold: float,
                   strategy: str) -> str:
    """resolve strategy='auto' from the df table (vocab-sized agg, one
    tiny job over the already-checkpointed gram relation): prefix when
    the floor is high (t >= 0.5 keeps the prune strong — prefixes drop
    >= 25% of postings and candidates collapse), else the count path
    iff the per-posting join fan-out sum(df^2)/sum(df) stays under
    _COUNT_FANOUT_MAX. Both paths are exact; this only picks the plan."""
    if strategy != "auto":
        if strategy not in ("prefix", "count"):
            raise ValueError(f"unknown strategy {strategy!r}")
        return strategy
    if float(threshold) >= 0.5:
        return "prefix"
    stats = (sets.select(F.explode("ts").alias("term"))
             .groupBy("term").agg(F.count("*").alias("df"))
             .agg(F.sum("df").alias("p"),
                  F.sum(F.col("df") * F.col("df")).alias("w"))
             .collect()[0])
    if stats["p"] and stats["w"] / stats["p"] <= _COUNT_FANOUT_MAX:
        return "count"
    return "prefix"


def allpairs_candidate_pairs(docs: DataFrame, threshold: float,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             ngram: int = 2,
                             _sets: DataFrame | None = None) -> DataFrame:
    """Prefix+size-filtered candidate set (id_a < id_b), BEFORE exact
    verification — exposed so tests can assert the prune is
    (a) complete (superset of true pairs) and (b) effective (strictly
    smaller than the unpruned postings join)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold {threshold} not in (0, 1]")
    t2 = float(threshold) * float(threshold)
    # materialize the per-doc gram arrays ONCE (linkgraph.py
    # discipline): the interpreted higher-order-function n-gram pass
    # is the operator's fixed cost, and FOUR consumers need it (df
    # table, sizes, prefix rank, and the caller's exact verify) —
    # deriving them all from one checkpointed relation is the postings
    # materialization every published all-pairs system does.
    if _sets is None:
        _sets = _hashed_gram_sets(docs, id_col, text_col, ngram) \
            .localCheckpoint(eager=True)
    terms = _sets.select("id", F.explode("ts").alias("term"))
    dfreq = terms.groupBy("term").agg(F.count("*").alias("df"))
    sizes = terms.groupBy("id").agg(F.count("*").alias("sz"))
    # global canonical order = (df asc, term asc — term is the gram
    # HASH; any global total order satisfies the prefix lemma); the
    # per-doc prefix rank is a doc-partitioned window (docs are
    # bounded, no global sort)
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("term"))
    prefix = (terms.join(dfreq, "term")
              .withColumn("rk", F.row_number().over(w))
              .join(sizes, "id")
              .filter(F.col("rk")
                      <= F.col("sz") - F.ceil(F.lit(t2) * F.col("sz"))
                      + 1)
              .select("id", "term", "sz", "rk"))
    a = prefix.select(F.col("id").alias("id_a"), "term",
                      F.col("sz").alias("sz_a"), F.col("rk").alias("rk_a"))
    b = prefix.select(F.col("id").alias("id_b"), "term",
                      F.col("sz").alias("sz_b"), F.col("rk").alias("rk_b"))
    # per-pair tightened prefix: once BOTH sizes are known, the required
    # overlap is alpha = ceil(t*sqrt(sz_a*sz_b)) and the prefix-filter
    # lemma guarantees a shared term within each side's first
    # sz - alpha + 1 positions — strictly tighter than the indexing
    # prefix above (which had to assume the smallest legal partner).
    # Exact: the lemma's witness term satisfies both rank bounds, so no
    # qualifying pair is dropped (the DuckDB oracle replays the
    # unpruned join and would catch one).
    alpha = F.ceil(F.lit(float(threshold))
                   * F.sqrt(F.col("sz_a") * F.col("sz_b")))
    # note on PPJoin's positional/suffix filters (Xiao et al. WWW
    # 2008): with the per-pair alpha-tightened rank bounds below they
    # are PROVABLY vacuous (rk <= sz - alpha + 1 already guarantees
    # 1 + min(sz - rk) >= alpha for every surviving hit) — measured
    # zero pruning at sf0.1/t=0.35. The lever that pays here is
    # making the verify cheap (_hash_sets), not more bounds.
    return (a.join(b, "term")
            .filter((F.col("id_a") < F.col("id_b"))
                    # size filter, both directions
                    & (F.col("sz_b") >= F.lit(t2) * F.col("sz_a"))
                    & (F.col("sz_a") >= F.lit(t2) * F.col("sz_b"))
                    & (F.col("rk_a") <= F.col("sz_a") - alpha + 1)
                    & (F.col("rk_b") <= F.col("sz_b") - alpha + 1))
            .select("id_a", "id_b").distinct())


def containment_pairs(docs: DataFrame, threshold: float,
                      id_col: str = "doc_id", text_col: str = "text",
                      ngram: int = 2) -> DataFrame:
    """DIRECTED containment pairs: (id_a, id_b, containment) for every
    ordered pair with |A inter B| / |A| >= threshold — doc A is mostly
    quoted/excerpted inside doc B. Catches what symmetric cosine
    misses: a paragraph lifted into a 100x-longer page has containment
    ~1 but cosine ~0.1.

    Containment's required overlap alpha = ceil(t*|A|) depends only on
    the CONTAINED side, so only A prunes to a prefix at index time
    (|A| - ceil(t*|A|) + 1 rarest terms); B must expose all its terms
    (its smallest legal alpha is 1 — the classic containment-join
    asymmetry). Once the pair is formed, B's per-pair prefix bound
    rk_b <= |B| - ceil(t*|A|) + 1 applies exactly (prefix-filter
    lemma), and |B| >= ceil(t*|A|) prunes undersized containers.
    Verification recomputes both term sets from the docs table and
    intersects JVM-side; the DuckDB oracle replays the unpruned
    ordered postings join, gating the prune's completeness.

    Scale: the A-side prefix join keys on the corpus's RARE terms (df
    ascending order), and the B-side postings relation is the same
    (id, term) relation the inverted index already materializes; the
    pair stream carries only (id_a, id_b) through distinct.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold {threshold} not in (0, 1]")
    t = float(threshold)
    sets = _hashed_gram_sets(docs, id_col, text_col, ngram) \
        .localCheckpoint(eager=True)  # ONE materialized gram pass
    terms = sets.select("id", F.explode("ts").alias("term"))
    dfreq = terms.groupBy("term").agg(F.count("*").alias("df"))
    sizes = terms.groupBy("id").agg(F.count("*").alias("sz"))
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("term"))
    ranked = (terms.join(dfreq, "term")
              .withColumn("rk", F.row_number().over(w))
              .join(sizes, "id"))
    alpha_a = F.ceil(F.lit(t) * F.col("sz_a"))
    a = (ranked.filter(F.col("rk")
                       <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1)
         .select(F.col("id").alias("id_a"), "term",
                 F.col("sz").alias("sz_a")))
    b = ranked.select(F.col("id").alias("id_b"), "term",
                      F.col("sz").alias("sz_b"), F.col("rk").alias("rk_b"))
    cand = (a.join(b, "term")
            .filter((F.col("id_a") != F.col("id_b"))
                    & (F.col("sz_b") >= alpha_a)
                    & (F.col("rk_b") <= F.col("sz_b") - alpha_a + 1))
            .select("id_a", "id_b").distinct())
    cont = (F.size(F.array_intersect("ts_a", "ts_b")).cast("double")
            / F.size("ts_a").cast("double"))
    return (_verify_join(cand, sets)
            .withColumn("containment", cont)
            .filter(F.col("containment") >= F.lit(t))
            .select("id_a", "id_b",
                    F.round("containment", 6).alias("containment")))


def allpairs_cosine_pairs(docs: DataFrame, threshold: float,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          ngram: int = 2,
                          strategy: str = "auto") -> DataFrame:
    """All pairs with set-cosine >= threshold over distinct word-n-gram
    sets. Returns (id_a, id_b, cosine round 6) with id_a < id_b.

    Exact under EITHER strategy (same rows, same hash — the DuckDB
    oracle replays the unpruned join):

    * 'prefix' — WWW'07 prefix + size pruning, then per-candidate
      array_intersect verify. The scale plan when the floor is high
      or the corpus has stop-word-grade gram dfs.
    * 'count'  — unpruned-but-counted postings self-join (overlap =
      groupBy count). The faster plan when the floor is LOW (prefix
      pruning is provably weak: prefixes keep > 1-t^2 of postings) and
      per-posting fan-out is bounded; skips distinct + verify entirely.
    * 'auto'   — t >= 0.5 -> prefix; else count iff the df table says
      sum(df^2)/sum(df) <= _COUNT_FANOUT_MAX (one vocab-sized agg).
    """
    sets = _hashed_gram_sets(docs, id_col, text_col, ngram) \
        .localCheckpoint(eager=True)
    if _pick_strategy(sets, threshold, strategy) == "count":
        return _count_cosine_pairs(sets, threshold)
    cand = allpairs_candidate_pairs(docs, threshold, id_col, text_col,
                                    ngram, _sets=sets)
    # exact verify over the SAME materialized gram arrays: JVM
    # array_intersect — terms are distinct so size == overlap count
    cos = (F.size(F.array_intersect("ts_a", "ts_b")).cast("double")
           / F.sqrt(F.size("ts_a").cast("double")
                    * F.size("ts_b").cast("double")))
    return (_verify_join(cand, sets)
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= F.lit(float(threshold)))
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def knn_graph(docs: DataFrame, k: int, threshold: float,
              id_col: str = "doc_id", text_col: str = "text",
              ngram: int = 2, strategy: str = "auto") -> DataFrame:
    """thresholded k-nearest-neighbor graph: for every document, its
    top-k most-cosine-similar neighbors AMONG pairs with set-cosine
    >= threshold — the neighbor graph SemDeDup-style pruning,
    diversity sampling, and related-page navigation consume. The
    threshold makes the contract exact and scale-honest: the WWW'07
    prefix+size prune is complete for "cosine >= t" (gated by the
    allpairs_cosine_pairs oracle), so top-k over those pairs is exact
    top-k at floor t — an UNthresholded exact kNN would force the
    quadratic join this module exists to avoid (use similarity.py's
    IVF/LSH for approximate unbounded kNN).

    Ranking is deterministic: (round(cosine, 6) DESC, neighbor id ASC)
    — the rounded value is ranked so the DuckDB replay cannot split
    float ties differently. Returns (src, dst, cosine, rank) with
    rank 1..k per src; nodes with no qualifying pair emit nothing.
    One extra exchange past the pair join: the per-src top-k window
    over candidate pairs only (never the corpus)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    pairs = allpairs_cosine_pairs(docs, threshold, id_col, text_col,
                                  ngram, strategy=strategy)
    sym = (pairs.select(F.col("id_a").alias("src"),
                        F.col("id_b").alias("dst"), "cosine")
           .unionAll(pairs.select(F.col("id_b").alias("src"),
                                  F.col("id_a").alias("dst"),
                                  "cosine")))
    w = (Window.partitionBy("src")
         .orderBy(F.col("cosine").desc(), F.col("dst").asc()))
    return (sym.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("src", "dst", "cosine",
                    F.col("rank").cast("int").alias("rank")))
