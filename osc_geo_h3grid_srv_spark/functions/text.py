"""Deterministic text / web-page functions shared by the fixture generator
and the engine (BASELINE.json input_hint: byte-identical extracted text
per url across runs and parallelism levels).

All functions operate on pandas Series / NumPy arrays (Arrow-batch
friendly); none loops over rows in Python.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# re.ASCII: \d is [0-9] as in GEO_ANCHOR_RE_B (a str \d also matches
# e.g. Arabic-Indic digits, which float() accepts)
GEO_ANCHOR_RE = re.compile(
    r'<span class="geo">(-?\d+\.\d{6}),(-?\d+\.\d{6})</span>', re.ASCII)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")

LANGS = ["en", "de", "es", "fr", "pt"]

# tiny per-language stopword marker sets for the n-gram language heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "de": ["der", "und", "die", "das", "ist", "mit"],
    "es": ["el", "los", "que", "es", "con", "una"],
    "fr": ["le", "les", "est", "avec", "une", "dans"],
    "pt": ["o", "os", "que", "com", "uma", "para"],
}


# ---------------------------------------------------------------------------
# deterministic 64-bit mixing (xxhash-like avalanche; pure NumPy)
# ---------------------------------------------------------------------------

def mix64(x):
    """splitmix64 finalizer - deterministic uint64 -> uint64 avalanche."""
    x = np.asarray(x, dtype=np.uint64)
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def hash_str_series(s: pd.Series) -> np.ndarray:
    """deterministic 64-bit hash of a string Series (FNV-1a over utf-8),
    identical across processes (no PYTHONHASHSEED dependence)."""
    out = np.full(len(s), np.uint64(0xCBF29CE484222325), dtype=np.uint64)
    arr = s.fillna("").to_numpy()
    # vectorized over fixed-width view: encode then fold in chunks
    enc = [x.encode("utf-8") for x in arr.tolist()]  # C-level list op
    maxlen = max((len(b) for b in enc), default=0)
    if maxlen == 0:
        return out
    buf = np.zeros((len(enc), maxlen), dtype=np.uint8)
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    flat = b"".join(enc)
    fa = np.frombuffer(flat, dtype=np.uint8)
    pos = np.zeros(len(enc) + 1, dtype=np.int64)
    np.cumsum(lens, out=pos[1:])
    idx = np.arange(maxlen)
    mask = idx[None, :] < lens[:, None]
    buf[mask] = fa
    prime = np.uint64(0x100000001B3)
    for col in range(maxlen):
        m = mask[:, col]
        out[m] = (out[m] ^ buf[m, col].astype(np.uint64)) * prime
    return out


# ---------------------------------------------------------------------------
# extract_text: the byte-identical invariant function (SURVEY.md F15)
# ---------------------------------------------------------------------------

def extract_text(html: pd.Series) -> pd.Series:
    """html binary -> visible text: strip tags, collapse whitespace, strip.

    Single shared implementation used by both the synthetic pages
    generator and the engine, guaranteeing the per-url byte-identical
    invariant demanded by BASELINE.json input_hint.
    """
    def _one(b):
        if b is None:
            return ""
        raw = _TAG_RE.sub(b" ", bytes(b))
        return _WS_RE.sub(" ", raw.decode("utf-8", "replace")).strip()

    return html.map(_one)


GEO_ANCHOR_RE_B = re.compile(
    rb'<span class="geo">(-?\d+\.\d{6}),(-?\d+\.\d{6})</span>')


def extract_geo_anchors_arrow(arr):
    """Arrow-native anchor extraction: ONE regex scan over the batch's raw
    data buffer (no per-page decode, no Python bytes objects per row),
    match offsets -> row ids via searchsorted on the value offsets.

    arr: pyarrow BinaryArray / LargeBinaryArray of html.
    Returns (row_idx int64, lat float64, lng float64) — identical output
    to extract_geo_anchors on the same rows."""
    import pyarrow as pa
    n = len(arr)
    if n == 0:
        return (np.empty(0, np.int64), np.empty(0), np.empty(0))
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=off_dtype,
                         count=n + 1 + arr.offset)[arr.offset:]
    lo, hi = int(offs[0]), int(offs[-1])
    buf = arr.buffers()[2]
    if buf is None or hi == lo:
        # all-null / all-empty batch: Arrow may omit the data buffer
        return (np.empty(0, np.int64), np.empty(0), np.empty(0))
    data = memoryview(buf)
    starts, ends_l, lats, lngs = [], [], [], []
    for m in GEO_ANCHOR_RE_B.finditer(data, lo, hi):
        starts.append(m.start())
        ends_l.append(m.end())
        lats.append(m.group(1))
        lngs.append(m.group(2))
    if not starts:
        return (np.empty(0, np.int64), np.empty(0), np.empty(0))
    pos = np.array(starts, dtype=np.int64)
    offs64 = offs.astype(np.int64)
    rows = np.searchsorted(offs64, pos, side="right") - 1
    # drop any match that spans a row boundary (cannot occur with
    # well-formed pages; guard keeps row mapping exact regardless)
    keep = np.array(ends_l, dtype=np.int64) <= offs64[rows + 1]
    # bytes -> float via NumPy's C parser (no per-value Python float());
    # the dtype takes the widest match, so overlong values are not cut
    lat = np.array(lats).astype(np.float64)
    lng = np.array(lngs).astype(np.float64)
    if not keep.all():
        rows, lat, lng = rows[keep], lat[keep], lng[keep]
    return rows.astype(np.int64), lat, lng


def extract_geo_anchors(html: pd.Series):
    """html binary -> (row_idx, lat, lng) arrays for every geo anchor
    '<span class="geo">{lat:.6f},{lon:.6f}</span>' (multiple per page)."""
    idx_out, lat_out, lng_out = [], [], []
    txt = html.map(lambda b: bytes(b).decode("utf-8", "replace") if b is not None else "")
    found = txt.map(GEO_ANCHOR_RE.findall)
    counts = found.map(len).to_numpy()
    rows = np.repeat(np.arange(len(html)), counts)
    flat = [m for lst in found.tolist() for m in lst]
    if flat:
        lat = np.array([float(a) for a, _ in flat])
        lng = np.array([float(b) for _, b in flat])
    else:
        lat = np.empty(0)
        lng = np.empty(0)
    return rows, lat, lng


# ---------------------------------------------------------------------------
# text analytics (training-data pipeline ops)
# ---------------------------------------------------------------------------

def token_count(text: pd.Series) -> np.ndarray:
    """whitespace token count, SQL-expressible for the oracle."""
    t = text.fillna("")
    return t.str.split().map(len).to_numpy(dtype=np.int64)


def quality_features(text: pd.Series) -> pd.DataFrame:
    t = text.fillna("")
    n_chars = t.str.len().to_numpy(dtype=np.int64)
    n_tokens = token_count(t)
    n_punct = t.str.count(r"[\.,;:!\?]").to_numpy(dtype=np.int64)
    n_upper = t.str.count(r"[A-Z]").to_numpy(dtype=np.int64)
    mean_word_len = np.where(n_tokens > 0,
                             (n_chars - np.maximum(n_tokens - 1, 0)) /
                             np.maximum(n_tokens, 1), 0.0)
    return pd.DataFrame({
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": np.where(n_chars > 0, n_punct / np.maximum(n_chars, 1), 0.0),
        "upper_ratio": np.where(n_chars > 0, n_upper / np.maximum(n_chars, 1), 0.0),
        "mean_word_len": mean_word_len,
    })


def lang_id(text: pd.Series) -> pd.Series:
    """marker-word language heuristic over the 5 fixture languages."""
    t = text.fillna("").str.lower()
    scores = np.zeros((len(t), len(LANGS)), dtype=np.int64)
    for li, lang in enumerate(LANGS):
        for w in _LANG_MARKERS[lang]:
            scores[:, li] += t.str.count(rf"\b{w}\b").to_numpy(dtype=np.int64)
    best = scores.argmax(axis=1)
    none = scores.max(axis=1) == 0
    out = np.array(LANGS, dtype=object)[best]
    out[none] = "und"
    return pd.Series(out, index=text.index)


def shingles_hashes(text: pd.Series, n=3):
    """word n-gram shingle hash sets: returns (row_idx, hash) arrays."""
    toks = text.fillna("").str.lower().str.split()
    rows, hashes = [], []
    for i, ws in enumerate(toks.tolist()):
        if len(ws) < n:
            continue
        grams = [" ".join(ws[j:j + n]) for j in range(len(ws) - n + 1)]
        rows.extend([i] * len(grams))
        hashes.extend(grams)
    if not hashes:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    hv = hash_str_series(pd.Series(hashes))
    return np.asarray(rows, dtype=np.int64), hv


_MINHASH_P = np.uint64((1 << 61) - 1)


def minhash_signature(text: pd.Series, num_perm=32, n=3) -> np.ndarray:
    """(N, num_perm) uint64 minhash over word n-gram shingles.

    Permutations h_i(x) = (a_i * x + b_i) mod (2^61 - 1) with a/b from a
    fixed splitmix64 stream (deterministic everywhere)."""
    seeds = mix64(np.arange(1, num_perm * 2 + 1, dtype=np.uint64))
    a = (seeds[:num_perm] | np.uint64(1)) % _MINHASH_P
    b = seeds[num_perm:] % _MINHASH_P
    rows, hv = shingles_hashes(text, n)
    sig = np.full((len(text), num_perm), np.iinfo(np.uint64).max,
                  dtype=np.uint64)
    if len(rows) == 0:
        return sig
    x = (hv % _MINHASH_P).astype(np.uint64)
    for p in range(num_perm):
        hp = (a[p] * x + b[p]) % _MINHASH_P
        np.minimum.at(sig[:, p], rows, hp)
    return sig


def simhash64(text: pd.Series) -> np.ndarray:
    """64-bit simhash over whitespace tokens (token-hash bit voting)."""
    toks = text.fillna("").str.lower().str.split()
    rows = np.repeat(np.arange(len(toks)),
                     toks.map(len).to_numpy(dtype=np.int64))
    flat = [w for ws in toks.tolist() for w in ws]
    votes = np.zeros((len(text), 64), dtype=np.int64)
    if flat:
        hv = hash_str_series(pd.Series(flat))
        for bit in range(64):
            b = ((hv >> np.uint64(bit)) & np.uint64(1)).astype(np.int64) * 2 - 1
            np.add.at(votes[:, bit], rows, b)
    bits = (votes > 0).astype(np.uint64)
    out = np.zeros(len(text), dtype=np.uint64)
    for bit in range(64):
        out |= bits[:, bit] << np.uint64(bit)
    return out


def hamming64(a, b):
    x = np.asarray(a, dtype=np.uint64) ^ np.asarray(b, dtype=np.uint64)
    # popcount via bit tricks
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def rolling_fingerprint(text: pd.Series, window=16) -> np.ndarray:
    """document fingerprint: min rolling polynomial hash over char windows
    (winnowing-style single fingerprint per doc)."""
    t = text.fillna("")
    out = np.zeros(len(t), dtype=np.uint64)
    base = np.uint64(1000003)
    for i, s in enumerate(t.tolist()):  # per-doc; inner math vectorized
        bs = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
        if len(bs) < window:
            out[i] = mix64(np.uint64(len(bs)))
            continue
        pows = np.empty(window, dtype=np.uint64)
        pows[0] = np.uint64(1)
        for p in range(1, window):
            pows[p] = pows[p - 1] * base
        mat = np.lib.stride_tricks.sliding_window_view(bs, window).astype(np.uint64)
        hashes = (mat * pows[::-1]).sum(axis=1)
        out[i] = mix64(hashes.min())
    return out


def normalize_text_expr(col):
    """Unicode text-normalization chain for web-extracted text -- the
    cleanup every training pipeline runs before tokenization (public
    practice; e.g. the C4/CCNet cleaning steps): control chars dropped,
    the unicode space family mapped to plain space, curly quotes /
    dashes / ellipsis folded to ASCII, zero-width marks removed, runs
    of whitespace collapsed, ends trimmed.

    Returns a Column; pure codegen (translate + regexp_replace chain;
    the unicode characters are embedded as LITERALS so the pattern
    means the same thing in Java regex and RE2 -- no escape-dialect
    dependence). Shuffle-free by construction: a projection."""
    from pyspark.sql import functions as F
    c = F.col(col) if isinstance(col, str) else col
    # 1:1 character folds (translate = one table lookup per char):
    # curly quotes -> ', double curlies -> ", en/em dash + minus -> -,
    # nbsp / en-space / em-space / thin space / ideographic space -> ' '
    src = ("\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u201f"
           "\u2013\u2014\u2212\u00a0\u2002\u2003\u2009\u3000")
    dst = "''''" + '""""' + "---" + "     "
    c = F.translate(c, src, dst)
    # zero-width family + soft hyphen: removed outright
    c = F.regexp_replace(
        c, "[\u200b\u200c\u200d\ufeff\u00ad]", "")
    # ellipsis -> three dots
    c = F.regexp_replace(c, "\u2026", "...")
    # remaining C0/C1 control chars except tab/newline/cr
    c = F.regexp_replace(
        c, "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f]", "")
    # collapse whitespace runs, trim
    c = F.regexp_replace(c, "[ \t\r\n]+", " ")
    return F.trim(c)
