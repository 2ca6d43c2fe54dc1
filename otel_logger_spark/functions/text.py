"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All but the fingerprint are pure JVM expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

BPE_ISH_PATTERN = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword markers for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": (" the ", " of ", " and "),
    "es": (" la ", " el ", " los "),
    "fr": (" le ", " les ", " des "),
    "de": (" der ", " die ", " und "),
}


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens + char count."""
    return (
        df.withColumn("n_chars_calc", F.length(text_col))
        .withColumn("n_tokens", F.size(F.split(F.col(text_col), " ")))
        .withColumn(
            "n_bpe_tokens",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)),
        )
    )


def occurrences(text, needle: str):
    """Non-overlapping occurrence count via the length/replace identity —
    chosen because it is byte-identical across engines (oracle parity)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker scoring; best score wins, ties by language order,
    zero hits -> 'unk'."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    scores = {
        lang: sum([occurrences(padded, m) for m in marks], F.lit(0))
        for lang, marks in LANG_MARKERS.items()
    }
    best = None
    best_score = None
    for lang, s in scores.items():
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    guess = F.when(best_score > 0, best).otherwise(F.lit("unk"))
    return df.withColumn("lang_guess", guess)


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + a 0-1000 score.

    Integer-scaled (milli) so the score is engine-exact."""
    d = with_token_stats(df, text_col)
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    n_stop = sum(
        [occurrences(padded, m) for marks in LANG_MARKERS.values() for m in marks],
        F.lit(0),
    )
    d = d.withColumn("n_stopwords", n_stop)
    alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    d = d.withColumn("alpha_milli", F.floor(F.lit(1000) * alpha / F.greatest(F.col("n_chars_calc"), F.lit(1))))
    d = d.withColumn(
        "stop_milli",
        F.floor(F.lit(1000) * F.col("n_stopwords") / F.greatest(F.col("n_tokens"), F.lit(1))),
    )
    length_ok = (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100000)
    score = (
        F.when(length_ok, F.lit(400)).otherwise(F.lit(0))
        + F.least(F.col("stop_milli"), F.lit(300))
        + F.floor(F.col("alpha_milli") * 300 / 1000)
    )
    return d.withColumn("quality_milli", score.cast("long"))


# --- fingerprinting (rolling polynomial hash, winnowing-lite) -----------------

_FP_MOD = (1 << 61) - 1
_FP_BASE = 1_000_003


def _poly_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * _FP_BASE + ord(ch)) % _FP_MOD
    return h


def fingerprint_text(s: str, window: int = 32) -> int:
    """Winnowing-style fingerprint: min rolling-window polynomial hash.
    Deterministic, order-sensitive, robust to small appends."""
    if len(s) <= window:
        return _poly_hash(s)
    # rolling hash over fixed windows
    pw = pow(_FP_BASE, window - 1, _FP_MOD)
    h = _poly_hash(s[:window])
    best = h
    for i in range(window, len(s)):
        h = ((h - ord(s[i - window]) * pw) * _FP_BASE + ord(s[i])) % _FP_MOD
        if h < best:
            best = h
    return best


# --- vectorized batch implementation (numpy, bit-identical) -------------------
#
# The per-character Python loop above is the REFERENCE; the UDF below
# computes the identical function via the prefix-hash identity
#   H(window [a, b)) = B^(b-1) * (Q(b-1) - Q(a-1))  mod M,
#   Q(j) = sum_{k<=j} c_k * Binv^k                   mod M
# over the whole Arrow batch concatenated into one codepoint array — no
# per-document Python loop, no padding (documents of any length mix
# freely). All mod-2^61-1 arithmetic runs in uint64 with 31/30-bit limb
# splits so no product exceeds 2^63; cumulative sums split into 32-bit
# limbs so numpy cumsum cannot wrap. Measured on this box (round 7,
# BENCH/AB_fingerprint.md): ~4.6x the per-char loop per core, and the
# fastest of four candidates INCLUDING two pure-JVM expression
# formulations — interpreted higher-order-function chains evaluate at
# ~90-140 ns/char, losing to both Python paths, so "0 Python stages"
# would make this op slower, not faster.

import numpy as np

_FP_BINV = pow(_FP_BASE, _FP_MOD - 2, _FP_MOD)
_FP_WINDOW = 32
_NP_M = np.uint64(_FP_MOD)
# per-call character cap: bounds peak memory (~30 bytes/char of live
# arrays) and keeps every cumsum/limb bound proven below valid
_FP_CHUNK_CHARS = 1 << 25


def _np_mulmod(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """(u * v) % M for u, v < M = 2^61-1, elementwise, overflow-free:
    31/30-bit limb split; 2^62 === 2 (mod M)."""
    s31, s30, s1 = np.uint64(31), np.uint64(30), np.uint64(1)
    m31, m30 = np.uint64((1 << 31) - 1), np.uint64((1 << 30) - 1)
    u1, u0 = u >> s31, u & m31
    v1, v0 = v >> s31, v & m31
    term2 = (u1 * v1) << s1                     # *2^62 == *2 (mod M), < 2^61
    mid = (u1 * v0 + u0 * v1) % _NP_M           # < 2^62 before reduce
    m1, m0 = mid >> s30, mid & m30
    # mid*2^31 = m1*2^61 + m0*2^31 === m1 + m0*2^31; total < 2^63
    return (term2 + m1 + (m0 << s31) + u0 * v0) % _NP_M


_FP_POW_CACHE: dict[int, np.ndarray] = {}


def _np_pows(base: int, n: int) -> np.ndarray:
    """[base^0 .. base^(n-1)] mod M; grown geometrically and cached
    per worker (block construction: K sequential entries, then one
    vectorized mulmod against the B^(K*t) block table)."""
    cached = _FP_POW_CACHE.get(base)
    if cached is not None and len(cached) >= n:
        return cached[:n]
    size = 1024
    while size < n:
        size <<= 1
    k = min(2048, size)
    small = np.empty(k, np.uint64)
    x = 1
    for i in range(k):
        small[i] = x
        x = (x * base) % _FP_MOD
    if size <= k:
        out = small[:size]
    else:
        nblk = (size + k - 1) // k
        big = np.empty(nblk, np.uint64)
        bk = pow(base, k, _FP_MOD)
        x = 1
        for t in range(nblk):
            big[t] = x
            x = (x * bk) % _FP_MOD
        out = _np_mulmod(np.repeat(big, k)[:size], np.tile(small, nblk)[:size])
    _FP_POW_CACHE[base] = out
    return out[:n]


def _fp_chunk(texts: list[str]) -> np.ndarray:
    """Fingerprints (already shifted by -2^62) for one chunk; total
    characters must be < _FP_CHUNK_CHARS (caller-enforced)."""
    n = len(texts)
    lens = np.fromiter((len(t) for t in texts), np.int64, n)
    total = int(lens.sum())
    out = np.full(n, -(1 << 62), np.int64)  # len-0 docs: _poly_hash('') == 0
    if total == 0:
        return out
    c = np.frombuffer(
        "".join(texts).encode("utf-32-le"), np.uint32
    ).astype(np.uint64)
    binv = _np_pows(_FP_BINV, total)
    bpow = _np_pows(_FP_BASE, total)
    # v_g = c_g * Binv^g (c < 2^21 codepoints: cheap 2-limb mulmod)
    s21, s40 = np.uint64(21), np.uint64(40)
    m21, m40 = np.uint64((1 << 21) - 1), np.uint64((1 << 40) - 1)
    y = c * (binv >> s40)                        # < 2^42
    v = ((y >> s21) + ((y & m21) << s40) + (c * (binv & m40)) % _NP_M) % _NP_M
    # exact prefix sums: 32-bit limb cumsums (chunk cap keeps both < 2^63)
    lo = np.cumsum(v & np.uint64((1 << 32) - 1))
    hi = np.cumsum(v >> np.uint64(32))
    s29, s32 = np.uint64(29), np.uint64(32)
    q = ((hi >> s29) + ((hi & np.uint64((1 << 29) - 1)) << s32) + lo) % _NP_M
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]

    def span_hash(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """H over [a, b): B^(b-1) * (Q(b-1) - Q(a-1)), a >= 0, b > a."""
        qb = q[b - 1]
        qa = np.where(a > 0, q[np.maximum(a, 1) - 1], np.uint64(0))
        diff = np.where(qb >= qa, qb - qa, qb + _NP_M - qa)
        return _np_mulmod(bpow[b - 1], diff)

    short = (lens > 0) & (lens <= _FP_WINDOW)
    if short.any():
        out[short] = span_hash(
            starts[short], starts[short] + lens[short]
        ).astype(np.int64) - (1 << 62)
    longm = lens > _FP_WINDOW
    if longm.any():
        # every in-document window start, globally indexed
        n_win = np.where(longm, lens - _FP_WINDOW + 1, 0)
        wseg = np.concatenate(([0], np.cumsum(n_win)))[:-1]
        wdoc = np.repeat(np.arange(n), n_win)
        woff = np.arange(int(n_win.sum())) - np.repeat(wseg, n_win)
        g = starts[wdoc] + woff
        wh = span_hash(g, g + _FP_WINDOW)
        out[longm] = np.minimum.reduceat(wh, wseg[longm]).astype(
            np.int64
        ) - (1 << 62)
    return out


def fingerprints_batch(texts: list[str]) -> np.ndarray:
    """Vectorized fingerprint_text(t) - 2^62 for a list of non-null
    strings, chunked to bound memory and the cumsum domains."""
    chunks, cur, cur_chars = [], [], 0
    for t in texts:
        if cur and cur_chars + len(t) > _FP_CHUNK_CHARS:
            chunks.append(cur)
            cur, cur_chars = [], 0
        cur.append(t)
        cur_chars += len(t)
    if cur:
        chunks.append(cur)
    if not chunks:
        return np.empty(0, np.int64)
    return np.concatenate([_fp_chunk(ch) for ch in chunks])


@pandas_udf(T.LongType())
def fingerprint_udf(texts: pd.Series) -> pd.Series:
    mask = texts.notna()
    out = pd.Series(np.zeros(len(texts), np.int64), index=texts.index,
                    dtype="Int64")
    out[~mask] = None
    if mask.any():
        out[mask] = fingerprints_batch(list(texts[mask]))
    return out


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds a 64-bit content fingerprint (Arrow-batched pandas UDF — the
    one text op where Python beats the JVM: BENCH/AB_fingerprint.md has
    the measured comparison against a pure-expression fold)."""
    return df.withColumn("fingerprint", fingerprint_udf(F.col(text_col)))

