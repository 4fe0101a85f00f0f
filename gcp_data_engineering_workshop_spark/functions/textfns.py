"""Text column-expression library (pure pyspark.sql.functions — no
Python row path, everything stays inside whole-stage codegen).

Used by the training-data-pipeline operators: normalization,
tokenization, shingling, rolling hashes, quality features, and a
stopword-based language-ID heuristic. Where an expression feeds the
DuckDB oracle it is built from integer/string ops with identical
semantics in both engines (e.g. the Karp-Rabin char fold instead of
engine-specific hash functions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Karp-Rabin parameters: h*B + code mod P. P fits in 31 bits so
# h*B + 255 < 2^36 never overflows a bigint.
KR_BASE = 31
KR_MOD = (1 << 31) - 1

# Second independent KR channel for the WIDE (packed 62-bit) hash:
# a different base and a different prime modulus (2^31 - 19). The
# pack h1 * KR2_MOD + h2 is INJECTIVE in the pair (h1 < KR_MOD,
# h2 < KR2_MOD), so the packed value collides exactly when both
# channels collide: ~2^-62 per pair for non-adversarial inputs
# (each channel is a degree-(len) polynomial mod its prime, so the
# worst-case per-pair bound is (len/KR_MOD) * (len/KR2_MOD)).
# Max packed value < KR_MOD * KR2_MOD < 2^62 — always a positive
# bigint in both engines.
KR2_BASE = 131
KR2_MOD = (1 << 31) - 19

# Span-combine bases: polynomials over WORD hashes (see span_keys_of)
# use their own bases so that word-level and span-level structure
# cannot cancel. acc*B + wh < 2^31 * 2^20 + 2^31 never overflows.
SPAN_BASE1 = 1_000_003
SPAN_BASE2 = 999_983


def normalize(col) -> Column:
    """lower + collapse whitespace + trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def words(col) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize(col), " ")


def shingles_of(ws: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from an ALREADY-MATERIALIZED word
    array column. Keep the tokenization in its own projection: inside
    an interpreted lambda there is no common-subexpression
    elimination, so referencing `words(text)` directly would re-run
    the regex+split chain on every element access (quadratic blowup).
    """
    mk = F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return F.when(F.size(ws) >= n, F.array_distinct(mk)) \
            .otherwise(F.array().cast("array<string>"))


def shingles(col, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined). Empty array when the
    document has fewer than n words. Prefer shingles_of(words-column)
    in hot paths (see note there)."""
    return shingles_of(words(col), n)


def kr_hash(col) -> Column:
    """Karp-Rabin rolling hash of a string: fold over character codes
    (h*31 + ascii) mod (2^31-1). Exact-integer and expressible
    identically in DuckDB for the oracle."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * KR_BASE + F.ascii(ch)) % KR_MOD,
    )


def _kr_fold(c: Column, base: int, mod: int) -> Column:
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def wide_hash(col) -> Column:
    """62-bit cross-engine string fingerprint: the two independent KR
    channels packed into ONE bigint (h1 * KR2_MOD + h2 — injective in
    the pair, so per-pair collision ~2^-62; at N distinct keys expect
    ~N^2/2^63 birthday collisions, i.e. ~10^-7 at 10^6 keys and ~10^-2
    at 10^9). The shuffle-key replacement for long strings: 8 bytes on
    the wire instead of the string. Replays exactly in DuckDB via
    wide_hash_sql (parity pytest on adversarial strings)."""
    c = F.col(col) if isinstance(col, str) else col
    return _kr_fold(c, KR_BASE, KR_MOD) * KR2_MOD + _kr_fold(c, KR2_BASE, KR2_MOD)


def wide_hash_sql(expr: str) -> str:
    """DuckDB SQL computing exactly ``wide_hash`` of the string
    expression ``expr`` (same char folds, same pack)."""
    def fold(base, mod):
        return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
                f"list_transform(string_split({expr}, ''), "
                f"c -> CAST(ascii(c) AS BIGINT))), "
                f"(h, x) -> (h * {base} + x) % {mod})")
    return f"({fold(KR_BASE, KR_MOD)} * {KR2_MOD} + {fold(KR2_BASE, KR2_MOD)})"


def word_hashes_of(ws: Column) -> tuple[Column, Column]:
    """Per-word KR hashes of a materialized word-array column, one
    array per channel. Each word's characters fold ONCE here no
    matter how many spans it later appears in — the reason the span
    key build is O(words), not O(words * span_len)."""
    wh1 = F.transform(ws, lambda t: _kr_fold(t, KR_BASE, KR_MOD))
    wh2 = F.transform(ws, lambda t: _kr_fold(t, KR2_BASE, KR2_MOD))
    return wh1, wh2


def span_keys_of(wh1: Column, wh2: Column, span_words: int) -> Column:
    """Packed 62-bit fingerprints of every stride-1 span_words-word
    span, from the per-word hash arrays (word_hashes_of): channel i
    folds the span's word hashes with SPAN_BASEi mod KR[i]_MOD, the
    two fold values pack as h1 * KR2_MOD + h2. Empty array when the
    doc has fewer than span_words words.

    This is the span-dedup shuffle key (SURVEY C41/C52/C61): two
    spans get the same key iff their word sequences match, up to the
    documented ~2^-62 per-pair collision odds — the production Lee et
    al. trade (fingerprints on the wire, never the 60-70-byte span
    string, an order of magnitude less shuffle traffic). Exactness-
    critical runs can carry the two channels UNPACKED as a 2-column
    key and double the channel count for 2^-124. Replays in DuckDB
    via span_keys_sql (parity pytest)."""
    L = span_words
    return F.when(
        F.size(wh1) >= L,
        F.transform(
            F.sequence(F.lit(0), F.size(wh1) - L),
            lambda i: (F.aggregate(F.slice(wh1, i + 1, L),
                                   F.lit(0).cast("bigint"),
                                   lambda a, x: (a * SPAN_BASE1 + x) % KR_MOD)
                       * KR2_MOD
                       + F.aggregate(F.slice(wh2, i + 1, L),
                                     F.lit(0).cast("bigint"),
                                     lambda a, x: (a * SPAN_BASE2 + x)
                                     % KR2_MOD)))
    ).otherwise(F.array().cast("array<bigint>"))


def span_keys_sql(words_expr: str, span_words: int) -> str:
    """DuckDB SQL computing exactly ``span_keys_of`` over a word-list
    expression (for the cross-engine parity test; the span-dedup
    ORACLES keep keying on raw span strings — DuckDB is the exact
    referee either way, which is itself the collision check: a
    colliding fingerprint would flip a dup decision and hash-mismatch
    the driver row)."""
    L = span_words
    wh1 = (f"list_transform({words_expr}, t -> "
           f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
           f"list_transform(string_split(t, ''), "
           f"c -> CAST(ascii(c) AS BIGINT))), "
           f"(h, x) -> (h * {KR_BASE} + x) % {KR_MOD}))")
    wh2 = (f"list_transform({words_expr}, t -> "
           f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
           f"list_transform(string_split(t, ''), "
           f"c -> CAST(ascii(c) AS BIGINT))), "
           f"(h, x) -> (h * {KR2_BASE} + x) % {KR2_MOD}))")
    return (f"list_transform(range(0, greatest(len({words_expr}) - {L - 1}, 0)), "
            f"i -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"({wh1})[i+1:i+{L}]), (a, x) -> (a * {SPAN_BASE1} + x) % {KR_MOD})"
            f" * {KR2_MOD} + "
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"({wh2})[i+1:i+{L}]), (a, x) -> (a * {SPAN_BASE2} + x) % {KR2_MOD}))")


# --- Arrow-vectorized KR fold twins ------------------------------------
#
# The expression-tree folds above (kr_hash / word_hashes_of +
# span_keys_of) run on Spark's INTERPRETED higher-order-function path
# — split(c, '') allocates one single-char string per character and
# the lambda body re-enters the interpreter per element, never
# whole-stage codegen (the same pathology operators/dedup.py measured
# and documented for shingle hashing in r8). The twins below compute
# the IDENTICAL integers (same fold, same ord() domain the pytest
# parity suite pins for the JVM forms) as one numpy pass per Arrow
# batch: contribution form h = sum_i code_i * base^(len-1-i) mod M,
# which is exact in int64 (codes < 2^21, powers < 2^31, each product
# < 2^52, segment sums < rows * 2^31). Guide §4.2: hand whole batches
# to vectorized native code instead of per-element interpreted trees.
# The Column-expression forms stay for composition inside JVM lambdas
# (e.g. transform(sh, g -> kr_hash(g)) in streaming) and as the
# parity reference.


def _kr_fold_np(strs: list, base: int, mod: int,
                codes=None, lens=None, starts=None):
    """Exact KR fold of a batch of Python strings, vectorized.
    Returns int64 array; None entries hash to -1 sentinel (callers
    mask back to NULL). Pass precomputed (codes, lens, starts) to
    share the UTF-32 decode between the two channels."""
    import numpy as np

    n = len(strs)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    if codes is None:
        codes, lens, starts = _kr_codes(strs)
    null_mask = lens < 0
    pos_lens = np.where(null_mask, 0, lens)
    maxlen = int(pos_lens.max()) if n else 0
    if maxlen:
        pw = np.empty(maxlen, dtype=np.int64)
        pw[0] = 1
        for i in range(1, maxlen):
            pw[i] = (pw[i - 1] * base) % mod
        ends = starts + pos_lens
        owner_end = np.repeat(ends, pos_lens)
        gidx = np.arange(len(codes), dtype=np.int64)
        exp = owner_end - 1 - gidx
        contrib = codes * pw[exp] % mod
        nz = pos_lens > 0
        out[nz] = np.add.reduceat(contrib, starts[nz]) % mod
    out[null_mask] = -1
    return out


def _kr_codes(strs: list):
    """(codes, lens, starts) for a batch: UTF-32 code points of the
    concatenation, per-string code-point counts (None -> -1), and
    per-string start offsets. ONE encode call for the whole batch —
    ord() semantics exactly (Python str == code points)."""
    import numpy as np

    n = len(strs)
    lens = np.fromiter(
        ((-1 if s is None else len(s)) for s in strs),
        dtype=np.int64, count=n)
    pos_lens = np.where(lens < 0, 0, lens)
    joined = "".join(s for s in strs if s)
    codes = np.frombuffer(
        joined.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    ends = np.cumsum(pos_lens)
    starts = ends - pos_lens
    return codes, lens, starts


def _kr_fold_pair(strs: list):
    """Both KR channels of a batch in one decode pass:
    (h1 mod KR_MOD base 31, h2 mod KR2_MOD base 131), -1 for None."""
    codes, lens, starts = _kr_codes(strs)
    h1 = _kr_fold_np(strs, KR_BASE, KR_MOD, codes, lens, starts)
    h2 = _kr_fold_np(strs, KR2_BASE, KR2_MOD, codes, lens, starts)
    return h1, h2


def kr_hash_arrow(col) -> Column:
    """Arrow-vectorized twin of ``kr_hash``: identical bigint per row
    (NULL in, NULL out), one numpy pass per batch instead of the
    interpreted per-character fold."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _h(s):
        import pandas as pd

        vals = _kr_fold_np(s.tolist(), KR_BASE, KR_MOD)
        out = pd.Series(vals, dtype="int64").astype("Int64")
        out[vals < 0] = pd.NA  # -1 sentinel = NULL input
        return out

    _h.__annotations__ = {"s": pd.Series, "return": pd.Series}
    f = pandas_udf(_h, "bigint")
    c = F.col(col) if isinstance(col, str) else col
    return f(c)


def span_keys_arrow(ws: Column, span_words: int) -> Column:
    """Arrow-vectorized fusion of ``word_hashes_of`` +
    ``span_keys_of``: word array -> packed 62-bit span fingerprints in
    ONE pass (per-batch token dedup via pd.factorize, both channel
    folds over unique tokens only, then L shifted multiply-adds over
    the span table). Bit-identical to the expression form — same word
    folds, same span combine, same empty-array rule for docs shorter
    than span_words (and for NULL word arrays, matching
    size(NULL) = -1 taking the otherwise() branch)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    L = span_words

    def _keys(col_ws):
        import numpy as np

        docs = col_ws.tolist()
        nd = len(docs)
        wlens = np.fromiter(
            ((0 if w is None else len(w)) for w in docs),
            dtype=np.int64, count=nd)
        flat: list = []
        for w in docs:
            if w is not None and len(w):
                flat.extend(w)
        if flat:
            codes_idx, uniq = pd.factorize(
                np.asarray(flat, dtype=object))
            uh1, uh2 = _kr_fold_pair(list(uniq))
            # a None token inside an array folds like the JVM
            # transform: hash NULL -> stays NULL -> span containing
            # it NULL; corpora here never carry null tokens (words()
            # output), but keep the sentinel honest
            wh1 = uh1[codes_idx]
            wh2 = uh2[codes_idx]
        else:
            wh1 = wh2 = np.empty(0, dtype=np.int64)
        ends = np.cumsum(wlens)
        starts = ends - wlens
        m = np.maximum(wlens - L + 1, 0)
        total = int(m.sum())
        if total:
            sm_ends = np.cumsum(m)
            sm_starts = sm_ends - m
            # global word index of each span's first word
            sidx = (np.repeat(starts, m)
                    + (np.arange(total, dtype=np.int64)
                       - np.repeat(sm_starts, m)))
            acc1 = np.zeros(total, dtype=np.int64)
            acc2 = np.zeros(total, dtype=np.int64)
            for j in range(L):
                acc1 = (acc1 * SPAN_BASE1 + wh1[sidx + j]) % KR_MOD
                acc2 = (acc2 * SPAN_BASE2 + wh2[sidx + j]) % KR2_MOD
            packed = acc1 * KR2_MOD + acc2
            out = [packed[sm_starts[i]:sm_ends[i]] for i in range(nd)]
        else:
            empty = np.empty(0, dtype=np.int64)
            out = [empty for _ in range(nd)]
        return pd.Series(out)

    _keys.__annotations__ = {"col_ws": pd.Series, "return": pd.Series}
    f = pandas_udf(_keys, "array<bigint>")
    return f(ws)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (set semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# --- quality / language features ---------------------------------------

# Small built-in stopword lists (public, common function words).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "nicht"],
}


def stopword_ratio(col, lang: str = "en") -> Column:
    ws = words(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.array_intersect(F.array_distinct(ws), sw))
    n = F.size(F.array_distinct(ws))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio_of(ws: Column, lang: str = "en") -> Column:
    """Stopword ratio from a materialized word-array column (hot-path
    variant — see shingles_of for why)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    dws = F.array_distinct(ws)
    hits = F.size(F.array_intersect(dws, sw))
    n = F.size(dws)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def lang_id_of(text_col: Column, ws: Column) -> Column:
    """Heuristic language ID from raw text + a materialized word
    array: CJK characters -> zh; otherwise the language whose
    stopword list overlaps the distinct-token set most (ties broken
    by fixed priority en>es>fr>de; 'und' = no signal)."""
    has_cjk = F.regexp_count(text_col, F.lit(r"[一-鿿]")) > 0
    scores = {lang: stopword_ratio_of(ws, lang) for lang in STOPWORDS}
    best = F.greatest(*scores.values())
    pick = F.lit("und")
    for lang in ["de", "fr", "es", "en"]:  # reverse priority; later wins ties
        pick = F.when(scores[lang] == best, F.lit(lang)).otherwise(pick)
    return F.when(has_cjk, F.lit("zh")).when(best <= 0, F.lit("und")).otherwise(pick)


def lang_id(col) -> Column:
    """Heuristic language ID (single-expression variant; prefer
    lang_id_of with a materialized word column in hot paths).

    Note: the synthetic test corpus draws from one vocabulary for all
    lang labels, so accuracy there is meaningless — discrimination is
    unit-tested on real multilingual snippets instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    return lang_id_of(c, words(col))


def quality_features(col) -> dict[str, Column]:
    """Deterministic quality features of raw text."""
    c = F.col(col) if isinstance(col, str) else col
    ws = words(col)
    n_words = F.size(ws)
    n_chars = F.length(c)
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    n_digit = F.regexp_count(c, F.lit(r"[0-9]"))
    avg_word_len = F.when(
        n_words > 0,
        F.aggregate(ws, F.lit(0).cast("bigint"),
                    lambda acc, w: acc + F.length(w)).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(F.lit(0.0))
    return {
        "n_words": n_words.cast("bigint"),
        "n_chars": n_chars.cast("bigint"),
        "avg_word_len": avg_word_len,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "stopword_ratio_en": stopword_ratio(col, "en"),
    }


def quality_score(col) -> Column:
    """Composite quality score in [0,1]: rewards mid-length docs and
    stopword presence, penalizes punctuation/digit noise. Pure
    arithmetic over the features (identical in the oracle)."""
    f = quality_features(col)
    length_term = F.least(f["n_words"].cast("double") / 100.0, F.lit(1.0))
    return F.round(
        0.4 * length_term
        + 0.3 * F.least(f["stopword_ratio_en"] * 5.0, F.lit(1.0))
        + 0.3 * (1.0 - F.least(f["punct_ratio"] * 10.0 + f["digit_ratio"] * 5.0, F.lit(1.0))),
        6,
    )
