"""Property: the stats_parsed vectorized prune (r14, VERDICT r13
#1) keeps EXACTLY the files the per-file _prune_survives loop
keeps, over randomized footer stats / null counts / partition
tokens and randomized conjuncts — plus hand-written edge cases for
the domains where the vector path is deliberately conservative
(superset-only)."""

from __future__ import annotations

import json
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gcp_data_engineering_workshop_spark.sources import txlog as T

TYPES = {"k": "bigint", "f": "double", "s": "string", "p": "int"}
FLOAT_COLS = {"f"}

_ints = st.integers(-50, 50)
_flts = st.floats(-50, 50, allow_nan=False, allow_infinity=False)
_strs = st.text(alphabet="abcx", min_size=0, max_size=3)


def _rng(vals):
    return st.tuples(vals, vals).map(lambda t: sorted(t))


_meta = st.fixed_dictionaries({}, optional={
    "stats": st.fixed_dictionaries({}, optional={
        "k": _rng(_ints), "f": _rng(_flts), "s": _rng(_strs)}),
    "nulls": st.fixed_dictionaries({}, optional={
        "k": st.tuples(st.integers(0, 10), st.integers(0, 10))
             .map(lambda t: [min(t), max(t)]),
        "s": st.tuples(st.integers(0, 10), st.integers(0, 10))
             .map(lambda t: [min(t), max(t)])}),
    "partition": st.fixed_dictionaries({}, optional={
        "p": st.one_of(st.none(),
                       st.integers(0, 5).map(str))}),
})

_lit = st.one_of(_ints, _flts, _strs)
_col = st.sampled_from(["k", "f", "s", "p"])
_conj = st.one_of(
    st.tuples(_col, st.sampled_from(["<", "<=", "=", ">", ">="]),
              _lit),
    st.tuples(_col, st.sampled_from(["isnull", "notnull"]),
              st.none()),
    st.tuples(_col, st.just("in"),
              st.lists(_lit, min_size=1, max_size=3)
              .map(tuple)),
)


def _mk_store(tmp_path, metas, types=TYPES, inv=None,
              row_group_size=None):
    arrays = {"path": pa.array([f"p{i}" for i in range(len(metas))],
                               type=pa.string()),
              "meta": pa.array([json.dumps(m) for m in metas],
                               type=pa.string())}
    arrays.update(T._cp_stat_arrays(metas, types, inv or {}))
    p = str(tmp_path / "cp.parquet")
    pq.write_table(pa.table(arrays), p,
                   row_group_size=row_group_size)
    return T._CpStore(p, len(metas))


@settings(max_examples=120, deadline=None)
@given(metas=st.lists(_meta, min_size=1, max_size=12),
       conjuncts=st.lists(_conj, min_size=1, max_size=3))
def test_vector_prune_equals_slow_path(tmp_path_factory, metas,
                                       conjuncts):
    tmp = tmp_path_factory.mktemp("vp")
    store = _mk_store(tmp, metas)
    vec = T._cp_vector_prune(store, conjuncts, TYPES, FLOAT_COLS,
                             {}, {})
    slow = {f"p{i}" for i, m in enumerate(metas)
            if T._prune_survives(m, conjuncts, TYPES, FLOAT_COLS,
                                 {}, {})}
    if vec is None:
        return  # no vectorizable conjunct: caller falls back
    assert set(vec[0]) == slow, (metas, conjuncts)


@settings(max_examples=60, deadline=None)
@given(metas=st.lists(_meta, min_size=1, max_size=12),
       conjuncts=st.lists(_conj, min_size=1, max_size=3))
def test_vector_prune_streamed_regimes_equal_slow_path(
        tmp_path_factory, metas, conjuncts):
    """The r15 STREAMED resolution under the same property, with
    BOTH survivor-fetch regimes forced reachable: tiny (4-row)
    parquet row groups, _CP_STREAM_BYTES=0 (always stream), and
    _PRUNE_TAKE_BOUND=0 so any example keeping > n/4 files rides
    the sequential filtered pass (where the r15 mask-offset
    regression hid) while selective examples ride the targeted
    take — every path must equal the per-file loop exactly."""
    tmp = tmp_path_factory.mktemp("vps")
    store = _mk_store(tmp, metas, row_group_size=4)
    prev_sb, prev_tb = T._CP_STREAM_BYTES, T._PRUNE_TAKE_BOUND
    T._CP_STREAM_BYTES, T._PRUNE_TAKE_BOUND = 0, 0
    try:
        vec = T._cp_vector_prune(store, conjuncts, TYPES,
                                 FLOAT_COLS, {}, {})
    finally:
        T._CP_STREAM_BYTES, T._PRUNE_TAKE_BOUND = prev_sb, prev_tb
    slow = {f"p{i}" for i, m in enumerate(metas)
            if T._prune_survives(m, conjuncts, TYPES, FLOAT_COLS,
                                 {}, {})}
    if vec is None:
        return
    assert set(vec[0]) == slow, (metas, conjuncts)
    assert store._tbl is None and store._stats_tbl is None


def test_vector_prune_conservative_on_unsafe_domains(tmp_path):
    """Where exactness can't be guaranteed the vector path keeps a
    SUPERSET (never fewer) of the slow path's survivors: huge int
    literals against float columns skip the conjunct."""
    metas = [{"stats": {"f": [0.0, 10.0]}},
             {"stats": {"f": [1e18, 2e18]}}]
    store = _mk_store(tmp_path, metas)
    conj = [("f", "=", 2 ** 53 + 1)]
    vec = T._cp_vector_prune(store, conj, TYPES, FLOAT_COLS, {}, {})
    slow = {f"p{i}" for i, m in enumerate(metas)
            if T._prune_survives(m, conj, TYPES, FLOAT_COLS,
                                 {}, {})}
    assert vec is None or set(vec[0]) >= slow


def test_vector_prune_int_col_float_literals(tmp_path):
    """floor/ceil threshold exactness on int columns: every op,
    integral and non-integral float literals, boundary values."""
    metas = [{"stats": {"k": [0, 9]}}, {"stats": {"k": [10, 19]}},
             {"stats": {"k": [20, 29]}}]
    store = _mk_store(tmp_path, metas)
    for lit in (9.5, 10.0, 10.5, 19.0, 19.5, 20.0, -0.5, 29.0,
                29.5):
        for op in ("<", "<=", "=", ">", ">="):
            conj = [("k", op, lit)]
            vec = T._cp_vector_prune(store, conj, TYPES,
                                     FLOAT_COLS, {}, {})
            slow = {f"p{i}" for i, m in enumerate(metas)
                    if T._prune_survives(m, conj, TYPES,
                                         FLOAT_COLS, {}, {})}
            assert vec is not None and set(vec[0]) == slow, \
                (op, lit)


def test_vector_prune_colmap_rekeying(tmp_path):
    """Stat columns are PHYSICALLY keyed: a renamed logical column
    resolves through cmap; a logical name that equals another
    column's physical name must NOT answer from the stale
    column."""
    metas = [{"stats": {"c1": [0, 9]}}, {"stats": {"c1": [10, 19]}}]
    types = {"key": "bigint"}
    cmap, inv = {"key": "c1"}, {"c1": "key"}
    store = _mk_store(tmp_path, metas, types, inv)
    vec = T._cp_vector_prune(store, [("key", "=", 15)], types,
                             set(), cmap, inv)
    assert vec is not None and set(vec[0]) == {"p1"}
    # 'c1' as a LOGICAL name is someone else's physical name now
    vec2 = T._cp_vector_prune(store, [("c1", "=", 15)], types,
                              set(), cmap, inv)
    assert vec2 is None or set(vec2[0]) == {"p0", "p1"}


def _mk_digest(vals, nb=64):
    """A _KeyDigest built in pure python with the same formula the
    Spark build uses (float64 projection, equal-width buckets;
    strings: kmin/kmax in the UTF-8 byte domain, first-8-bytes
    projection)."""
    import numpy as np
    vals = sorted(vals)
    if isinstance(vals[0], str):
        kind, proj = "str", T._KeyDigest._proj_str
        enc = [v.encode("utf-8") for v in vals]
        kmin, kmax = min(enc), max(enc)
    else:
        kind, proj = "num", float
        kmin, kmax = vals[0], vals[-1]
    ps = [proj(v) for v in vals]
    pmin, pmax = min(ps), max(ps)
    w = (pmax - pmin) / nb
    bits = np.zeros(nb, dtype=bool)
    if w == 0.0:
        bits[0] = True
    else:
        for p in ps:
            b = int(math.floor((p - pmin) / w))
            bits[max(0, min(b, nb - 1))] = True
    return T._KeyDigest(kind, kmin, kmax, pmin, pmax, w, bits,
                        has_nan=False)


_keyset = st.lists(st.integers(-60, 60), min_size=1, max_size=8,
                   unique=True).map(sorted)
_fkeyset = st.lists(st.floats(-60, 60, allow_nan=False,
                              allow_infinity=False),
                    min_size=1, max_size=8, unique=True).map(sorted)
# string keys and stats over an alphabet that exercises code-point
# order: NUL (numpy's 'U' strips trailing NULs), a BMP char above
# the surrogate range and a supplementary-plane char (UTF-16 code
# units order these two the other way round)
_ustrs = st.text(alphabet="ab\x00\uffff\U0001f600", min_size=0,
                 max_size=3)
_skeyset = st.lists(_ustrs, min_size=1, max_size=8,
                    unique=True).map(sorted)
_mmeta = st.fixed_dictionaries({}, optional={
    "stats": st.fixed_dictionaries({}, optional={
        "k": _rng(_ints), "f": _rng(_flts), "s": _rng(_ustrs)}),
    "partition": st.fixed_dictionaries({}, optional={
        "p": st.one_of(st.none(),
                       st.integers(0, 5).map(str))}),
})


@settings(max_examples=100, deadline=None)
@given(metas=st.lists(_mmeta, min_size=1, max_size=12),
       iks=_keyset, fks=_fkeyset, sks=_skeyset,
       use_digest=st.booleans(), str_digest=st.booleans(),
       cols=st.sampled_from(["k", "kf", "s", "ks", "kfs"]))
def test_vector_merge_touch_equals_per_file_loop(
        tmp_path_factory, metas, iks, fks, sks, use_digest,
        str_digest, cols):
    """The in-process vectorized merge touch test (coarse
    searchsorted/bucket/byte-range masks + exact re-verify) returns
    EXACTLY the per-file _merge_touch_test survivors, over
    randomized stats/tokens and int/float/string/digest key
    regimes, single and composite."""
    tmp = tmp_path_factory.mktemp("vm")
    store = _mk_store(tmp, metas)
    col_tests = []
    if "k" in cols:
        ik = _mk_digest(iks) if use_digest else iks
        col_tests.append(("k", "k", ik, False, False, False))
    if "f" in cols:
        col_tests.append(("f", "f", fks, False, True, False))
    if "s" in cols:
        sk = _mk_digest(sks) if str_digest else sks
        col_tests.append(("s", "s", sk, False, False, False))
    vec = T._merge_touch_vec(store, col_tests, None, TYPES, {})
    slow = [f"p{i}" for i, m in enumerate(metas)
            if T._merge_touch_test(m, col_tests, None, f"p{i}",
                                   TYPES, {})]
    if vec is None:
        return
    assert vec == slow, (metas, col_tests)


def test_vector_merge_touch_edges(tmp_path):
    """Edge regimes: empty key list (stat-bearing files provably
    untouched, stat-less files stay), string keys (coarse
    code-point searchsorted, alone or with a numeric column), NaN
    float keys (column contributes nothing)."""
    metas = [{"stats": {"k": [0, 9], "s": ["a", "c"]}},
             {"stats": {"k": [10, 19]}},
             {}]  # stat-less: conservative touch
    store = _mk_store(tmp_path, metas)
    # empty keys: only the stat-less file survives
    vec = T._merge_touch_vec(
        store, [("k", "k", [], False, False, False)], None,
        TYPES, {})
    assert vec == ["p2"]
    # string keys alone vectorize: 'b' lands in p0's [a, c], the
    # s-stat-less files stay; 'x' excludes p0
    assert T._merge_touch_vec(
        store, [("s", "s", ["b"], False, False, False)], None,
        TYPES, {}) == ["p0", "p1", "p2"]
    assert T._merge_touch_vec(
        store, [("s", "s", ["x"], False, False, False)], None,
        TYPES, {}) == ["p1", "p2"]
    # combined with a numeric column, both tests apply
    vec2 = T._merge_touch_vec(
        store, [("k", "k", [5], False, False, False),
                ("s", "s", ["x"], False, False, False)], None,
        TYPES, {})
    assert vec2 == ["p2"]  # k hits p0, but s='x' excludes it
    # NaN float keys: the float column can't exclude
    vec3 = T._merge_touch_vec(
        store, [("k", "k", [5], False, False, False),
                ("f", "f", [1.0], True, True, False)], None,
        TYPES, {})
    assert vec3 == ["p0", "p2"]
