"""Vectorized Jaro-Winkler vs scalar reference + JW mapping goldens
transcribed from the reference's JaroWinklerMappingProcessorTest
(`processor/JaroWinklerMappingProcessorTest.java:53-206`, FIXTURES.md F3).
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from abecto_spark.functions.jw import jaro_winkler_batch, jaro_winkler_ref
from abecto_spark.operators.jw_mapping import (
    _SCORED_SCHEMA,
    _block_keys,
    _score_buckets_duckdb,
    jw_mapping,
)
from abecto_spark.operators.closure import connected_components

from tests.conftest import rows_set


def test_batch_matches_scalar_reference():
    random.seed(7)
    cases = [
        ("aaaaaaaaaaa", "aaaaaaaaaab"),
        ("efghefghefghefghefgh", "efghefghefghefghabcd"),
        ("abcdabcdabcdabcdabcd", "efghefghefghefghabcd"),
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("", ""),
        ("a", ""),
        ("abc", "abc"),
    ]
    for _ in range(1000):
        a = "".join(random.choices("abcdef", k=random.randint(0, 15)))
        b = "".join(random.choices("abcdef", k=random.randint(0, 15)))
        cases.append((a, b))
    got = jaro_winkler_batch(
        pd.Series([c[0] for c in cases]), pd.Series([c[1] for c in cases])
    )
    for (a, b), g in zip(cases, got):
        assert abs(jaro_winkler_ref(a, b) - g) < 1e-12, (a, b)


def _values(spark, rows):
    # rows: (dataset, resource, label)
    return spark.createDataFrame(
        [
            (d, r, "label", "literal", v, "http://www.w3.org/2001/XMLSchema#string", "")
            for d, r, v in rows
        ],
        "dataset string, resource string, variable string, o_kind string,"
        " o_value string, o_datatype string, o_lang string",
    )


def _groups(edges):
    cc = connected_components(edges)
    return {
        tuple(sorted(m))
        for m in (
            cc.groupBy("canonical_id").agg({"resource": "collect_set"}).collect()
        )
        for m in [m[1]]
    }


@pytest.mark.parametrize("block", ["cross", "grams"])
def test_use_selected_aspect(spark, block):
    # JaroWinklerMappingProcessorTest.java:54-74
    vals = _values(
        spark,
        [
            ("d1", "entity1", "abcdabcdabcdabcdabcd"),
            ("d1", "entity2", "efghefghefghefghefgh"),
            ("d1", "entity3", "ijklijklijklijklijkl"),
            ("d2", "entity4", "abcdabcdabcdabcdabcd"),
            ("d2", "entity5", "efghefghefghefghabcd"),
            ("d2", "entity6", "mnopmnopmnopmnopmnop"),
        ],
    )
    edges = jw_mapping(vals, ["label"], 0.90, case_sensitive=False, block=block)
    assert _groups(edges) == {("entity1", "entity4"), ("entity2", "entity5")}


def test_handle_zero_and_empty(spark):
    # :104-144 — empty side and below-threshold pairs produce no groups
    vals = _values(spark, [("d1", "entity1", "def"), ("d2", "entity2", "abc")])
    edges = jw_mapping(vals, ["label"], 0.90, block="cross")
    assert edges.count() == 0


def test_commutativ(spark):
    # :147-177 — only the bidirectional best match survives
    rows = [
        ("d1", "entity1", "aaaaaaaaaaa"),
        ("d1", "entity2", "aaaaaaaaaab"),
        ("d2", "entity3", "aaaaaaaaaaa"),
        ("d2", "entity4", "ccccccccccc"),
    ]
    for rs in (rows, [("d2" if d == "d1" else "d1", r, v) for d, r, v in rows]):
        edges = jw_mapping(_values(spark, rs), ["label"], 0.90, block="cross")
        assert _groups(edges) == {("entity1", "entity3")}


def test_case_sensitivity(spark):
    # :180-206
    vals = _values(spark, [("d1", "entity1", "abc"), ("d2", "entity2", "ABC")])
    edges = jw_mapping(vals, ["label"], 0.90, case_sensitive=False, block="cross")
    assert _groups(edges) == {("entity1", "entity2")}
    edges = jw_mapping(vals, ["label"], 0.90, case_sensitive=True, block="cross")
    assert edges.count() == 0


def _noisy_rows():
    # (dataset, resource, label): 60 names in d1, each with one random
    # substitution in d2
    random.seed(13)
    names = ["".join(random.choices("abcdefgh", k=10)) for _ in range(60)]
    rows = []
    for i, n in enumerate(names):
        rows.append(("d1", f"a{i}", n))
        noisy = list(n)
        pos = random.randrange(len(noisy))
        noisy[pos] = random.choice("abcdefgh")
        rows.append(("d2", f"b{i}", "".join(noisy)))
    return rows


def test_blocking_recall_vs_cross(spark):
    # measure that gram blocking loses no golden-relevant pairs on noisy data
    vals = _values(spark, _noisy_rows())
    exact = rows_set(jw_mapping(vals, ["label"], 0.90, block="cross"), "src", "dst")
    blocked = rows_set(jw_mapping(vals, ["label"], 0.90, block="grams"), "src", "dst")
    assert blocked == exact


_UNICODE_ROWS = [
    ("d1", "r1", "garçon"),
    ("d2", "r2", "garcon"),
    ("d1", "r3", "münchen"),
    ("d2", "r4", "munchen"),  # jw 0.9048
    ("d1", "r5", "katarina"),
    ("d2", "r6", "katarena"),  # ascii control
]


def test_unicode_linking_matches_reference_kernel(spark):
    """DuckDB's byte-walking JW must not leak into results: pairs touching
    non-ASCII go through the exact codepoint kernel in both the bucket
    scorer and the pair-level UDF. garçon/garcon scores 0.9222 (codepoints)
    vs 0.8944 (bytes) — at threshold 0.9 only the codepoint semantics
    links it."""
    values = _values(spark, _UNICODE_ROWS)
    expect = {("r1", "r2"), ("r3", "r4"), ("r5", "r6")}
    got_grams = {
        (r.src, r.dst)
        for r in jw_mapping(values, ["label"], 0.90, case_sensitive=False,
                            block="grams").collect()
    }
    got_cross = {
        (r.src, r.dst)
        for r in jw_mapping(values, ["label"], 0.90, case_sensitive=False,
                            block="cross").collect()
    }
    assert got_grams == expect
    assert got_cross == expect


# --- the in-task DuckDB bucket scorer (_score_buckets_duckdb) ------------

_T = 0.9
_R_MIN = max(3.0 * (_T - 0.4) / 0.6 - 2.0, 0.0)  # as in jw_mapping


def _keyed(spark, rows):
    """Blocking-keyed strings, as jw_mapping builds them, from
    (dataset, resource, label) rows."""
    strings = spark.createDataFrame(
        sorted({(d, "label", v) for d, _, v in rows}),
        "dataset string, variable string, value string",
    )
    return strings.select(
        "dataset", "variable", "value",
        F.explode(_block_keys(F.col("value"))).alias("bk"),
    )


def _expected_scored(rows):
    """The bucket scorer's contract in plain Python: every pair from
    different datasets (d1 < d2) that shares a block key and passes the
    length-ratio prune, with its reference JW score, kept at >= _T."""
    strings = sorted({(d, v) for d, _, v in rows})
    buckets = {}
    for d, v in strings:
        for bk in {v[0:2], v[1:3], v[2:4]}:
            buckets.setdefault(bk, set()).add((d, v))
    out = {}
    for members in buckets.values():
        for d1, v1 in members:
            for d2, v2 in members:
                lo, hi = sorted((len(v1), len(v2)))
                if d1 < d2 and lo >= _R_MIN * hi:
                    s = jaro_winkler_ref(v1, v2)
                    if s >= _T:
                        out[(d1, "label", v1, d2, v2)] = s
    return out


def _scored(df):
    return {(r.d1, r.variable, r.v1, r.d2, r.v2): r.score for r in df.collect()}


def _assert_scores_match(got, want):
    assert got.keys() == want.keys()
    for key, s in got.items():
        assert abs(s - want[key]) < 1e-12, key


@pytest.mark.parametrize("rows", [_noisy_rows(), _UNICODE_ROWS],
                         ids=["noisy", "unicode"])
def test_bucket_scores_equal_reference(spark, rows):
    # pins DuckDB's boost-threshold JW to the reference kernel per pair,
    # not only per final link set
    got = _scored(_score_buckets_duckdb(_keyed(spark, rows), _T, _R_MIN))
    assert got
    _assert_scores_match(got, _expected_scored(rows))


def _mixed_rows(alphabet, n, seed):
    # n labels over 3 datasets: n/3 base names, each copied into every
    # dataset with one random substitution
    rng = random.Random(seed)
    rows = []
    for i in range(n // 3):
        base = "".join(rng.choices(alphabet, k=8))
        for d in ("d1", "d2", "d3"):
            noisy = list(base)
            noisy[rng.randrange(8)] = rng.choice(alphabet)
            rows.append((d, f"{d}:{i}", "".join(noisy)))
    return rows


@pytest.mark.parametrize("alphabet", ["abcdeé", "éèêëçñ"],
                         ids=["mixed", "all_non_ascii"])
def test_salted_buckets_score_every_pair_once(spark, alphabet):
    # 6-letter alphabets put ~50 strings in each 2-gram bucket, so caps
    # of 3 and 7 salt every bucket into a triangle of many pair tasks;
    # the scored set must not depend on the cap
    rows = _mixed_rows(alphabet, 600, seed=5)
    keyed = _keyed(spark, rows)
    want = _expected_scored(rows)
    assert want
    for cap in (3, 7, 4000):
        _assert_scores_match(
            _scored(_score_buckets_duckdb(keyed, _T, _R_MIN, bucket_cap=cap)),
            want,
        )


def test_bucket_scorer_with_empty_tasks_keeps_schema(spark):
    # one bucket and 4 shuffle partitions: most scoring tasks get no rows
    rows = [("d1", "r1", "aaaaaaaa"), ("d2", "r2", "aaaaaaab")]
    out = _score_buckets_duckdb(_keyed(spark, rows), _T, _R_MIN)
    assert out.schema == spark.createDataFrame([], _SCORED_SCHEMA).schema
    _assert_scores_match(_scored(out), _expected_scored(rows))
    none = _score_buckets_duckdb(
        _keyed(spark, [("d1", "r1", "abc"), ("d2", "r2", "xyz")]), _T, _R_MIN
    )
    assert none.schema == out.schema and none.count() == 0
