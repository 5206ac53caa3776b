"""Edge-case robustness: empty tables, all-null join attrs, unicode,
single-row inputs — every operator should return empty/correct
results, never throw."""

from __future__ import annotations

import pytest

from sparksimjoin import (
    QgramTokenizer,
    WhitespaceTokenizer,
    edit_distance_join,
    jaccard_join,
    overlap_join,
)
from sparksimjoin.clustering import connected_components
from sparksimjoin.dedup import exact_dedup, minhash_lsh_dedup

WS = WhitespaceTokenizer()
SCHEMA = "id long, name string"


@pytest.fixture(scope="module")
def empty(spark):
    return spark.createDataFrame([], SCHEMA)


@pytest.fixture(scope="module")
def nulls(spark):
    return spark.createDataFrame([(1, None), (2, None)], SCHEMA)


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [(1, "héllo wörld"), (2, "héllo wörld"), (3, "ζeta функция 漢字")], SCHEMA
    )


def test_empty_tables(spark, empty, tiny):
    assert jaccard_join(empty, tiny, "id", "id", "name", "name", WS, 0.5).count() == 0
    assert jaccard_join(tiny, empty, "id", "id", "name", "name", WS, 0.5).count() == 0
    assert edit_distance_join(empty, empty, "id", "id", "name", "name", 1).count() == 0


def test_all_null_attrs(spark, nulls, tiny):
    assert jaccard_join(nulls, tiny, "id", "id", "name", "name", WS, 0.5).count() == 0
    withmissing = jaccard_join(
        nulls, tiny, "id", "id", "name", "name", WS, 0.5, allow_missing=True
    )
    assert withmissing.count() == 2 * 3  # every null row x every right row


def test_unicode(spark, tiny):
    out = jaccard_join(tiny, tiny, "id", "id", "name", "name", WS, 0.9, self_join=True)
    pairs = {(r["l_id"], r["r_id"]) for r in out.collect()}
    assert pairs == {(1, 2)}
    ed = edit_distance_join(tiny, tiny, "id", "id", "name", "name", 0, self_join=True)
    assert {(r["l_id"], r["r_id"]) for r in ed.collect()} == {(1, 2)}
    qg = jaccard_join(tiny, tiny, "id", "id", "name", "name",
                      QgramTokenizer(qval=2), 0.9, self_join=True)
    assert {(r["l_id"], r["r_id"]) for r in qg.collect()} == {(1, 2)}


def test_overlap_empty_result(spark, tiny):
    out = overlap_join(tiny, tiny, "id", "id", "name", "name", WS, 5, self_join=True)
    assert out.count() == 0


def test_cc_empty_edges(spark):
    edges = spark.createDataFrame([], "l_id long, r_id long")
    assert connected_components(edges).count() == 0


def test_dedup_edge_cases(spark, empty, nulls):
    assert exact_dedup(empty, "id", "name").count() == 0
    got = {r["id"]: r["group_id"] for r in exact_dedup(nulls, "id", "name").collect()}
    assert got == {1: 1, 2: 2}  # nulls are singleton groups
    assert minhash_lsh_dedup(empty, "id", "name").count() == 0


def test_cache_release(spark, tiny):
    """Internal persists are tracked and bulk-releasable; no storage
    accumulates across a multi-join session (VERDICT r1 #9)."""
    from sparksimjoin import release_all, scoped_caches

    release_all()  # clean slate
    baseline = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    jaccard_join(tiny, tiny, "id", "id", "name", "name", WS, 0.5,
                 self_join=True).count()
    minhash_lsh_dedup(tiny, "id", "name", threshold=0.5).count()
    assert release_all() > 0
    # ContextCleaner may async-drop older unreferenced caches too, so
    # assert no NET accumulation rather than an exact count
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= baseline
    with scoped_caches():
        jaccard_join(tiny, tiny, "id", "id", "name", "name", WS, 0.5,
                     self_join=True).count()
    assert release_all() == 0  # scoped block released its own caches


def test_exact_dedup_hot_text_no_window(spark):
    """A hot duplicate text must not funnel into one window partition:
    the plan is a partial-aggregating groupBy + hash join, no Window."""
    rows = [(i, "boilerplate terms of service") for i in range(500)]
    rows += [(1000 + i, f"unique doc {i}") for i in range(50)]
    rows += [(2000, None)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = exact_dedup(df, "id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    got = {r["id"]: r["group_id"] for r in out.collect()}
    assert all(got[i] == 0 for i in range(500))
    assert got[1000] == 1000 and got[2000] == 2000
    assert len(got) == 551


def test_canonical_set_key_injective(spark):
    """Netstring token encoding keeps the dedup key injective for
    tokens containing the NUL joiner: {'a\\x00b','c'} vs
    {'a','b\\x00c'} are distinct sets and must not collapse into one
    dedup group (which emitted false similarity-1.0 pairs)."""
    from pyspark.sql import functions as F

    from sparksimjoin.joins.core import canonical_set_key

    df = spark.createDataFrame([(1, "a\x00b c"), (2, "a b\x00c")], SCHEMA)
    keys = df.select(canonical_set_key(WS, F.col("name")).alias("k")).collect()
    assert keys[0]["k"] != keys[1]["k"]
    # end-to-end: forced dedup must not pair them at similarity 1.0
    out = jaccard_join(df, df, "id", "id", "name", "name", WS, 0.999,
                       self_join=True, dedup_strings=True)
    assert out.count() == 0


def test_token_ranks_deterministic(spark):
    """tid must be a deterministic function of the data — equal to the
    dense 0-based rank by (cnt, token) — and identical across two
    independent materializations with different input partitioning
    (the monotonically_increasing_id version could diverge between a
    plan's branches after cache loss and silently mis-join)."""
    from pyspark.sql import functions as F

    from sparksimjoin.joins.core import build_token_ranks, tokenize_table

    rows = [(i, f"w{i % 7} common w{i % 3} x{i}") for i in range(100)]
    df1 = spark.createDataFrame(rows, SCHEMA).repartition(8)
    df2 = spark.createDataFrame(list(reversed(rows)), SCHEMA).repartition(3)
    got1 = {
        r["token"]: (r["cnt"], r["tid"])
        for r in build_token_ranks([tokenize_table(df1, "id", "name", WS)]).collect()
    }
    got2 = {
        r["token"]: (r["cnt"], r["tid"])
        for r in build_token_ranks([tokenize_table(df2, "id", "name", WS)]).collect()
    }
    assert got1 == got2
    # dense rank in (cnt, token) order, 0-based
    expected_order = sorted(got1, key=lambda t: (got1[t][0], t))
    assert [got1[t][1] for t in expected_order] == list(range(len(got1)))


def test_dedup_gid_deterministic(spark):
    """__gid is the min member record id — data-derived, not a
    materialization artifact."""
    from sparksimjoin.joins.core import string_dedup_maps

    df = spark.createDataFrame(
        [(5, "x"), (3, "x"), (9, "y"), (1, "y"), (7, "z")], SCHEMA
    )
    _, _, mp, _ = string_dedup_maps(df, df, "id", "id", "name", "name")
    groups = {}
    for r in mp.collect():
        groups.setdefault(r["__gid"], set()).add(r["__oid"])
    assert set(groups) == {3, 1, 7}
    for gid, members in groups.items():
        assert gid == min(members)


def test_series_to_str_non_finite():
    """inf/-inf must render, not raise OverflowError in the
    integrality check; NaN stays missing."""
    import pandas as pd

    from sparksimjoin.converter import series_to_str

    s = pd.Series([1.0, 2.5, float("inf"), float("-inf"), float("nan"), None])
    got = series_to_str(s).tolist()
    assert got[:4] == ["1", "2.5", "inf", "-inf"]
    assert got[4] is None and got[5] is None


def test_salt_cap_zero_rejected(spark, tiny):
    """salt_cap=0 must raise, not silently coerce to the default (the
    old `salt_cap or AUTO_SALT_CAP` falsy trap): salting is mandatory
    because pinned exchanges opt out of AQE skew handling."""
    import pytest as _pytest

    from sparksimjoin import WhitespaceTokenizer, jaccard_join
    from sparksimjoin.joins.core import resolve_salt_cap

    assert resolve_salt_cap(None) > 0
    assert resolve_salt_cap(7) == 7
    with _pytest.raises(ValueError, match="salt_cap"):
        resolve_salt_cap(0)
    with _pytest.raises(ValueError, match="salt_cap"):
        jaccard_join(tiny, tiny, "id", "id", "name", "name",
                     WhitespaceTokenizer(), 0.5, salt_cap=0, dedup_strings=False)


def test_duplicate_key_gid_collision_raises(spark):
    """With duplicate key-attr values, min(__oid) group ids can
    collide across dedup groups and expand_gid_pairs would silently
    cross-contaminate memberships. The in-plan guard must raise
    instead (round-3 ADVICE #2)."""
    import pytest as _pytest

    from sparksimjoin.joins.core import string_dedup_maps

    # key 1 appears under two DIFFERENT join-attr values -> the 'aa'
    # group and the 'bb' group both get gid min(__oid) = 1
    rows = [(1, "aa"), (2, "aa"), (1, "bb"), (3, "bb")]
    df = spark.createDataFrame(rows, "id long, name string")
    reps, _, mp, _ = string_dedup_maps(df, df, "id", "id", "name", "name")
    with _pytest.raises(Exception, match="duplicate key"):
        mp.collect()


def test_unique_key_gid_guard_passes(spark):
    """The collision guard is a no-op on contract-conforming input."""
    from sparksimjoin.joins.core import string_dedup_maps

    rows = [(1, "aa"), (2, "aa"), (3, "bb")]
    df = spark.createDataFrame(rows, "id long, name string")
    reps, _, mp, _ = string_dedup_maps(df, df, "id", "id", "name", "name")
    assert sorted((r["__gid"], r["__oid"]) for r in mp.collect()) == [
        (1, 1), (1, 2), (3, 3)
    ]


def test_dup_factor_size_biased_skew(spark):
    """The auto-dedup decision statistic is the SIZE-BIASED mean
    duplication (sum d^2 / sum d), not the plain mean: a corpus of
    unique rows plus one hot boilerplate key must trip the pre-pass
    even though the plain mean stays ~1 (blocking co-buckets the hot
    key's copies, so its pair work is quadratic in the copy count)."""
    from pyspark.sql import functions as F

    from sparksimjoin.joins.core import dup_factor, resolve_dedup

    # 900 unique + 100 copies of one value: plain mean = 1000/901 ~ 1.1
    # (old stat -> auto False); size-biased = (900 + 100^2)/1000 = 10.9
    skew = spark.range(1000).select(
        F.when(F.col("id") < 100, F.lit("hot"))
        .otherwise(F.col("id").cast("string"))
        .alias("t")
    )
    f = dup_factor(skew, "t")
    assert abs(f - 10.9) < 1e-6, f
    assert resolve_dedup("auto", skew, skew, "t", "t") is True

    # uniform-unique corpus: statistic equals the plain mean (1.0)
    uniq = spark.range(1000).select(F.col("id").cast("string").alias("t"))
    assert abs(dup_factor(uniq, "t") - 1.0) < 1e-6
    assert resolve_dedup("auto", uniq, uniq, "t", "t") is False

    # uniform duplication f: statistic equals f exactly (4 copies
    # each -> 4.0; f*f = 16 >= 4 -> True)
    unif = spark.range(1000).select((F.col("id") % 250).cast("string").alias("t"))
    assert abs(dup_factor(unif, "t") - 4.0) < 1e-6
    assert resolve_dedup("auto", unif, unif, "t", "t") is True

    # nulls excluded; empty frame -> 0 without error
    withnull = spark.range(10).select(
        F.when(F.col("id") < 5, F.col("id").cast("string")).alias("t")
    )
    assert abs(dup_factor(withnull, "t") - 1.0) < 1e-6
    assert dup_factor(withnull.where("t IS NULL AND t IS NOT NULL"), "t") == 0
