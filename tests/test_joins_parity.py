"""Naive-oracle parity for all six joins (reference test strategy:
expected sets computed in-test by brute force — SURVEY.md §5.1)."""

from __future__ import annotations

import math

import pytest

from sparksimjoin import (
    QgramTokenizer,
    WhitespaceTokenizer,
    cosine_join,
    dice_join,
    edit_distance_join,
    jaccard_join,
    overlap_coefficient_join,
    overlap_join,
)
from sparksimjoin.fixtures import make_person_tables
from sparksimjoin.naive import naive_edit_distance_join, naive_set_sim_join

A_PDF, B_PDF = make_person_tables(60, 80, seed=7)


@pytest.fixture(scope="module")
def tables(spark):
    a = spark.createDataFrame(A_PDF).cache()
    b = spark.createDataFrame(B_PDF).cache()
    a.count(), b.count()
    return a, b


def _collect_pairs(df):
    rows = df.collect()
    out = {}
    for r in rows:
        d = r.asDict()
        key = (d["l_id"], d["r_id"])
        assert key not in out, f"duplicate pair {key}"
        out[key] = d.get("_sim_score")
    return out


def _expected_pairs(triples):
    out = {}
    for lid, rid, score in triples:
        out[(lid, rid)] = score
    return out


def _assert_match(got, expected, ctx):
    assert set(got) == set(expected), (
        f"{ctx}: missing={sorted(set(expected) - set(got))[:10]} "
        f"extra={sorted(set(got) - set(expected))[:10]}"
    )
    for k, v in expected.items():
        g = got[k]
        if v is None:
            assert g is None, (ctx, k, g)
        else:
            assert g is not None and math.isclose(g, v, rel_tol=0, abs_tol=1e-9), (ctx, k, g, v)


SET_JOINS = {
    "JACCARD": jaccard_join,
    "COSINE": cosine_join,
    "DICE": dice_join,
    "OVERLAP_COEFFICIENT": overlap_coefficient_join,
}


@pytest.mark.parametrize("measure", list(SET_JOINS))
@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
@pytest.mark.parametrize(
    "tok", [WhitespaceTokenizer(), QgramTokenizer(qval=2, padding=True)],
    ids=["ws", "qg2"],
)
def test_set_sim_joins(spark, tables, measure, threshold, tok):
    a, b = tables
    df = SET_JOINS[measure](a, b, "id", "id", "name", "name", tok, threshold)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_set_sim_join(A_PDF, B_PDF, "id", "id", "name", "name", tok, threshold, measure)
    )
    _assert_match(got, expected, f"{measure}@{threshold}")


@pytest.mark.parametrize("threshold", [1, 2, 3])
def test_overlap_join(spark, tables, threshold):
    a, b = tables
    tok = WhitespaceTokenizer()
    df = overlap_join(a, b, "id", "id", "name", "name", tok, threshold)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_set_sim_join(A_PDF, B_PDF, "id", "id", "name", "name", tok, threshold,
                           "OVERLAP", allow_empty=False)
    )
    _assert_match(got, expected, f"OVERLAP@{threshold}")


@pytest.mark.parametrize("comp_op", [">", ">="])
def test_comp_ops(spark, tables, comp_op):
    a, b = tables
    tok = WhitespaceTokenizer()
    df = jaccard_join(a, b, "id", "id", "name", "name", tok, 0.5, comp_op=comp_op)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_set_sim_join(A_PDF, B_PDF, "id", "id", "name", "name", tok, 0.5,
                           "JACCARD", comp_op=comp_op)
    )
    _assert_match(got, expected, f"JACCARD {comp_op} 0.5")


@pytest.mark.parametrize("allow_empty", [True, False])
@pytest.mark.parametrize("allow_missing", [True, False])
def test_empty_and_missing(spark, tables, allow_empty, allow_missing):
    a, b = tables
    tok = WhitespaceTokenizer()
    df = jaccard_join(a, b, "id", "id", "name", "name", tok, 0.5,
                      allow_empty=allow_empty, allow_missing=allow_missing)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_set_sim_join(A_PDF, B_PDF, "id", "id", "name", "name", tok, 0.5,
                           "JACCARD", allow_empty=allow_empty, allow_missing=allow_missing)
    )
    _assert_match(got, expected, f"empty={allow_empty} missing={allow_missing}")


@pytest.mark.parametrize("k", [0, 1, 2, 3])
def test_edit_distance_join(spark, tables, k):
    a, b = tables
    df = edit_distance_join(a, b, "id", "id", "name", "name", k)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_edit_distance_join(A_PDF, B_PDF, "id", "id", "name", "name", k)
    )
    _assert_match(got, expected, f"EDIT@{k}")


@pytest.mark.parametrize("comp_op", ["<", "="])
def test_edit_distance_comp_ops(spark, tables, comp_op):
    a, b = tables
    df = edit_distance_join(a, b, "id", "id", "name", "name", 2, comp_op=comp_op)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_edit_distance_join(A_PDF, B_PDF, "id", "id", "name", "name", 2, comp_op=comp_op)
    )
    _assert_match(got, expected, f"EDIT {comp_op} 2")


def test_self_join_dedupes(spark, tables):
    a, _ = tables
    tok = WhitespaceTokenizer()
    df = jaccard_join(a, a, "id", "id", "name", "name", tok, 0.5, self_join=True)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_set_sim_join(A_PDF, A_PDF, "id", "id", "name", "name", tok, 0.5,
                           "JACCARD", self_join=True)
    )
    _assert_match(got, expected, "self-join")
    assert all(l < r for (l, r) in got)


def test_salted_equals_unsalted(spark, tables):
    """Salting must not lose or duplicate pairs (SURVEY.md §7 risk)."""
    a, b = tables
    tok = WhitespaceTokenizer()
    plain = _collect_pairs(jaccard_join(a, b, "id", "id", "name", "name", tok, 0.3))
    salted = _collect_pairs(
        jaccard_join(a, b, "id", "id", "name", "name", tok, 0.3, salt_cap=2)
    )
    assert plain == salted


def test_output_projection(spark, tables):
    a, b = tables
    tok = WhitespaceTokenizer()
    df = jaccard_join(a, b, "id", "id", "name", "name", tok, 0.5,
                      l_out_attrs=["name", "zipcode"], r_out_attrs=["name"])
    assert df.columns == ["_id", "l_id", "r_id", "l_name", "l_zipcode", "r_name", "_sim_score"]
    row = df.limit(1).collect()
    if row:
        d = row[0].asDict()
        assert d["l_name"] == A_PDF.set_index("id").loc[d["l_id"], "name"]


def test_validation_errors(spark, tables):
    a, b = tables
    tok = WhitespaceTokenizer()
    with pytest.raises(AssertionError):
        jaccard_join(a, b, "id", "id", "nope", "name", tok, 0.5)
    with pytest.raises(AssertionError):
        jaccard_join(a, b, "id", "id", "name", "name", tok, 1.5)
    with pytest.raises(AssertionError):
        jaccard_join(a, b, "id", "id", "name", "name", tok, 0.5, comp_op="<=")
    with pytest.raises(AssertionError):
        jaccard_join(a, b, "id", "id", "birth_year", "name", tok, 0.5)


@pytest.mark.parametrize("join_kind", ["jaccard", "edit"])
def test_self_join_allow_missing(spark, tables, join_kind):
    """self_join + allow_missing: null-attr rows must emit only the
    l_id < r_id orientation and no self-pairs (ADVICE r1)."""
    a, _ = tables
    tok = WhitespaceTokenizer()
    if join_kind == "jaccard":
        df = jaccard_join(a, a, "id", "id", "name", "name", tok, 0.5,
                          allow_missing=True, self_join=True)
        expected = _expected_pairs(
            naive_set_sim_join(A_PDF, A_PDF, "id", "id", "name", "name", tok, 0.5,
                               "JACCARD", allow_missing=True, self_join=True)
        )
    else:
        df = edit_distance_join(a, a, "id", "id", "name", "name", 2,
                                allow_missing=True, self_join=True)
        expected = _expected_pairs(
            naive_edit_distance_join(A_PDF, A_PDF, "id", "id", "name", "name", 2,
                                     allow_missing=True, self_join=True)
        )
    got = _collect_pairs(df)
    assert all(l < r for l, r in got)
    _assert_match(got, expected, f"self+missing {join_kind}")


# ------------------------------------------------- string-dedup pre-pass
def _dup_tables():
    """Duplicate-heavy twins of the person tables: every name appears
    ~4x under fresh ids (plus the null and empty rows), so the
    exact-string dedup pre-pass kicks in under 'auto' and its
    expansion must reproduce naive results exactly."""
    import pandas as pd

    def blow_up(pdf, reps, base):
        extra = pd.DataFrame(
            {"id": [900, 901, 902], "name": [None, "", ""],
             **{c: [pdf[c].iloc[0]] * 3 for c in pdf.columns if c not in ("id", "name")}}
        )
        pdf = pd.concat([pdf, extra], ignore_index=True)
        rows = []
        for i in range(reps):
            c = pdf.copy()
            c["id"] = c["id"] + base * (i + 1)
            rows.append(c)
        return pd.concat([pdf] + rows, ignore_index=True)

    return blow_up(A_PDF.head(20), 3, 1000), blow_up(B_PDF.head(20), 3, 1000)


DUP_A, DUP_B = _dup_tables()


@pytest.mark.parametrize("mode", ["auto", True])
@pytest.mark.parametrize("self_join", [False, True])
def test_dedup_strings_jaccard(spark, mode, self_join):
    a = spark.createDataFrame(DUP_A)
    b = a if self_join else spark.createDataFrame(DUP_B)
    pa, pb = (DUP_A, DUP_A) if self_join else (DUP_A, DUP_B)
    tok = WhitespaceTokenizer()
    df = jaccard_join(a, b, "id", "id", "name", "name", tok, 0.5,
                      allow_missing=True, self_join=self_join, dedup_strings=mode)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_set_sim_join(pa, pb, "id", "id", "name", "name", tok, 0.5,
                           "JACCARD", allow_missing=True, self_join=self_join)
    )
    _assert_match(got, expected, f"dedup jaccard self={self_join} mode={mode}")


@pytest.mark.parametrize("measure_fn", [overlap_join, overlap_coefficient_join],
                         ids=["overlap", "overlap_coeff"])
def test_dedup_strings_other_measures(spark, measure_fn):
    a = spark.createDataFrame(DUP_A)
    tok = WhitespaceTokenizer()
    measure = "OVERLAP" if measure_fn is overlap_join else "OVERLAP_COEFFICIENT"
    threshold = 2 if measure == "OVERLAP" else 0.7
    kw = {} if measure == "OVERLAP" else {"allow_empty": False}
    df = measure_fn(a, a, "id", "id", "name", "name", tok, threshold,
                    self_join=True, dedup_strings=True, **kw)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_set_sim_join(DUP_A, DUP_A, "id", "id", "name", "name", tok, threshold,
                           measure, allow_empty=False, self_join=True)
    )
    _assert_match(got, expected, f"dedup {measure}")


@pytest.mark.parametrize("self_join", [False, True])
def test_dedup_strings_edit(spark, self_join):
    a = spark.createDataFrame(DUP_A)
    b = a if self_join else spark.createDataFrame(DUP_B)
    pa, pb = (DUP_A, DUP_A) if self_join else (DUP_A, DUP_B)
    df = edit_distance_join(a, b, "id", "id", "name", "name", 2,
                            allow_missing=True, self_join=self_join,
                            dedup_strings=True)
    got = _collect_pairs(df)
    expected = _expected_pairs(
        naive_edit_distance_join(pa, pb, "id", "id", "name", "name", 2,
                                 allow_missing=True, self_join=self_join)
    )
    _assert_match(got, expected, f"dedup edit self={self_join}")


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_dedup_strings_random_equivalence(spark, seed):
    """Property: on randomized duplicate-mixed tiny-vocab tables (small
    set sizes hit the filter-bound integer boundaries — threshold 0.4
    makes (t/(1+t))*(s1+s2) land exactly on integers, the case where
    unguarded float ceilings dropped true pairs), BOTH dedup modes
    must equal the naive truth and each other."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    vocab = ["ab", "cd", "ef", "gh", "ij", "kl"]
    rows = []
    for i in range(80):
        n = rng.randint(0, 4)
        name = " ".join(rng.choice(vocab) for _ in range(n)) if n else rng.choice(["", None])
        rows.append((i, name))
    pdf = pd.DataFrame(rows, columns=["id", "name"]).astype({"id": "int64"})
    a = spark.createDataFrame(pdf)
    tok = WhitespaceTokenizer()
    kw = dict(allow_empty=True, allow_missing=True, self_join=True)
    truth = _expected_pairs(
        naive_set_sim_join(pdf, pdf, "id", "id", "name", "name", tok, 0.4, "JACCARD", **kw)
    )
    on = _collect_pairs(jaccard_join(a, a, "id", "id", "name", "name", tok, 0.4,
                                     dedup_strings=True, **kw))
    off = _collect_pairs(jaccard_join(a, a, "id", "id", "name", "name", tok, 0.4,
                                      dedup_strings=False, **kw))
    _assert_match(on, truth, f"dedup=True vs naive seed={seed}")
    _assert_match(off, truth, f"dedup=False vs naive seed={seed}")


def test_edit_short_record_corpus(spark):
    """Short-string corpus (most records defeat the q*k+1 prefix
    pigeonhole): the short-record branch must stay lossless AND join
    on the size-bucket key — no cartesian/broadcast-NL plan, which is
    quasi-quadratic when 'short' records are the majority."""
    import pandas as pd

    rng = __import__("random").Random(11)
    names = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 5)))
        for _ in range(120)
    ]
    pdf = pd.DataFrame({"id": range(120), "name": names})
    df = spark.createDataFrame(pdf)
    out = edit_distance_join(df, df, "id", "id", "name", "name", 3,
                             self_join=True, dedup_strings=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = _collect_pairs(out)
    expected = _expected_pairs(
        naive_edit_distance_join(pdf, pdf, "id", "id", "name", "name", 3,
                                 self_join=True)
    )
    _assert_match(got, expected, "short-record EDIT@3")


def test_salt_splits_hot_posting_list(spark, tables):
    """Beyond pair equality: the salt map must actually SPLIT the hot
    posting list — the max per-join-key group on the salted left side
    is strictly below the unsalted hot-token group (max-task evidence
    for the skew fixture: one token at many times the cap)."""
    from pyspark.sql import functions as F

    from sparksimjoin.joins.core import (
        apply_salt,
        build_salt_map,
        prefix_explode,
        prepare_sides,
    )

    rows = [(i, f"hot uniq{i}") for i in range(200)]  # 'hot' in every row
    df = spark.createDataFrame(rows, "id long, name string")
    tok = WhitespaceTokenizer().with_return_set(True)
    prep_l, prep_r, ranks = prepare_sides(df, df, "id", "id", "name", "name", tok)
    ex_l = prefix_explode(prep_l, "l", "JACCARD", 0.3)
    ex_r = prefix_explode(prep_r, "r", "JACCARD", 0.3)
    cap = 16
    salt_map = build_salt_map(ranks, cap)
    unsalted_max = (
        ex_l.groupBy("token").count().agg(F.max("count").alias("m")).first()["m"]
    )
    s_l, s_r, keys = apply_salt(ex_l, ex_r, salt_map)
    salted_max = (
        s_l.groupBy(*keys).count().agg(F.max("count").alias("m")).first()["m"]
    )
    assert keys == ["token", "salt"]
    assert unsalted_max >= 200  # the hot token dominates unsalted
    # ceil(cnt/cap) salts -> each bucket is ~cap-sized, far below 200
    assert salted_max <= 2 * cap
    assert salted_max < unsalted_max


def test_stop_token_cap(spark, tables):
    """A cap above every real doc frequency is a no-op (identical
    output); a low cap reports the dropped tokens through metrics_out
    and only ever removes pairs (lossy-subset, never additive)."""
    a, b = tables
    tok = WhitespaceTokenizer()
    plain = _collect_pairs(
        overlap_coefficient_join(a, b, "id", "id", "name", "name", tok, 0.5)
    )
    m_hi: dict = {}
    hi = _collect_pairs(
        overlap_coefficient_join(a, b, "id", "id", "name", "name", tok, 0.5,
                                 stop_token_cap=1_000_000, metrics_out=m_hi)
    )
    assert hi == plain
    assert m_hi["stop_token_cap"] == 1_000_000
    assert int(m_hi["dropped_stop_tokens"]) == 0
    m_lo: dict = {}
    lo = _collect_pairs(
        overlap_coefficient_join(a, b, "id", "id", "name", "name", tok, 0.5,
                                 stop_token_cap=3, metrics_out=m_lo)
    )
    assert m_lo["dropped_stop_tokens"] > 0
    assert set(lo) <= set(plain)


def test_candidate_pairs_lossless(spark, tables):
    """Every truly-matching pair survives the blocked candidate stage
    (size + occurrence position bounds): the naive-parity suite covers
    the end product; this pins the containment at the candidate
    stage."""
    from sparksimjoin.joins.core import (
        candidate_pairs,
        prefix_explode,
        prepare_sides,
    )
    from sparksimjoin.naive import naive_set_sim_join

    a, b = tables
    tok = WhitespaceTokenizer().with_return_set(True)
    prep_l, prep_r, _ = prepare_sides(a, b, "id", "id", "name", "name", tok)
    # the funnel runs on iid surrogates; decode for comparison with
    # the original-id naive oracle
    lmap = {r["iid"]: r["id"] for r in prep_l.select("iid", "id").collect()}
    rmap = {r["iid"]: r["id"] for r in prep_r.select("iid", "id").collect()}
    for thr in (0.3, 0.6, 0.8):
        ex_l = prefix_explode(prep_l, "l", "JACCARD", thr)
        ex_r = prefix_explode(prep_r, "r", "JACCARD", thr)
        cand = {
            (lmap[r["l_id"]], rmap[r["r_id"]])
            for r in candidate_pairs(ex_l, ex_r, "JACCARD", thr).collect()
        }
        true_pairs = {
            (lid, rid)
            for lid, rid, _ in naive_set_sim_join(
                A_PDF, B_PDF, "id", "id", "name", "name",
                WhitespaceTokenizer(), thr, "JACCARD", allow_empty=False
            )
        }
        assert true_pairs <= cand, f"thr={thr}: candidates lost true pairs"


def test_stop_token_cap_construction_runs_no_job(spark, tables):
    """Round-3 verdict item #5: the capped path must not run a
    separate eager count job at plan-construction time — the dropped-
    token metric now rides the join's own action via an Observation.
    Evidence: zero Spark jobs belong to the construction-scoped job
    group; the metric still resolves (lazily) after the action."""
    a, b = tables
    sc = spark.sparkContext
    sc.setJobGroup("stop_cap_construct", "plan construction must be lazy")
    try:
        m: dict = {}
        out = overlap_coefficient_join(
            a, b, "id", "id", "name", "name", WhitespaceTokenizer(), 0.5,
            stop_token_cap=3, metrics_out=m, dedup_strings=False,
        )
        construction_jobs = sc.statusTracker().getJobIdsForGroup("stop_cap_construct")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(construction_jobs) == []
    assert out.count() > 0  # the action that feeds the Observation
    assert m["stop_token_cap"] == 3
    assert int(m["dropped_stop_tokens"]) > 0


def test_empty_pairs_metrics(spark):
    """allow_empty emits the cross product of empty-token-set records
    (semantics-mandated, quadratic at scale): the per-side empty
    counts must be surfaced through metrics_out — no silent quadratic
    blow-up (round-3 verdict item #6)."""
    rows = [(1, "alpha beta"), (2, "   "), (3, ""), (4, "alpha beta")]
    df = spark.createDataFrame(rows, "id long, name string")
    m: dict = {}
    out = jaccard_join(df, df, "id", "id", "name", "name", WhitespaceTokenizer(),
                       0.8, self_join=True, dedup_strings=False, metrics_out=m)
    pairs = _collect_pairs(out)
    assert pairs[(2, 3)] == 1.0  # empty-empty pair matches at sim 1.0
    assert int(m["empty_l_records"]) == 2
    assert int(m["empty_r_records"]) == 2


def test_tokens_join_strategies_equivalent_and_planned(spark, tables):
    """tokens_join pins the physical strategy of the verify stage's
    token-array lookups (joins/core.verify_pairs): "broadcast" must
    plan BroadcastHashJoin, "shuffle_hash" must plan ShuffledHashJoin
    (hash join, no sort of the wide candidate rows — the 250k-record
    disk-spill cliff this knob exists for), and all three settings
    must produce identical output."""
    a, b = tables
    tok = WhitespaceTokenizer()

    def run(**kw):
        return jaccard_join(a, b, "id", "id", "name", "name", tok, 0.5, **kw)

    base = _collect_pairs(run())
    for strat, node in (("broadcast", "BroadcastHashJoin"),
                        ("shuffle_hash", "ShuffledHashJoin")):
        out = run(tokens_join=strat)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert node in plan, f"{strat}: expected {node} in plan"
        assert _collect_pairs(out) == base, strat
    # ValueError (not a strippable assert) since the r5-advice fix:
    # a typo'd strategy must fail loudly even under python -O
    with pytest.raises(ValueError, match="tokens_join"):
        run(tokens_join="nonsense").collect()
