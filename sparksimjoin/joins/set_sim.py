"""Public set-similarity joins: jaccard / cosine / dice / overlap /
overlap-coefficient (``[R] py_stringsimjoin/join/{jaccard,cosine,dice,
overlap,overlap_coefficient}_join.py``; SURVEY.md §2.1 #1-5).

One generic filter-verify plan (joins/core.py); per-measure bounds and
verify formulas from filter_math. All signatures mirror the reference,
with Spark-specific extras keyword-only:

- ``self_join``: dedupe symmetric pairs (emit l_id < r_id only) when
  joining a table with itself — the canonical dedup/ER mode.
- ``salt_cap``: threshold for splitting hot blocking tokens (see
  joins/core.build_salt_map); None -> AUTO_SALT_CAP. Salting is
  always on: the candidate join pins its exchange parallelism
  (REPARTITION_BY_NUM), which opts out of AQE's runtime skew
  splitting, so the engine's own deterministic salt is the skew
  defense.
- ``dense_id``: reference emits dense 0..n-1 ``_id``; we default to
  ``monotonically_increasing_id`` (documented deviation; dense only in
  small-scale parity tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import filter_math as fm
from ..tokenizers import Tokenizer
from ..validation import (
    validate_comp_op_for_sim_measure,
    validate_join_inputs,
    validate_threshold,
)
from . import core
from .core import (
    build_salt_map,
    candidate_pairs,
    canonical_set_key,
    dense_candidates,
    dense_gate,
    diagonal_pairs,
    empty_pairs,
    expand_gid_pairs,
    missing_pairs,
    prefix_explode,
    prepare_sides,
    project_output,
    resolve_dedup,
    resolve_salt_cap,
    string_dedup_maps,
    verify_pairs,
)


def _sized_ids(prep: DataFrame, side: str) -> DataFrame:
    """({side}_id, {side}_size) in iid space, token-less records dropped
    (the dense candidate input; the prefix explode drops them too)."""
    return prep.where(F.col("size") > 0).select(
        F.col("iid").alias(f"{side}_id"), F.col("size").alias(f"{side}_size")
    )


def set_sim_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    measure: str,
    comp_op: str = ">=",
    allow_empty: bool = True,
    allow_missing: bool = False,
    l_out_attrs: list[str] | None = None,
    r_out_attrs: list[str] | None = None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    n_jobs: int = 1,
    show_progress: bool = False,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
    dense_id: bool = False,
    position_filter: bool = True,
    dedup_strings: bool | str = "auto",
    stop_token_cap: int | None = None,
    candidate_budget: int | None = None,
    tokens_join: str = "auto",
    metrics_out: dict | None = None,
    _verify_score_fn=None,
    _verify_threshold: float | None = None,
    _verify_orient: bool = False,
) -> DataFrame:
    """``stop_token_cap``: tokens whose document frequency exceeds the
    cap are excluded from the BLOCKING keys (never from verification).
    LOSSY: a pair whose only shared prefix token is a stop token is
    missed, so the cap must sit far above correctness-relevant
    frequencies — off by default; the dropped-token count is reported
    through ``metrics_out`` (no silent caps). Most relevant for
    OVERLAP_COEFFICIENT, whose prefix is the FULL token set (no sound
    record-local prefix exists for that measure), so one hot token in
    every record makes candidate volume quadratic; a cap restores
    sub-quadratic blocking at a bounded, observable recall cost.

    ``candidate_budget``: pre-flight guard — when set, the EXACT
    candidate meeting volume is computed with a vocabulary-sized probe
    before any pairwise work, and a breach raises ValueError carrying
    the projected volume plus the cap-advisor workflow
    (estimate_join_cost's stop_token_cap pricing) instead of
    launching a runaway join. None (default) = off, no extra jobs.

    ``_verify_score_fn`` / ``_verify_threshold`` (internal, used by
    joins/tversky.py): when set, ``measure``/``threshold`` drive ONLY
    the blocking-side bounds (prefix/size/position/suffix — which must
    be SOUND for the real predicate, the caller's responsibility) while
    verification scores with ``_verify_score_fn(l_tokens, r_tokens)``
    against ``_verify_threshold``; the empty-pair and identical-string
    diagonal branches also test against ``_verify_threshold`` (their
    scores, 1.0, are measure-independent for normalized set sims)."""
    # n_jobs / show_progress are accepted for drop-in compatibility
    # with the reference signature and ignored: Spark's partitioning
    # subsumes the joblib split (SURVEY.md §2.2 #29) and progress is
    # the Spark UI / checkpoint manifests
    del n_jobs, show_progress
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
                         l_out_attrs, r_out_attrs)
    validate_threshold(threshold, measure)
    validate_comp_op_for_sim_measure(comp_op, measure)

    # set-sims operate on token *sets* (tokenizer coerced, as the
    # reference does at the head of every join function)
    tok = tokenizer.with_return_set(True)
    # set sims depend only on the token SET, so the dedup key is the
    # canonical token set — strictly more collapsing than raw strings
    key_fn = lambda c: canonical_set_key(tok, c)  # noqa: E731
    use_dedup = resolve_dedup(dedup_strings, l_df, r_df, l_join_attr, r_join_attr,
                              key_fn=key_fn)
    if use_dedup:
        # exact-duplicate collapse: filter-verify runs on one
        # representative per distinct token set; results expand back
        # to record ids afterwards (duplication-factor^2 less work)
        l_rep, r_rep, l_map, r_map = string_dedup_maps(
            l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr, key_fn=key_fn
        )
        prep_l, prep_r, ranks = prepare_sides(
            l_rep, r_rep, "__gid", "__gid", "__val", "__val", tok
        )
    else:
        prep_l, prep_r, ranks = prepare_sides(
            l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tok
        )
    ex_l = prefix_explode(prep_l, "l", measure, threshold)
    ex_r = prefix_explode(prep_r, "r", measure, threshold)
    if stop_token_cap:
        from .core import LazyObservedMetric, stop_token_frame

        # dropped-token count rides the join's own action via an
        # Observation on the broadcast stop list — no separate eager
        # count job during plan construction (stop_token_frame's
        # sentinel keeps the anti-join AQE-prune-proof)
        stop_b, obs = stop_token_frame(ranks, stop_token_cap)
        ex_l = ex_l.join(stop_b, "token", "left_anti")
        ex_r = ex_r.join(stop_b, "token", "left_anti")
        if metrics_out is not None:
            metrics_out["stop_token_cap"] = stop_token_cap
            metrics_out["dropped_stop_tokens"] = LazyObservedMetric(
                obs, "dropped_stop_tokens"
            )
    # pre-flight candidate-volume guard (round-5 verdict item 4, the
    # OVERLAP_COEFFICIENT quadratic-blow-up defense): when a budget is
    # set, the EXACT meeting volume of the blocked candidate join is
    # priced with the vocabulary-sized probe BEFORE anything pairwise
    # runs, and a breach raises with the numbers instead of launching
    # a runaway join. Off by default (None): the probe then only runs
    # when the dense-path gate wants it, and reuses this estimate.
    est = None
    if candidate_budget is not None:
        if candidate_budget <= 0:
            raise ValueError(f"candidate_budget must be > 0, got {candidate_budget}")
        est = core.prefix_meeting_estimate(ex_l, ex_r, same=prep_r is prep_l)
        if est > candidate_budget:
            raise ValueError(
                f"projected candidate meeting volume {est:,} exceeds "
                f"candidate_budget {candidate_budget:,} for measure {measure} "
                f"at threshold {threshold}. Price a lossy stop-token cap "
                "first: estimate_join_cost(..., stop_token_cap=N) reports the "
                "exact capped volume, a sound lost-pair upper bound, and the "
                "blind-record count (the cap_advisor workflow); then pass "
                "stop_token_cap=N here, pre-filter boilerplate tokens "
                "upstream, or raise the budget."
            )

    # validate salt_cap up front, whichever candidate path runs: the
    # dense path never salts, but a nonsensical cap must still fail
    # loudly (the falsy-coercion contract test)
    resolved_salt_cap = resolve_salt_cap(salt_cap)

    # the dense path (core.dense_gate) is off under the LOSSY
    # stop_token_cap (whose candidate drop is part of the declared
    # semantics) and for non-monotone comp_ops (the blocked candidate
    # set IS the semantics there — verify keeps low scores)
    use_dense = (
        stop_token_cap is None and comp_op in (">=", ">")
        and dense_gate(prep_l, prep_r, ex_l, ex_r,
                       size_band=(measure, threshold), est=est)
    )
    if use_dense:
        lo, hi = fm.size_bounds_expr(F.col("l_size"), measure, threshold)
        band = F.col("r_size").between(lo, hi)
        cand = dense_candidates(
            _sized_ids(prep_l, "l"), _sized_ids(prep_r, "r"),
            band & (F.col("l_id") < F.col("r_id")) if self_join else band,
        )
    else:
        # salting is always on (AUTO_SALT_CAP default): the pinned-
        # parallelism candidate join opts out of AQE skew splitting, so
        # hot blocking tokens must be split here (lossless,
        # property-tested); salt_cap overrides the threshold
        cand = candidate_pairs(
            ex_l, ex_r, measure, threshold, self_join=self_join,
            salt_map=build_salt_map(ranks, resolved_salt_cap),
            position_filter=position_filter,
        )
    # the candidate funnel above ran on dense-long iids (with_iid);
    # verify decodes back to original ids through its prep joins and
    # restores the canonical self-join pair orientation
    v_threshold = threshold if _verify_threshold is None else _verify_threshold
    pairs = verify_pairs(cand, prep_l, prep_r, measure, v_threshold, comp_op,
                         self_join=self_join, score_fn=_verify_score_fn,
                         orient_score=_verify_orient, tokens_join=tokens_join,
                         spread=not use_dense)

    if allow_empty and measure != fm.OVERLAP:
        ep = empty_pairs(prep_l, prep_r, v_threshold, comp_op, self_join=self_join,
                         metrics_out=metrics_out)
        if ep is not None:
            pairs = pairs.unionByName(ep)
    if use_dedup:
        pairs = expand_gid_pairs(pairs, l_map, r_map, self_join)
        if self_join:
            pairs = pairs.unionByName(
                diagonal_pairs(l_map, prep_l, measure, v_threshold, comp_op, allow_empty)
            )
    if allow_missing:
        pairs = pairs.unionByName(
            missing_pairs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
                          self_join=self_join)
        )
    return project_output(
        pairs, l_df, r_df, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
        l_out_prefix, r_out_prefix, out_sim_score, dense_id,
    )


def _make(measure: str, default_allow_empty: bool = True):
    def join_fn(
        l_df: DataFrame,
        r_df: DataFrame,
        l_key_attr: str,
        r_key_attr: str,
        l_join_attr: str,
        r_join_attr: str,
        tokenizer: Tokenizer,
        threshold: float,
        comp_op: str = ">=",
        allow_empty: bool = default_allow_empty,
        allow_missing: bool = False,
        l_out_attrs: list[str] | None = None,
        r_out_attrs: list[str] | None = None,
        l_out_prefix: str = "l_",
        r_out_prefix: str = "r_",
        out_sim_score: bool = True,
        n_jobs: int = 1,
        show_progress: bool = False,
        **spark_opts,
    ) -> DataFrame:
        return set_sim_join(
            l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
            tokenizer, threshold, measure, comp_op, allow_empty, allow_missing,
            l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix, out_sim_score,
            n_jobs, show_progress,
            **spark_opts,
        )

    join_fn.__name__ = f"{measure.lower()}_join"
    return join_fn


jaccard_join = _make(fm.JACCARD)
cosine_join = _make(fm.COSINE)
dice_join = _make(fm.DICE)
overlap_coefficient_join = _make(fm.OVERLAP_COEFFICIENT)
overlap_coefficient_join.__doc__ = """Overlap-coefficient join.

SCALE WARNING: overlap(x,y)/min(|x|,|y|) admits no sound record-local
prefix (a tiny record can reach the threshold through any of a huge
record's tokens), so blocking must use the FULL token set
(filter_math.py prefix-length note) — candidate volume approaches the
full inverted-index join and one ubiquitous token makes it quadratic.
At scale pass ``stop_token_cap`` (lossy, documented on set_sim_join;
dropped-token count via ``metrics_out``) or pre-filter boilerplate
tokens upstream; set ``candidate_budget`` to make the join REFUSE to
launch past a projected meeting volume (the ValueError carries the
number and the cap-advisor workflow)."""


def overlap_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    comp_op: str = ">=",
    allow_missing: bool = False,
    l_out_attrs: list[str] | None = None,
    r_out_attrs: list[str] | None = None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    **spark_opts,
) -> DataFrame:
    """Overlap join (``[R] py_stringsimjoin/join/overlap_join.py``):
    score is the absolute token-set intersection size; no
    ``allow_empty`` (empty sets have overlap 0)."""
    return set_sim_join(
        l_df, r_df, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
        tokenizer, threshold, fm.OVERLAP, comp_op, False, allow_missing,
        l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix, out_sim_score,
        **spark_opts,
    )
