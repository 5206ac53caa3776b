"""Plain TF-IDF cosine join, made a first-class blocked join.

Upstream users reach TF-IDF only through py_stringmatching's
``TfIdf`` callable over a pre-built candset (``[R]
py_stringsimjoin/matcher/apply_matcher.py`` — the library's extension
point), and that callable needs a caller-assembled corpus list. Here
the corpus statistics, sound blocking, and exact scoring are one
DataFrame plan — completing the weighted family (joins/weighted.py
covers the SET-weighted measures; this is the BAG/term-frequency
one).

Definition (this module's precise contract — the undampened TF-IDF
cosine; the dampened log-variant stays on the callable path, see
NOTE below):

- tokens in BAG mode: ``tf_x(t)`` = multiplicity of ``t`` in x;
- document frequency ``df_t`` = number of RECORDS containing ``t``
  (set semantics), over the UNION corpus of both tables (shared
  weight space — joins/weighted.py's convention);
- integer IDF weights ``w_t = (N * TFIDF_SCALE) DIV df_t`` — the
  bit-reproducibility scheme shared with weighted.py/soft_tfidf.py:
  every intermediate below is exact integer arithmetic, so both this
  engine and the SQL oracle land on identical doubles;
- term vector ``v_x(t) = tf_x(t) · w_t`` (BIGINT-exact);
- ``sim(x, y) = dot(v_x, v_y) / (‖v_x‖ · ‖v_y‖)`` with
  ``dot = Σ_t v_x(t)·v_y(t)`` and ``‖v‖² = Σ_t v(t)²`` accumulated in
  DECIMAL(38,0) (a single ``v²`` term wraps BIGINT once ``v`` passes
  ~3·10⁹, and this session runs ANSI-off where the wrap is SILENT),
  then exactly three float steps: decimal→double casts (correctly
  rounded in both engines), one IEEE sqrt per norm, one divide.

NOTE dampened variant: py_stringmatching's default ``dampen=True``
scores with ``v = ln(N/df)·ln(tf+1)`` — cross-engine bit-identity
would hinge on ``ln()`` parity between java.lang.Math and libm,
which is not guaranteed (same reason weighted.py rejects log-idf).
``tfidf_join(..., dampen=True)`` therefore computes every sum in a
DETERMINISTIC order (ascending-tid aggregates over sorted arrays —
stable across reruns and partitionings) and its oracle goes through
round-before-filter with a measured boundary margin (the
monge_elkan/soft_tfidf convention) instead of bit-equality; the
undampened default remains the bit-reproducible form. The drop-in
:class:`sparksimjoin.simfunctions.TfIdf` callable covers
``apply_matcher`` over pre-built candsets (it needs a driver-side
corpus list — the join computes corpus statistics distributed).

Blocking is the L2 prefix filter (Bayardo et al., WWW 2007 "Scaling
Up All Pairs Similarity Search", adapted to the rarest-first global
order): order each record's distinct tokens by the global tid
(df asc, token asc — joins/core.build_token_ranks); let ``c`` be the
FIRST common token of a pair (x, y) in that order. Every common term
sits at or after ``c`` in both vectors, so by Cauchy-Schwarz

    dot(x, y) ≤ ‖x_{≥c}‖ · ‖y‖   and   dot(x, y) ≤ ‖x‖ · ‖y_{≥c}‖.

If ``c`` lay outside x's prefix — positions where the cumulative
norm² BEFORE the position is ≤ (1−t²)·‖x‖², i.e. the suffix from the
position still carries ≥ t·‖x‖ of norm — then sim < t; symmetrically
for y. Hence every qualifying pair shares a token in BOTH prefixes
and the exploded prefix-to-prefix equi-join is LOSSLESS (the float
comparison is epsilon-widened — widening only adds candidates).
Cosine is scale-invariant, so no norm band exists (unlike the
set-weighted joins' W-band); the prefix is the whole filter.

100 TB notes: candidates come from the salted int-tid equi-join
(joins/core.build_salt_map — the same mandatory hot-token defense as
every join here); verify is a JVM ``array_intersect`` + map-lookup
aggregate on int tids (no Python anywhere in this join); headroom:
with TFIDF_SCALE=10³, a df=1 token in an N=10¹²-record corpus has
w = 10¹⁵, v² = tf²·10³⁰, and ~10³ distinct terms with tf ~10² keep
Σv² ≤ 10³⁷ < 10³⁸ — inside DECIMAL(38,0) at full target scale (the
oracle mirrors with HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import track
from ..tokenizers import Tokenizer
from ..validation import validate_join_inputs, validate_threshold
from .core import (
    build_token_ranks,
    record_candidates,
    resolve_salt_cap,
    tokenize_table,
)

#: weight quantization: w = (N * TFIDF_SCALE) DIV df. 10³ (not
#: weighted.py's 10⁶) so Σv² keeps DECIMAL(38,0) headroom at 10¹²
#: records — the module docstring carries the arithmetic.
TFIDF_SCALE = 1_000

_DEC = "DECIMAL(38,0)"


def _rec_frame(bag_df: DataFrame, wtab: DataFrame, threshold: float,
               dampen: bool) -> DataFrame:
    """(id, tids asc = global rarity order, vmap tid→v, n2, prefix).

    All array/map ops — no window, no Python. ``prefix`` keeps the
    positions whose preceding cumulative norm² is ≤ (1−t²)·‖v‖²
    (module docstring; epsilon-widened, lossless). Undampened:
    ``v = tf·w`` BIGINT, norms exact in DECIMAL. Dampened:
    ``v = ln(tf+1)·w`` double, norms accumulated in ASCENDING-tid
    order over the sorted array — a DETERMINISTIC double summation
    (no groupBy-order wobble), which is what lets the oracle's
    round-before-filter margin be meaningful. Dampened records whose
    every token is corpus-ubiquitous (all ``ln(idf) = 0``) have a
    zero vector — no direction — and are dropped here."""
    if dampen:
        acc = "CAST(0.0 AS DOUBLE)"
        step = "a + x * x"
        cum_step = "st.s + x * x"
    else:
        acc = f"CAST(0 AS {_DEC})"
        step = f"CAST(a + CAST(x AS {_DEC}) * x AS {_DEC})"
        cum_step = f"CAST(st.s + CAST(x AS {_DEC}) * x AS {_DEC})"
    v = (F.log(F.col("tf") + F.lit(1.0)) * F.col("w") if dampen
         else F.col("tf") * F.col("w"))
    tf = (
        bag_df.select("id", F.explode("toks").alias("token"))
        .groupBy("id", "token")
        .agg(F.count("*").alias("tf"))
        .join(wtab.select("token", "tid", "w"), "token")
        .select("id", "tid", v.alias("v"))
    )
    rec = tf.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("tid", "v"))).alias("tvs")
    )
    rec = rec.select(
        "id", "tvs",
        F.expr("transform(tvs, x -> x.tid)").alias("tids"),
        F.expr("transform(tvs, x -> x.v)").alias("vs"),
    ).select(
        "id", "tvs", "tids", "vs",
        F.expr(f"aggregate(vs, {acc}, (a, x) -> {step})").alias("n2"),
    )
    if dampen:
        rec = rec.where(F.col("n2") > 0)
    # prefix length p = #{i : cum_{i-1} <= (1-t²)·n2}; the cumulative
    # runs in the exact accumulator type, only the comparison is
    # float (widened)
    bound = f"(1.0d - {threshold * threshold!r}) * CAST(n2 AS DOUBLE) + 1e-6"
    p = (
        f"aggregate(vs, struct({acc} AS s, 0 AS c), "
        "(st, x) -> struct("
        f"{cum_step} AS s, "
        f"st.c + IF(CAST(st.s AS DOUBLE) <= {bound}, 1, 0) AS c), "
        "st -> st.c)"
    )
    return rec.select(
        "id", "tvs", "tids", "n2",
        F.map_from_arrays("tids", "vs").alias("vmap"),
        F.expr(f"slice(tids, 1, {p})").alias("prefix"),
    )


def tfidf_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    *,
    self_join: bool = False,
    salt_cap: int | None = None,
    dampen: bool = False,
) -> DataFrame:
    """-> (l_id, r_id, _sim_score) pairs with TF-IDF cosine >=
    ``threshold`` (module docstring carries the exact semantics).

    ``dampen=False`` (default): the exactly-reproducible integer-
    weight form (``v = tf · ((N·SCALE) DIV df)``, DECIMAL-exact
    sums). ``dampen=True``: py_stringmatching's default log form
    ``v = ln(tf+1) · ln(N/df)`` in doubles — every sum runs in the
    DETERMINISTIC ascending-tid order over sorted arrays (no
    aggregation-order wobble), but cross-engine ln() parity is not
    guaranteed, so oracle comparisons for the dampened form go
    through round-before-filter (the monge_elkan convention) rather
    than bit-equality. Dampened records whose every token is corpus-
    ubiquitous (``ln(idf) = 0`` throughout) have a zero vector and
    are skipped, as are token-less records (no direction — the
    weighted-join contract). On ``self_join`` only ``l_id < r_id``
    is emitted; document frequencies are computed over BOTH inputs
    for a two-table join (one shared weight space) and once for a
    self-join."""
    validate_join_inputs(l_df, r_df, l_key_attr, r_key_attr, l_join_attr,
                         r_join_attr, None, None)
    validate_threshold(threshold, "COSINE")
    cap = resolve_salt_cap(salt_cap)
    bag_tok = tokenizer.with_return_set(False)

    l_bag = tokenize_table(l_df, l_key_attr, l_join_attr, bag_tok).where(F.size("toks") > 0)
    r_bag = l_bag if self_join else (
        tokenize_table(r_df, r_key_attr, r_join_attr, bag_tok).where(F.size("toks") > 0))

    # df over DISTINCT tokens per record (document frequency), shared
    # across both sides; ranks feed the weight table AND the salt map
    # and the record frame feeds four plan branches — same persist
    # rationale as weighted.py
    l_set = l_bag.select("id", F.array_distinct("toks").alias("toks"))
    corpus = [l_set] if self_join else [
        l_set, r_bag.select("id", F.array_distinct("toks").alias("toks"))]
    ranks = track(build_token_ranks(corpus))  # (token, cnt, tid)

    # N via a broadcast 1-row frame: keeps the weight table lazy
    n_df = corpus[0]
    for extra in corpus[1:]:
        n_df = n_df.unionByName(extra)
    n_df = n_df.agg(F.count("*").alias("_n"))
    w = (
        # ln(N/df): double division FIRST, then one ln — the oracle
        # mirrors the op order (its ln may still differ by an ulp,
        # absorbed by round-before-filter)
        F.log(F.col("_n").cast("double") / F.col("cnt"))
        if dampen
        else F.expr(f"CAST((_n * {TFIDF_SCALE}) DIV cnt AS BIGINT)")
    )
    wtab = ranks.crossJoin(F.broadcast(n_df)).select("token", "tid", w.alias("w"))

    rec_l = track(_rec_frame(l_bag, wtab, threshold, dampen))
    rec_r = rec_l if self_join else track(
        _rec_frame(r_bag, wtab, threshold, dampen))

    pair_pred = F.col("l_id") < F.col("r_id") if self_join else F.lit(True)
    cand = record_candidates(rec_l, rec_r, ranks, cap, pair_pred)

    lv = rec_l.select(
        F.col("id").alias("l_id"), F.col("tids").alias("l_tids"),
        F.col("tvs").alias("l_tvs"),
        F.col("vmap").alias("l_vmap"), F.col("n2").alias("l_n2"),
    )
    rv = rec_r.select(
        F.col("id").alias("r_id"), F.col("tids").alias("r_tids"),
        F.col("vmap").alias("r_vmap"), F.col("n2").alias("r_n2"),
    )
    if dampen:
        # deterministic summation: array_intersect preserves l_tids'
        # ascending order, so the double adds run in a fixed order
        dot = F.expr(
            "aggregate(array_intersect(l_tids, r_tids), "
            "CAST(0.0 AS DOUBLE), "
            "(a, t) -> a + l_vmap[t] * r_vmap[t])"
        )
    else:
        # adaptive exact-integer dot: every partial sum and every
        # product is bounded by dot <= sqrt(n2_x * n2_y) <= max(n2)
        # (Cauchy-Schwarz; all terms non-negative, so partial sums are
        # monotone below the final dot), so when max(n2) over both
        # record frames stays under 2^62 the whole aggregate runs in
        # primitive BIGINT with zero wrap risk — measured far cheaper
        # per pair than the Decimal fallback (object arithmetic +
        # per-op scale checks), and bit-identical: both forms are
        # exact integers and the final CAST(x AS DOUBLE) is correctly
        # rounded from either type. Corpora whose weights outgrow the
        # bound (the 10^12-record headroom case in the module
        # docstring) keep the DECIMAL(38,0) path.
        max_n2 = rec_l.agg(F.max("n2")).first()[0]
        if not self_join:
            m2r = rec_r.agg(F.max("n2")).first()[0]
            max_n2 = max(max_n2 or 0, m2r or 0)
        if max_n2 is not None and int(max_n2) < (1 << 62):
            # iterate the LEFT record's pre-zipped (tid, v) structs
            # with ONE r-side map lookup per token, instead of
            # array_intersect (hash-set build over both arrays) plus
            # TWO linear map lookups per common token — measured ~2x
            # cheaper per pair. Absent tids make the product NULL ->
            # coalesce 0. Identical result: integer addition commutes,
            # so the changed iteration order cannot move the exact sum.
            dot = F.expr(
                "CAST(aggregate(l_tvs, CAST(0 AS BIGINT), "
                "(a, x) -> a + coalesce(x.v * r_vmap[x.tid], CAST(0 AS BIGINT))"
                ") AS DOUBLE)"
            )
        else:
            dot = F.expr(
                "CAST(aggregate(array_intersect(l_tids, r_tids), "
                f"CAST(0 AS {_DEC}), "
                f"(a, t) -> CAST(a + CAST(l_vmap[t] AS {_DEC}) * r_vmap[t] AS {_DEC})"
                ") AS DOUBLE)"
            )
    # op order mirrored EXACTLY in the SQL oracle: double(dot) /
    # (sqrt(double(l_n2)) * sqrt(double(r_n2)))
    sim = dot / (
        F.sqrt(F.col("l_n2").cast("double")) * F.sqrt(F.col("r_n2").cast("double"))
    )
    verified = (
        cand.join(lv, "l_id")
        .join(rv, "r_id")
        .withColumn("_sim_score", sim)
        .where(F.col("_sim_score") >= threshold)
    )
    return verified.select("l_id", "r_id", "_sim_score")
