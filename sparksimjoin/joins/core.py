"""Shared machinery for the filter-verify set-similarity joins.

Spark-first re-expression of the reference's pipeline
(``[R] py_stringsimjoin/join/set_sim_join_py.py`` +
``utils/token_ordering.py`` + ``index/position_index.py``; see
SURVEY.md §3.1):

- the in-memory global token-frequency ordering becomes a
  ``groupBy(token).count()`` aggregation; records are re-ordered by a
  join against that rank table + ``array_sort`` on ``struct(cnt,tok)``
  (rarest-first, token tie-break) — no driver-side state;
- the hash inverted/position indexes become a shuffle equi-join on
  the exploded *prefix* tokens, with size bounds and the PPJoin
  position bound as residual predicates (Vernica et al., SIGMOD 2010);
- verification is a pure Column expression over the full ordered
  token arrays (``array_intersect``) — whole-stage codegen, no Python
  in the hot path;
- optional deterministic salting splits hot blocking tokens: a tiny
  broadcast map ``token -> nsalts`` (doc-freq > cap) assigns the left
  row to ``pmod(xxhash64(id), nsalts)`` and replicates only the right
  rows of hot tokens across salts — no lost pairs (property-tested).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import track
from ..filter_math import (
    COMP_OP_MAP,
    COMP_OP_PY,
    overlap_threshold_expr,
    prefix_length_expr,
    size_bounds_expr,
    sim_expr,
)
from ..tokenizers import Tokenizer

def _empty_long_array() -> Column:
    # slice of a non-null-element literal array keeps containsNull=false
    # in the result type; a bare cast sets containsNull=true, which
    # knocks array_intersect off its primitive codegen fast path
    # (observed: interpreted SQLOpenHashSet eval, ~25x slower)
    return F.slice(F.array(F.lit(0).cast("bigint")), 1, 0)


def nonnull_long_array(col: Column) -> Column:
    """Re-assert containsNull=false on an array<bigint> column (lost
    through parquet round-trips and coalesce) so array_intersect /
    array ops take the primitive codegen path."""
    return F.transform(col, lambda x: F.coalesce(x, F.lit(0).cast("bigint")))


def tokenize_table(df: DataFrame, key_attr: str, join_attr: str, tokenizer: Tokenizer) -> DataFrame:
    """-> (id, strlen, toks). Null join-attr rows are dropped here;
    ``allow_missing`` handles them in a separate branch."""
    return df.where(F.col(join_attr).isNotNull()).select(
        F.col(key_attr).alias("id"),
        F.length(F.col(join_attr)).alias("strlen"),
        tokenizer.spark_expr(F.col(join_attr)).alias("toks"),
    )


class LazyObservedMetric:
    """Int-like proxy over a ``pyspark.sql.Observation`` metric: the
    value is collected by Spark as a side effect of the join's OWN
    action (no separate count job at plan-construction time — the old
    eager ``stop.count()`` added a driver-synchronized job per capped
    join). Resolves on first numeric access; reading it BEFORE any
    action has materialized the observed plan raises RuntimeError.
    """

    def __init__(self, observation, key: str):
        self._obs = observation
        self._key = key

    def resolve(self) -> int:
        try:
            return int(self._obs.get[self._key])
        except Exception as e:  # pragma: no cover - defensive
            raise RuntimeError(
                f"observed metric {self._key!r} has not fired — run an "
                "action on the join output before reading metrics_out"
            ) from e

    def __int__(self) -> int:
        return self.resolve()

    __index__ = __int__

    def __eq__(self, other) -> bool:
        return self.resolve() == other

    def __lt__(self, other) -> bool:
        return self.resolve() < other

    def __le__(self, other) -> bool:
        return self.resolve() <= other

    def __gt__(self, other) -> bool:
        return self.resolve() > other

    def __ge__(self, other) -> bool:
        return self.resolve() >= other

    def __hash__(self):
        return hash(self.resolve())

    def __repr__(self) -> str:
        return f"LazyObservedMetric({self._key})"


class LazyCountMetric:
    """Int-like proxy that runs a (cheap, usually cache-backed) count
    job ON DEMAND — nothing is paid unless the metric is read. Used
    where an Observation cannot survive the optimizer: AQE's
    empty-relation propagation eliminates branches that materialize
    empty (e.g. the allow_empty cross join when there are no empty
    records) together with any CollectMetrics node inside them."""

    def __init__(self, df: DataFrame):
        self._df = df
        self._val: int | None = None

    def resolve(self) -> int:
        if self._val is None:
            self._val = int(self._df.count())
        return self._val

    __int__ = LazyObservedMetric.__int__
    __index__ = LazyObservedMetric.__index__
    __eq__ = LazyObservedMetric.__eq__
    __lt__ = LazyObservedMetric.__lt__
    __le__ = LazyObservedMetric.__le__
    __gt__ = LazyObservedMetric.__gt__
    __ge__ = LazyObservedMetric.__ge__
    __hash__ = LazyObservedMetric.__hash__

    def __repr__(self) -> str:
        return "LazyCountMetric()"


def stop_token_frame(ranks: DataFrame, cap: int, key_col: str = "tid"):
    """-> (broadcastable stop-token frame, Observation) for the lossy
    ``stop_token_cap`` blocking-key exclusion. The dropped-token count
    rides the consuming query's OWN action via an Observation (no
    eager count job). A -1 sentinel row (no real token id is negative)
    keeps the broadcast non-empty even when NO token exceeds the cap —
    otherwise AQE's empty-relation propagation deletes the anti-join
    and the CollectMetrics node with it, and the metric never fires."""
    from pyspark.sql import Observation

    stop = ranks.where(F.col("cnt") > cap).select(F.col(key_col).alias("token"))
    obs = Observation()
    observed = stop.observe(obs, F.count(F.lit(1)).alias("dropped_stop_tokens"))
    sentinel = (
        ranks.sparkSession.range(1).select(F.lit(-1).cast("bigint").alias("token"))
    )
    return F.broadcast(observed.unionAll(sentinel)), obs


# sub-bucket prefix length for the deterministic dense rank below:
# any length is order-consistent; longer splits a prefix-skewed cnt=1
# tail harder at the cost of a larger (still sub-token-count) histogram
RANK_PREFIX_LEN = 3


def build_token_ranks(tok_dfs: list[DataFrame]) -> DataFrame:
    """Global document-frequency table (token, cnt, tid) across all
    inputs. ``tid`` is the 0-based dense rank in the global rarity
    order (cnt asc, token asc) and is a DETERMINISTIC function of the
    data: an earlier version range-partitioned on (cnt, token) and took
    ``monotonically_increasing_id``, but RangePartitioner's sampled
    boundaries (seeded by the runtime rdd id) can differ between two
    materializations of the same plan, so a cache-evicted branch could
    re-derive DIFFERENT tids than its sibling and silently mis-join.

    Deterministic scheme: sub-bucket tokens by a ``RANK_PREFIX_LEN``-
    char prefix — a prefix is order-consistent, so sorting by
    (cnt, pb, token) equals sorting by (cnt, token) — rank within
    each (cnt, pb) partition, and add per-bucket offsets cumulated
    over the (cnt, pb) histogram. The only global step is the
    cumulative-sum window over the histogram (at most one row per
    OBSERVED (cnt, prefix) pair — far below token-row volume); token
    rows themselves never pass through a single partition.

    Skew caveat: real vocabularies are prefix-skewed (qgram corpora
    front-load a few hot bigrams), so the cnt=1 tail does NOT split
    uniformly across prefixes. A 3-char prefix bounds any one
    row_number partition by the largest single (cnt, 3-char-prefix)
    cohort, which is orders of magnitude below the full tail; raise
    ``RANK_PREFIX_LEN`` (still order-consistent at any length) if a
    profiled vocabulary concentrates further.

    Integer token ids matter: Spark's ``array_intersect`` has a
    primitive fast path — measured 3.2s vs 81.7s (strings) on 1.8M
    verify pairs — and int join keys shuffle smaller.
    """
    ex = reduce(
        DataFrame.unionAll,
        [t.select(F.explode("toks").alias("token")) for t in tok_dfs],
    )
    counts = ex.groupBy("token").agg(F.count("*").alias("cnt"))
    return dense_rank_tids(counts)


def dense_rank_tids(counts: DataFrame) -> DataFrame:
    """Assign the deterministic 0-based dense rank ``tid`` in
    (cnt asc, token asc) order to a ``(token, cnt)`` frame — the
    distributed sub-bucketed ranking scheme described in
    :func:`build_token_ranks` (its docstring carries the determinism
    and skew rationale). Factored out so incremental runs can rank
    just the UNSEEN tokens of a new batch and append them after a
    frozen base vocabulary (incremental.py)."""
    from pyspark.sql import Window

    counts = counts.withColumn("_pb", F.substring("token", 1, RANK_PREFIX_LEN))
    hist = counts.groupBy("cnt", "_pb").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("cnt", "_pb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.select(
        "cnt", "_pb", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_rn = Window.partitionBy("cnt", "_pb").orderBy("token")
    return (
        counts.join(offsets, ["cnt", "_pb"])
        .withColumn("tid", F.col("_off") + F.row_number().over(w_rn) - 1)
        .drop("_pb", "_off")
    )


def order_tokens(tok_df: DataFrame, ranks: DataFrame) -> DataFrame:
    """-> (id, strlen, tokens[array<bigint> tids, rarity-ordered],
    size, iid). Records whose token list is empty are retained with
    size=0. ``iid`` is the deterministic dense-long surrogate id
    (:func:`with_iid`) the candidate funnel shuffles instead of the
    (often string) record id."""
    ex = tok_df.select("id", F.explode("toks").alias("token")).join(
        ranks.select("token", "tid"), "token"
    )
    ordered = (
        ex.groupBy("id")
        .agg(F.array_sort(F.collect_list("tid")).alias("tokens"))
        .select("id", "tokens", F.size("tokens").alias("size"))
    )
    out = tok_df.select("id", "strlen").join(ordered, "id", "left").select(
        "id",
        "strlen",
        F.coalesce("tokens", _empty_long_array()).alias("tokens"),
        F.coalesce("size", F.lit(0)).alias("size"),
    )
    return with_iid(out)


# ---- deterministic dense-long surrogate record ids ------------------
# The candidate funnel (prefix explode -> salted token equi-join ->
# residual predicates -> pair distinct) carries two record ids on
# every row. Record ids are strings in the north-rule workload
# (conv_id; dedup gids) and string keys dominate the funnel's shuffle
# bytes and sort-comparison cost: an UnsafeRow string field is an
# 8-byte offset word plus 8-byte-padded UTF8 payload (~24B for a
# 12-char conv id) vs 8B for a long — measured on the 24k-conv
# pipeline the candidates stage is the single-box scaling wall, and
# its rows are ~2/3 id bytes. ``with_iid`` attaches a surrogate long
# so the whole funnel shuffles longs; ORIGINAL ids are recovered
# through verify's existing joins back to prep (no extra decode join
# anywhere).
IID_BUCKETS = 1 << 16  # hash buckets for the balanced ranking window
IID_NS_SHIFT = 55  # 8-bit namespace field at bits 55..62


def with_iid(prep: DataFrame, ns: int = 0) -> DataFrame:
    """Attach ``iid``: a DETERMINISTIC, injective long surrogate for
    the (unique) ``id`` column.

    Scheme: bucket rows by ``xxhash64(id) % IID_BUCKETS`` and
    row_number within the bucket ordered by ``id``;
    ``iid = rn * IID_BUCKETS + bucket + ns << IID_NS_SHIFT``.

    - DETERMINISTIC across re-materializations (same property the tid
      dense rank provides, and for the same reason: a cache-evicted
      branch must re-derive identical ids): the bucket is a pure
      function of the id value and rn is a pure function of the
      bucket's membership set — no RangePartitioner sampling, no
      ``monotonically_increasing_id``.
    - BALANCED regardless of key-prefix skew: buckets are hash-uniform,
      so no single window partition goes hot (the tid scheme must
      bucket by an order-consistent PREFIX because tids encode the
      global rarity order; iids carry no order contract — self-join
      pair orientation is restored on the ORIGINAL ids at decode —
      so they can use the perfectly-balanced hash bucketing).
    - Injective: (bucket, rn) is unique per row; headroom holds to
      rn < 2^39 per bucket (~5e11 — far above 10^12 total records
      spread over 65k buckets).

    ``ns`` stamps an 8-bit namespace so iids from DIFFERENT frames can
    be unioned without collision (frame-local rns otherwise collide):
    incremental linkage tags each base-chain link with its depth+1 and
    keeps the new batch at 0. NEVER union or join two preps' iid
    columns without distinct namespaces."""
    from pyspark.sql import Window

    assert 0 <= ns < (1 << (63 - IID_NS_SHIFT)), ns
    bucket = F.pmod(F.xxhash64(F.col("id")), F.lit(IID_BUCKETS))
    w = Window.partitionBy(bucket).orderBy("id")
    iid = (
        F.row_number().over(w).cast("bigint") * F.lit(IID_BUCKETS)
        + bucket
        + F.lit(ns << IID_NS_SHIFT).cast("bigint")
    )
    return prep.withColumn("iid", iid)


def ensure_iid(prep: DataFrame, ns: int = 0) -> DataFrame:
    """Idempotent :func:`with_iid` — re-derives ``iid`` only when the
    column is absent (checkpointed ``tokens`` stages written before
    the iid funnel lack it; the recomputation is deterministic, so a
    resumed run derives exactly the ids a fresh run would)."""
    if "iid" in prep.columns:
        return prep
    return with_iid(prep, ns)


def iid_tag(prep: DataFrame, ns: int) -> DataFrame:
    """Stamp namespace ``ns`` onto an existing ns-0 ``iid`` column (a
    cheap bitwise OR projection — used when unioning base-chain links
    whose stored iids are all frame-local ns 0)."""
    assert ns > 0, "tagging with ns=0 is a no-op; pass the link depth + 1"
    return prep.withColumn(
        "iid", F.col("iid").bitwiseOR(F.lit(ns << IID_NS_SHIFT).cast("bigint"))
    )


def prepare_sides(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Tokenize + globally order both sides. Returns (prep_l, prep_r,
    ranks); when the two sides are the same table/attrs the prep is
    computed once and shared."""
    same = l_key_attr == r_key_attr and l_join_attr == r_join_attr and (
        l_df is r_df or l_df.sameSemantics(r_df)
    )
    tok_l = tokenize_table(l_df, l_key_attr, l_join_attr, tokenizer)
    tok_r = tok_l if same else tokenize_table(r_df, r_key_attr, r_join_attr, tokenizer)
    ranks = build_token_ranks([tok_l] if same else [tok_l, tok_r])
    if persist:
        ranks = track(ranks)
    prep_l = order_tokens(tok_l, ranks)
    if persist:
        prep_l = track(prep_l)
    if same:
        prep_r = prep_l
    else:
        prep_r = order_tokens(tok_r, ranks)
        if persist:
            prep_r = track(prep_r)
    return prep_l, prep_r, ranks


def canonical_set_key(tokenizer: Tokenizer, col: Column) -> Column:
    """Canonical token-SET key: set-similarity measures depend only on
    the token set, so two strings with equal sets are interchangeable
    — a strictly coarser (more collapsing) dedup key than the raw
    string. Any member string is a valid representative.

    Each token is netstring-encoded (``<len>:<token>``) before
    joining, which makes the key injective over token sets even for
    tokens containing the joiner byte: the length prefix makes every
    token self-delimiting, so the concatenation decodes unambiguously.
    (A bare ``\\x00`` join collapsed e.g. {'a\\x00b','c'} and
    {'a','b\\x00c'} — distinct sets, same key — into one dedup group,
    emitting false similarity-1.0 pairs.)"""
    toks = tokenizer.with_return_set(True).spark_expr(col)
    enc = F.transform(
        toks, lambda t: F.concat(F.length(t).cast("string"), F.lit(":"), t)
    )
    return F.concat_ws("\x00", F.array_sort(enc))


def resolve_dedup(
    dedup_strings: bool | str,
    l_df: DataFrame,
    r_df: DataFrame,
    l_join_attr: str,
    r_join_attr: str,
    min_pair_reduction: float = 4.0,
    key_fn=None,
) -> bool:
    """Decide whether the exact-duplicate dedup pre-pass pays. "auto"
    samples duplication with one linear agg per side (runtime stats —
    the same spirit as AQE) and opts in when collapsing duplicates
    would cut pairwise work by >= ``min_pair_reduction``x; True/False
    force. ``key_fn(col) -> Column`` overrides the dedup key (e.g.
    canonical token set for set-sim measures)."""
    if dedup_strings is True or dedup_strings is False:
        return dedup_strings
    same = l_join_attr == r_join_attr and (l_df is r_df or l_df.sameSemantics(r_df))
    fl = dup_factor(l_df, l_join_attr, key_fn)
    fr = fl if same else dup_factor(r_df, r_join_attr, key_fn)
    return fl * fr >= min_pair_reduction


def dup_factor(df: DataFrame, attr: str, key_fn=None) -> float:
    """SIZE-BIASED mean duplication of non-null ``attr`` dedup keys:
    sum(d_k^2)/sum(d_k) — the expected duplication of the key a
    RANDOM ROW carries. Drives the auto dedup decision.

    Why size-biased and not the plain mean (count/approx_distinct):
    candidate work scales with sum(d_k^2) — every blocking scheme
    (prefix tokens, LSH bands, simhash chunks) co-buckets identical
    keys, so each duplicated key contributes its copies SQUARED to
    the meeting stream. A corpus of 4,000 unique docs plus 10 hot
    1,000-copy boilerplates has plain mean ~3.5 but generates ~10M
    meetings from the hot keys alone; skew-blind averaging is exactly
    the mistake that made "auto" decline set-collapse on a corpus
    where forcing it was measured 1.6x faster (BENCH/BASELINE.md
    round-4 set-collapse entry). For uniform duplication f the
    statistic equals f, so the non-skewed decision is unchanged.

    Cost: one groupBy over 8-byte key hashes with map-side partial
    aggregation + a scalar agg — linear, no row data shuffled (the
    old approx_count_distinct agg was also one job; this one is
    skew-aware for the same shape of cost)."""
    key = key_fn(F.col(attr)) if key_fn else F.col(attr)
    per = (
        df.where(F.col(attr).isNotNull())
        .select(F.xxhash64(key).alias("__k"))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    r = per.agg(
        F.sum("__d").alias("n"), F.sum(F.col("__d") * F.col("__d")).alias("s2")
    ).first()
    return (r["s2"] or 0) / max(r["n"] or 1, 1)


def string_dedup_maps(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    key_fn=None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Exact-duplicate collapse before pairwise work: one
    representative row per DISTINCT dedup key (the raw join-attr value
    by default; a coarser key like the canonical token set via
    ``key_fn``), plus membership maps to expand group results back to
    original record ids. The representative is the MIN member string —
    deterministic across retries.

    -> (l_reps(__gid, __val), r_reps, l_map(__gid, __oid), r_map).
    ``__gid`` is the MIN member record id of the group — a
    deterministic function of the data (unique because key attrs are
    unique), so the reps branch and the map branch of one plan always
    agree on gids even if a cached block is lost and lineage recomputes
    (``monotonically_increasing_id`` gave different ids per
    materialization — silently wrong pairs on recompute). The persist
    is now purely a performance choice.

    At 100 TB this is the dominant optimization for duplicate-heavy
    corpora (boilerplate docs, catalog names): filter-verify cost
    drops by the duplication factor squared, and only the final
    expansion touches full row volume — which is output-bound anyway.
    """

    def one_side(df: DataFrame, key_attr: str, attr: str):
        key = key_fn(F.col(attr)) if key_fn else F.col(attr)
        keyed = df.where(F.col(attr).isNotNull()).select(
            key.alias("__k"), F.col(attr).alias("__v"), F.col(key_attr).alias("__oid")
        )
        reps0 = track(
            keyed.groupBy("__k").agg(
                F.min("__v").alias("__val"), F.min("__oid").alias("__gid")
            )
        )
        # gid uniqueness is only guaranteed when the key attr is
        # unique (the reference's key contract) — with duplicate key
        # values two distinct groups can share min(__oid) and
        # expand_gid_pairs would then cross-contaminate memberships
        # SILENTLY. Guard in-plan: the collision frame is empty in the
        # healthy case (broadcast of nothing), and any materialization
        # of a colliding plan raises instead of emitting wrong pairs.
        gid_dupes = (
            reps0.groupBy("__gid")
            .agg(F.count(F.lit(1)).alias("__gn"))
            .where(F.col("__gn") > 1)
        )
        reps = reps0.join(F.broadcast(gid_dupes), "__gid", "left").withColumn(
            "__gid",
            F.when(
                F.col("__gn").isNotNull(),
                F.raise_error(F.concat(
                    F.lit(f"duplicate key values in {key_attr!r}: dedup group id "),
                    F.col("__gid").cast("string"),
                    F.lit(" is shared by multiple groups (key attrs must be unique)"),
                )),
            ).otherwise(F.col("__gid")),
        ).drop("__gn")
        # the membership map is consumed up to FOUR times downstream
        # (expand_gid_pairs' two sides + diagonal_pairs' two sides),
        # and each consumer otherwise re-derives the canonical dedup
        # key over the FULL table (tokenize + sort + netstring encode
        # per row — measured as a wave of parallel 1-2s broadcast-
        # build jobs per consumer on the bench corpus); persist it
        mp = track(
            keyed.join(reps.select("__k", "__gid"), "__k").select("__gid", "__oid")
        )
        return reps.select("__gid", "__val"), mp

    same = l_join_attr == r_join_attr and l_key_attr == r_key_attr and (
        l_df is r_df or l_df.sameSemantics(r_df)
    )
    l_reps, l_map = one_side(l_df, l_key_attr, l_join_attr)
    if same:
        return l_reps, l_reps, l_map, l_map
    r_reps, r_map = one_side(r_df, r_key_attr, r_join_attr)
    return l_reps, r_reps, l_map, r_map


def expand_gid_pairs(
    pairs: DataFrame,
    l_map: DataFrame,
    r_map: DataFrame,
    self_join: bool,
    score_cols: tuple[str, ...] = ("_sim_score",),
) -> DataFrame:
    """Expand group-level (l_id=gid, r_id=gid, scores...) pairs to
    record-level id pairs via the membership maps. For self-joins the
    gid pairs are canonical (g1 < g2, disjoint groups), so each id
    pair is emitted exactly once as (least, greatest)."""
    lm = l_map.select(F.col("__gid").alias("l_id"), F.col("__oid").alias("__la"))
    rm = r_map.select(F.col("__gid").alias("r_id"), F.col("__oid").alias("__rb"))
    out = pairs.join(lm, "l_id").join(rm, "r_id")
    if self_join:
        sel = [
            F.least("__la", "__rb").alias("l_id"),
            F.greatest("__la", "__rb").alias("r_id"),
        ]
    else:
        sel = [F.col("__la").alias("l_id"), F.col("__rb").alias("r_id")]
    return out.select(*sel, *[F.col(c) for c in score_cols])


def diagonal_pairs(
    l_map: DataFrame,
    prep: DataFrame,
    measure: str,
    threshold: float,
    comp_op: str,
    allow_empty: bool,
) -> DataFrame:
    """Within-group id pairs (identical strings, a < b) for the
    string-dedup self-join path. Scores follow the reference's
    identical-string semantics: set sims 1.0 (empty token sets only
    under allow_empty), OVERLAP = token-set size (never for empty
    sets), EDIT_DISTANCE 0."""
    from ..filter_math import EDIT_DISTANCE, OVERLAP

    m1 = l_map.select("__gid", F.col("__oid").alias("l_id"))
    m2 = l_map.select("__gid", F.col("__oid").alias("r_id"))
    pairs = m1.join(m2, "__gid").where(F.col("l_id") < F.col("r_id"))
    sized = pairs.join(prep.select(F.col("id").alias("__gid"), "size"), "__gid")
    if measure == EDIT_DISTANCE:
        score = F.lit(0.0)
        cond = F.lit(bool(COMP_OP_PY[comp_op](0.0, threshold)))
    elif measure == OVERLAP:
        score = F.col("size").cast("double")
        cond = COMP_OP_MAP[comp_op](score, F.lit(float(threshold))) & (F.col("size") > 0)
    else:
        score = F.lit(1.0)
        cond = F.lit(bool(COMP_OP_PY[comp_op](1.0, threshold))) & (
            (F.col("size") > 0) | F.lit(bool(allow_empty))
        )
    return sized.where(cond).select("l_id", "r_id", score.alias("_sim_score"))


def prefix_explode(
    prep: DataFrame,
    side: str,
    measure: str,
    threshold: float,
    qval: int = 2,
    id_col: str = "iid",
) -> DataFrame:
    """Explode the (measure-dependent) prefix of each ordered token
    array, carrying 1-based position and set size for the residual
    filters. -> (token, {side}_id, {side}_size, {side}_pos).

    ``id_col`` defaults to the dense-long surrogate ``iid`` (see
    :func:`with_iid` — id bytes dominate the funnel shuffle); filters
    that hand exploded ids straight to their output without a prep
    join pass ``id_col='id'`` to stay in original-id space."""
    plen = prefix_length_expr(F.col("size"), measure, threshold, qval)
    pref = F.slice(F.col("tokens"), F.lit(1), plen)
    return (
        prep.select(
            F.col(id_col).alias("id"), F.col("size"),
            F.posexplode(pref).alias("p0", "token"),
        )
        .select(
            "token",
            F.col("id").alias(f"{side}_id"),
            F.col("size").alias(f"{side}_size"),
            (F.col("p0") + 1).alias(f"{side}_pos"),
        )
    )


# ---- cost-based dense (all-pairs) candidate generation --------------
# On corpora whose vocabulary is tiny relative to the record count
# (boilerplate-heavy text, enum-like attributes) prefix blocking
# cannot prune: every posting list is O(n) and the candidate equi-join
# materializes MORE meeting rows than there are record pairs (measured
# on the 31-word bench corpus: ~226M meeting rows + a 676 MB pair
# shuffle + spill for at most 12.5M distinct pairs — the blocked plan
# costs ~20x its own candidate output). When the exact meeting volume
# (computable from a vocabulary-sized aggregate) reaches n_l*n_r, a
# broadcast nested-loop over the records themselves is strictly less
# work than the blocked join's OUTPUT alone, and it needs zero
# shuffles: candidates stream straight into verification. This is a
# physical-plan choice in the broadcast-vs-sort-merge spirit — both
# paths produce the same verified output (the dense candidate set is
# a superset of the blocked one and exact verification filters both
# to the identical qualifying set; equivalence is property-tested).
# The broadcast side is capped (rows) so the fallback stays the
# blocked join whenever the build side could not fit executor memory.
DENSE_ALLPAIRS_CAP = 200_000

# Marginal-window refinement of the dense gate. est >= n_l*n_r keeps
# firing dense unconditionally (the blocked join's own output alone
# costs more than every dense predicate eval). Below that, down to
# est * DENSE_MEETING_FACTOR >= n_l*n_r, the decision is PRICED: a
# meeting row costs strictly more than a BNL cell eval (same residual
# eval + exchange write/read + distinct hash), but the dense path also
# verifies EVERY size-band-surviving pair while the blocked path
# verifies only the distinct candidates — and verification cost scales
# with token-array length. The window rule charges the dense path its
# full verify volume (exact band-pair count BP from the size
# histograms x mean token count L) against the meeting rows saved:
#
#     dense  iff  BP * L <= DENSE_MEET_COST_RATIO * est
#
# Calibration anchors (same-window A/Bs on this host, identical
# outputs both arms; the decision statistic is BP*L / est):
#   - 3,935-rep 22-token corpus, est/n^2 = 0.92, BP*L/est = 4.0:
#     dense 2.2-3.2x FASTER (190,925 rows both arms) -> must fire;
#   - 48,000-record 7-token OVERLAP_COEFFICIENT corpus (the zipf-skew
#     bench query: its full-token-set "prefix" means the size band
#     prunes NOTHING, BP = n^2 = 2.3B), est/n^2 = 0.755,
#     BP*L/est = 9.6: dense 3-4x SLOWER (probe-off 8-18s vs probe-on
#     28-53s; 662 exec-s dense stage vs 77) -> must stay blocked;
#   - 5,000-record 80-token corpus, est/n^2 = 0.72, BP*L/est = 55:
#     dense ~30% SLOWER -> must stay blocked.
# 6 sits between the measured win (4.0) and the nearest measured loss
# (9.6), slightly conservative toward blocked — the safe side, since
# a wrongly-blocked join is never catastrophic while a wrongly-dense
# one multiplies its verify volume by the unpruned band. A first cut
# of 16 admitted the overlap anchor and cost that query 3-4x; the
# constant is now pinned by three anchors, not a cost model.
DENSE_MEETING_FACTOR = 2
DENSE_MEET_COST_RATIO = 6


def prefix_meeting_estimate(ex_l: DataFrame, ex_r: DataFrame,
                            same: bool = False) -> int:
    """EXACT meeting volume of the blocked candidate equi-join
    (pre-residual-filter, salt-invariant): sum over tokens of
    |l prefix posting list| * |r prefix posting list|. One
    vocabulary-sized aggregation over the already-built exploded
    prefix frames — the same runtime-statistics spirit as AQE, priced
    at one linear pass of (cached) prep per side. ``same=True``
    (self-join) computes one posting histogram and squares it."""
    pl = ex_l.groupBy("token").agg(F.count(F.lit(1)).alias("_pl"))
    if same:
        row = pl.agg(F.sum(F.col("_pl") * F.col("_pl"))).first()
    else:
        pr = ex_r.groupBy("token").agg(F.count(F.lit(1)).alias("_pr"))
        row = pl.join(pr, "token").agg(F.sum(F.col("_pl") * F.col("_pr"))).first()
    return int(row[0] or 0)


def dense_band_pair_stats(
    prep_l: DataFrame, prep_r: DataFrame, measure: str, threshold: float,
    same: bool = False,
) -> tuple[int, float]:
    """-> (exact size-band pair volume of the dense BNL — its verify-
    volume upper bound — and the larger of the two sides' mean token
    counts). Computed from the size histograms of the (cached) record
    frames through the SAME ``size_bounds_expr`` the join applies, so
    the count is exact by construction; the histograms have at most
    one row per distinct set size (bounded by record length, not
    corpus size), so the non-equi histogram join is trivially small.
    Unoriented (self-join pairs counted both ways), matching
    :func:`prefix_meeting_estimate`'s convention."""
    hl = (
        prep_l.where(F.col("size") > 0)
        .groupBy("size").agg(F.count(F.lit(1)).alias("_c"))
    )
    hr = hl if same else (
        prep_r.where(F.col("size") > 0)
        .groupBy("size").agg(F.count(F.lit(1)).alias("_c"))
    )
    lo, hi = size_bounds_expr(F.col("s1"), measure, threshold)
    bp_row = (
        hl.select(F.col("size").alias("s1"), F.col("_c").alias("c1"))
        .join(
            hr.select(F.col("size").alias("s2"), F.col("_c").alias("c2")),
            F.col("s2").between(lo, hi),
        )
        .agg(F.sum(F.col("c1") * F.col("c2")))
        .first()
    )
    mean_expr = (F.sum(F.col("size") * F.col("_c")) / F.sum("_c"))
    lbar = hl.agg(mean_expr).first()[0] or 0.0
    if not same:
        lbar = max(lbar, hr.agg(mean_expr).first()[0] or 0.0)
    return int(bp_row[0] or 0), float(lbar)


def dense_gate(
    rec_l: DataFrame,
    rec_r: DataFrame,
    ex_l: DataFrame,
    ex_r: DataFrame,
    size_band: tuple[str, float] | None = None,
    est: int | None = None,
) -> bool:
    """Dense (True) or blocked (False) candidate generation — the one
    place the set-sim, TF-IDF and weighted joins make this choice.
    ``rec_l``/``rec_r`` are the record frames (counted once each; the
    SAME frame object means one shared side, counted and probed once),
    ``ex_l``/``ex_r`` the exploded prefix frames the blocked path
    would join. ``est`` passes in a :func:`prefix_meeting_estimate`
    the caller already ran (the ``candidate_budget`` pre-flight) so
    the probe runs at most once per join.

    Dense fires unconditionally when the exact meeting volume reaches
    n_l*n_r (the blocked join's own output alone then costs more than
    every dense predicate eval). ``size_band=(measure, threshold)``
    (the set-sim joins) also opens the priced marginal window
    (:data:`DENSE_MEET_COST_RATIO` carries the rule and its anchors).
    TF-IDF and the weighted joins pass no band and keep the
    unconditional gate: TF-IDF cosine is scale-invariant, so no band
    prunes its dense loop and the dense verify volume IS n_l*n_r,
    which the window rule would only admit past est >= n^2*L/RATIO —
    stricter than the unconditional gate at realistic token counts;
    the weighted W-band prunes on total weight, whose histogram is
    corpus-sized rather than bounded by record length. Both bench
    corpora sit far inside the unconditional gate anyway (est/n^2 =
    5.2 TF-IDF, 3.1 weighted)."""
    same = rec_r is rec_l
    n_l = rec_l.count()
    n_r = n_l if same else rec_r.count()
    if not 0 < max(n_l, n_r) <= DENSE_ALLPAIRS_CAP:
        return False
    if est is None:
        est = prefix_meeting_estimate(ex_l, ex_r, same=same)
    if est >= n_l * n_r:
        return True
    if size_band is None or est * DENSE_MEETING_FACTOR < n_l * n_r:
        return False
    # marginal window: two histogram-sized jobs price the dense path's
    # full verify volume against the meeting rows the BNL saves
    bp, lbar = dense_band_pair_stats(rec_l, rec_r, *size_band, same=same)
    return bp * lbar <= DENSE_MEET_COST_RATIO * est


def dense_candidates(l: DataFrame, r: DataFrame, residual: Column) -> DataFrame:
    """All-pairs candidate generation (the dense plan :func:`dense_gate`
    picks): broadcast nested-loop of two already-projected record
    frames — ``l`` carries ``l_id``, ``r`` carries ``r_id``, plus
    whatever ``residual`` reads (the set-sim size band, the weighted
    W-band, the self-join orientation) — -> (l_id, r_id), each pair at
    most once, no exchange beyond the one below.

    Equivalence contract with the blocked path + verification: the
    output is a SUPERSET of the blocked candidates (blocking is sound,
    so qualifying pairs survive both), and exact verification maps
    both sets to the identical result. Callers drop records with
    empty token sets exactly as the prefix explode drops them (the
    ``allow_empty`` branch alone emits empty-empty pairs).

    The streamed (left) side is explicitly hash-repartitioned to the
    session parallelism: it comes off a cached record frame whose
    terminal aggregation AQE coalesces to 1-2 partitions (the frame is
    tiny), and BNL parallelism == streamed-side partitions — so the
    whole fused candidate+verify stage would otherwise run serially
    (measured: a 1-task 38 exec-s stage on the weighted twin of this
    path; 32 tasks after). One exchange of the row-capped left frame
    buys full parallelism for the n_l*n_r-cell loop."""
    n_part = int(l.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        l.repartition(n_part, "l_id")
        .join(F.broadcast(r), residual, "inner")
        .select("l_id", "r_id")
    )


# default hot-token split threshold: an unsplit join cell is at most
# cap^2 = 262k expansion rows (sub-second), a split token's cells are
# at most cap*cnt rows each, and the replication overhead per hot
# token is cnt/cap r-side copies — negligible against its cnt^2-ish
# cell volume. Salting is MANDATORY skew defense here because the
# candidate join pins its exchanges with REPARTITION_BY_NUM (to beat
# AQE's small-byte coalescing), which also opts out of AQE's runtime
# skew-join splitting — without the salt one ubiquitous token's cell
# serializes the whole stage (observed: 325s-of-375s candidates stage
# on 8 cores at salt_cap=10k).
AUTO_SALT_CAP = 512


def resolve_salt_cap(salt_cap: int | None) -> int:
    """``None`` -> ``AUTO_SALT_CAP``. Salting is mandatory here (the
    pinned REPARTITION_BY_NUM exchanges opt out of AQE's runtime
    skew-join splitting), so 0/negative raises instead of silently
    coercing to the default — the old ``salt_cap or AUTO_SALT_CAP``
    falsy-coercion made an explicit 0 mean "use the default"."""
    if salt_cap is None:
        return AUTO_SALT_CAP
    if salt_cap <= 0:
        raise ValueError(
            "salt_cap must be a positive doc-frequency threshold "
            "(salting cannot be disabled: pinned exchanges opt out of "
            f"AQE skew handling); got {salt_cap!r}"
        )
    return int(salt_cap)


def build_salt_map(ranks: DataFrame, salt_cap: int, key_col: str = "tid") -> DataFrame:
    """Tokens whose doc frequency exceeds ``salt_cap`` get
    ``nsalts = ceil(cnt / salt_cap)`` splits. The result is tiny
    (hot tokens only) and broadcast. ``key_col`` names the blocking
    key in ``ranks`` (tid from prepare_sides; already-encoded token
    ids in the pipeline's recomputed frequency table)."""
    return (
        ranks.where(F.col("cnt") > salt_cap)
        .select(
            F.col(key_col).alias("token"),
            F.ceil(F.col("cnt") / F.lit(salt_cap)).cast("int").alias("nsalts"),
        )
    )


def apply_salt(
    ex_l: DataFrame, ex_r: DataFrame, salt_map: DataFrame | None
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Apply the deterministic hot-token salt to the exploded prefix
    frames: the left row of a hot token goes to one salt bucket
    (pmod of its id hash), the right rows replicate across all salts —
    no lost pairs, and the hot posting list splits ``nsalts`` ways.
    -> (ex_l, ex_r, join_keys)."""
    if salt_map is None:
        return ex_l, ex_r, ["token"]
    sm = F.broadcast(salt_map)
    ex_l = (
        ex_l.join(sm, "token", "left")
        .withColumn("nsalts", F.coalesce("nsalts", F.lit(1)))
        .withColumn("salt", F.pmod(F.xxhash64("l_id"), F.col("nsalts")).cast("int"))
        .drop("nsalts")
    )
    ex_r = (
        ex_r.join(sm, "token", "left")
        .withColumn("nsalts", F.coalesce("nsalts", F.lit(1)))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("nsalts") - 1)))
        .drop("nsalts")
    )
    return ex_l, ex_r, ["token", "salt"]


def salted_join(
    ex_l: DataFrame, ex_r: DataFrame, salt_map: DataFrame | None
) -> DataFrame:
    """Equi-join two exploded blocking-key frames (``token`` plus
    ``l_id``/``r_id`` and any carried columns) on the key after
    :func:`apply_salt` — the salt-then-pin step every blocked join
    here shares.

    Both inputs are explicitly repartitioned to the session
    parallelism on the join keys: exploded rows are NARROW (tens of
    bytes), so AQE's byte-based coalescing collapses the
    planner-inserted join exchanges to a handful of tasks — and the
    join's OUTPUT expansion (posting-list × posting-list, often 10x+
    the input bytes) plus the residual predicates and map-side pair
    dedup then run nearly serially. An explicit numbered repartition
    on the join keys is reused by EnsureRequirements and is exempt
    from AQE coalescing (REPARTITION_BY_NUM), keeping the expansion at
    full parallelism — observed as the set-sim candidates stage
    pinning at ~45s regardless of 8 vs 32 cores, a 2-task 27 exec-s
    TF-IDF candidate stage and a 1-task 12.6 exec-s weighted one
    before this. The pin also opts out of AQE's skew-join splitting,
    which is why the salt is mandatory (:data:`AUTO_SALT_CAP`)."""
    n_part = int(ex_l.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ex_l, ex_r, join_keys = apply_salt(ex_l, ex_r, salt_map)
    ex_l, ex_r = (ex.repartition(n_part, *join_keys) for ex in (ex_l, ex_r))
    return ex_l.join(ex_r, join_keys)


def blocked_candidates(
    ex_l: DataFrame,
    ex_r: DataFrame,
    salt_map: DataFrame | None,
    residual: Column | None = None,
) -> DataFrame:
    """Distinct (l_id, r_id) pairs that meet in :func:`salted_join` and
    pass ``residual``. Each pair meets at least once whatever the salt
    (its left row lands in one bucket, its right rows in all), and
    distinct() collapses multiplicity — the output equals the unsalted
    join's (property-tested)."""
    joined = salted_join(ex_l, ex_r, salt_map)
    if residual is not None:
        joined = joined.where(residual)
    # distinct() keeps its planner shape: the partial (map-side) dedup
    # runs inside the join stage at the parallelism fixed above, and
    # the final agg over already-deduped pairs is cheap even when AQE
    # coalesces it; CPU-heavy consumers (verify, levenshtein)
    # re-spread explicitly on the pair key themselves
    return joined.select("l_id", "r_id").distinct()


def record_candidates(
    rec_l: DataFrame,
    rec_r: DataFrame,
    ranks: DataFrame,
    salt_cap: int,
    residual: Column,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate (l_id, r_id) pairs for the TF-IDF and weighted joins,
    whose record frames carry ``id``, a ``prefix`` array of int tids
    and the ``carry`` columns that ``residual`` reads as
    ``l_<col>``/``r_<col>``. :func:`dense_gate` picks the path; the
    blocked one salts the prefix tids by their ``ranks`` frequency.
    The dense loop evaluates the SAME residual the blocked join
    applies, so the two candidate sets differ only by the dropped
    prefix blocking and exact verification maps both to the identical
    result."""

    def side(rec: DataFrame, s: str, *extra: Column) -> DataFrame:
        cols = [F.col(c).alias(f"{s}_{c}") for c in carry]
        return rec.select(F.col("id").alias(f"{s}_id"), *cols, *extra)

    ex_l = side(rec_l, "l", F.explode("prefix").alias("token"))
    ex_r = side(rec_r, "r", F.explode("prefix").alias("token"))
    if dense_gate(rec_l, rec_r, ex_l, ex_r):
        return dense_candidates(side(rec_l, "l"), side(rec_r, "r"), residual)
    return blocked_candidates(ex_l, ex_r, build_salt_map(ranks, salt_cap), residual)


def candidate_pairs(
    ex_l: DataFrame,
    ex_r: DataFrame,
    measure: str,
    threshold: float,
    qval: int = 2,
    self_join: bool = False,
    salt_map: DataFrame | None = None,
    extra_predicate: Column | None = None,
    position_filter: bool = True,
) -> DataFrame:
    """Blocked candidate generation for the prefix-filtered measures:
    the exploded prefixes meet in :func:`blocked_candidates` on token
    (+ optional salt) under the size-bound and position-bound residual
    predicates. -> distinct (l_id, r_id).

    The position bound is the occurrence-level PPJoin bound (the
    filters' documented semantics): a pair survives if ANY shared
    prefix-token occurrence satisfies
    ``1 + min(s1 - lpos, s2 - rpos) >= req``."""
    lo, hi = size_bounds_expr(F.col("l_size"), measure, threshold)
    cond = F.col("r_size").between(lo, hi)
    if position_filter:
        req = overlap_threshold_expr(F.col("l_size"), F.col("r_size"), measure, threshold, qval)
        bound = 1 + F.least(
            F.col("l_size") - F.col("l_pos"), F.col("r_size") - F.col("r_pos")
        )
        cond = cond & (bound.cast("double") >= req)
    if self_join:
        cond = cond & (F.col("l_id") < F.col("r_id"))
    if extra_predicate is not None:
        cond = cond & extra_predicate
    return blocked_candidates(ex_l, ex_r, salt_map, cond)


def verify_pairs(
    cand: DataFrame,
    prep_l: DataFrame,
    prep_r: DataFrame,
    measure: str,
    threshold: float,
    comp_op: str = ">=",
    self_join: bool = False,
    id_space: str = "iid",
    keep_iids: bool = False,
    score_fn=None,
    orient_score: bool = False,
    tokens_join: str = "auto",
    spread: bool = True,
) -> DataFrame:
    """Exact similarity on the full token sets; JVM-side
    ``array_intersect`` (ordered, duplicate-free int arrays — the
    primitive codegen fast path). -> (l_id, r_id, _sim_score) in
    ORIGINAL-id space, filtered by comp_op/threshold.

    ``score_fn`` overrides the verification expression: a callable
    ``(l_tokens: Column, r_tokens: Column) -> Column`` scoring the
    pair (still pure Column — stays JVM-side). Used by measures whose
    BLOCKING reduces to a standard measure's bounds but whose score
    formula is parameterized (joins/tversky.py); ``measure`` then
    names only the blocking-side mathematics.

    ``orient_score=True`` (meaningful with score_fn + self_join): the
    score is evaluated on the CANONICAL (least-original-id left)
    orientation of the pair, not the arbitrary candidate-stage
    orientation. Required for ASYMMETRIC measures (Tversky with
    alpha != beta), whose two orientations score differently —
    self-join semantics fix the lesser id as the left argument (the
    brute-force oracle's convention). Symmetric measures skip the
    extra conditional.

    ``keep_iids=True`` (iid space only) appends ``l_iid``/``r_iid`` —
    the dense-long surrogates, oriented to MATCH the emitted original
    ids — so downstream edge-heavy consumers (the pipeline's
    connected-components rounds) can keep shuffling 8-byte longs
    instead of re-encoding or carrying string ids through O(log n)
    groupBy exchanges.

    ``id_space`` names the cand id columns' key into prep: ``"iid"``
    (default — the funnel runs on dense-long surrogates) or ``"id"``
    (candidate frames checkpointed before the iid funnel; the
    consumer detects this from the stored l_id dtype). Either way the
    output carries the ORIGINAL ids: they ride the token-array joins
    this stage already does, so decoding is free. Self-join candidate
    pairs are unordered in iid space; ``self_join=True`` restores the
    canonical (least, greatest) ORIGINAL-id orientation.

    The candidate set is explicitly repartitioned to the session
    parallelism first: candidates are narrow (two ids) so AQE's
    byte-based coalescing would otherwise collapse this CPU-heavy
    stage to a handful of tasks (observed: one task doing all 1.8M
    intersections).

    ``tokens_join`` picks the physical strategy for the two
    token-array lookups — the scale cliff of this stage. ``"auto"``
    leaves it to Catalyst, which broadcasts while its (mid-plan,
    unreliable) size estimate stays under
    ``autoBroadcastJoinThreshold`` and otherwise falls back to
    sort-merge — and SMJ here SORTS every candidate row carrying both
    token arrays, turning an ``|cand| * avg_tokens``-byte intermediate
    into spill (measured: 530M candidates x 2 arrays filled a 77 GB
    disk at 250k records when the estimate tipped over). Callers that
    KNOW the record count should pass ``"broadcast"`` (token side
    fits executor memory — no shuffle of the candidate stream at
    all) or ``"shuffle_hash"`` (hash join, no sort: shuffled bytes
    are the 16-byte pair rows, and the wide joined rows stream
    straight into the score expression without materializing — the
    100 TB plan when the token side outgrows broadcast; per-partition
    build side = records / shuffle_partitions, sized by the same knob
    that sizes every other stage). The pipeline picks from its
    checkpoint manifest row counts (pipeline.py)."""
    # ValueError, not assert: under `python -O` a stripped assert
    # would let a typo'd strategy fall through to Catalyst's "auto"
    # behavior — the exact sort-merge spill cliff this knob exists to
    # avoid (ADVICE r5)
    if tokens_join not in ("auto", "broadcast", "shuffle_hash"):
        raise ValueError(
            f"tokens_join must be 'auto', 'broadcast' or 'shuffle_hash'; "
            f"got {tokens_join!r}"
        )
    spark = cand.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert id_space in ("iid", "id"), id_space
    # containsNull=false is re-asserted ONCE PER RECORD on the prep
    # side (pre-join): interpreted ArrayTransform on N records is
    # cheap, and the resulting type keeps array_intersect on its
    # primitive codegen path for every candidate pair
    l_tok = prep_l.select(
        F.col(id_space).alias("l_id"),
        F.col("id").alias("_lo"),
        nonnull_long_array(F.col("tokens")).alias("_lt"),
    )
    r_tok = prep_r.select(
        F.col(id_space).alias("r_id"),
        F.col("id").alias("_ro"),
        nonnull_long_array(F.col("tokens")).alias("_rt"),
    )
    if tokens_join == "broadcast":
        l_tok, r_tok = F.broadcast(l_tok), F.broadcast(r_tok)
    elif tokens_join == "shuffle_hash":
        l_tok = l_tok.hint("SHUFFLE_HASH")
        r_tok = r_tok.hint("SHUFFLE_HASH")
    # hash-repartition on the full pair key: unique per row -> uniform
    # spread with no skew (l_id alone skews on hot records) and no
    # local sort (round-robin repartition sorts each input partition
    # serially); when the token-array joins broadcast, co-partitioning
    # is irrelevant and this spread survives into the scoring stage.
    # ``spread=False`` callers (the dense all-pairs path) already
    # deliver uniformly-spread candidates from a shuffle-free stage —
    # skipping the exchange lets candidate generation, the broadcast
    # token joins, and scoring fuse into ONE zero-exchange stage.
    scored = (
        (cand.repartition(n_part, "l_id", "r_id") if spread else cand)
        .join(l_tok, "l_id")
        .join(r_tok, "r_id")
        .withColumn(
            "_sim_score",
            (
                F.when(
                    F.col("_lo") <= F.col("_ro"),
                    score_fn(F.col("_lt"), F.col("_rt")),
                ).otherwise(score_fn(F.col("_rt"), F.col("_lt")))
                if (orient_score and self_join)
                else score_fn(F.col("_lt"), F.col("_rt"))
            )
            if score_fn is not None
            else sim_expr(F.col("_lt"), F.col("_rt"), measure),
        )
        .where(COMP_OP_MAP[comp_op](F.col("_sim_score"), F.lit(float(threshold))))
    )
    if self_join:
        sel = [
            F.least("_lo", "_ro").alias("l_id"),
            F.greatest("_lo", "_ro").alias("r_id"),
        ]
        if keep_iids:
            assert id_space == "iid", "keep_iids requires iid-space candidates"
            fwd = F.col("_lo") <= F.col("_ro")
            sel += [
                F.when(fwd, F.col("l_id")).otherwise(F.col("r_id")).alias("l_iid"),
                F.when(fwd, F.col("r_id")).otherwise(F.col("l_id")).alias("r_iid"),
            ]
    else:
        sel = [F.col("_lo").alias("l_id"), F.col("_ro").alias("r_id")]
        if keep_iids:
            assert id_space == "iid", "keep_iids requires iid-space candidates"
            sel += [F.col("l_id").alias("l_iid"), F.col("r_id").alias("r_iid")]
    return scored.select(*sel, "_sim_score")


def empty_pairs(
    prep_l: DataFrame,
    prep_r: DataFrame,
    threshold: float,
    comp_op: str,
    self_join: bool = False,
    metrics_out: dict | None = None,
) -> DataFrame | None:
    """``allow_empty`` branch: both-sides-empty token sets match with
    similarity 1.0 (``[R] py_stringsimjoin/join/set_sim_join_py.py``
    empty-set branch).

    SCALE WARNING: this output is QUADRATIC in the number of
    empty-token-set records — semantics-mandated (every empty pair
    matches at 1.0), but a 100 TB corpus with millions of
    empty/whitespace-only docs emits their full cross product. Pass
    ``allow_empty=False`` (or pre-filter empties) when that product is
    not wanted; the per-side empty-record counts are surfaced through
    ``metrics_out['empty_l_records'/'empty_r_records']`` (lazy
    on-demand counts — no silent quadratic blow-up)."""
    if not COMP_OP_PY[comp_op](1.0, threshold):
        return None
    el = prep_l.where(F.col("size") == 0).select(F.col("id").alias("l_id"))
    er = prep_r.where(F.col("size") == 0).select(F.col("id").alias("r_id"))
    if metrics_out is not None:
        # on-demand lazy counts (cache-backed: prep is persisted), not
        # Observations — when there are no empty records AQE's empty-
        # relation propagation deletes this whole cross-join branch,
        # and any CollectMetrics inside it would never fire
        metrics_out["empty_l_records"] = LazyCountMetric(el)
        metrics_out["empty_r_records"] = LazyCountMetric(er)
    out = el.crossJoin(er).withColumn("_sim_score", F.lit(1.0))
    if self_join:
        out = out.where(F.col("l_id") < F.col("r_id"))
    return out


def missing_pairs(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    self_join: bool = False,
) -> DataFrame:
    """``allow_missing`` branch (``[R] py_stringsimjoin/utils/
    missing_value_handler.py::get_pairs_with_missing_value``):
    null-join-attr left rows pair with every right row; non-null left
    rows pair with null-join-attr right rows. Score is null.

    ``self_join=True`` keeps only the ``l_id < r_id`` orientation —
    without it a null-attr row would emit both (a,b)/(b,a) plus the
    (a,a) self-pair, diverging from the naive oracle's semantics of
    filtering orientations before missing handling."""
    l_null = l_df.where(F.col(l_join_attr).isNull()).select(F.col(l_key_attr).alias("l_id"))
    l_ok = l_df.where(F.col(l_join_attr).isNotNull()).select(F.col(l_key_attr).alias("l_id"))
    r_null = r_df.where(F.col(r_join_attr).isNull()).select(F.col(r_key_attr).alias("r_id"))
    r_all = r_df.select(F.col(r_key_attr).alias("r_id"))
    out = l_null.crossJoin(r_all).unionAll(l_ok.crossJoin(r_null))
    if self_join:
        out = out.where(F.col("l_id") < F.col("r_id"))
    return out.withColumn("_sim_score", F.lit(None).cast("double"))


def project_output(
    pairs: DataFrame,
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_out_attrs: list[str] | None,
    r_out_attrs: list[str] | None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    dense_id: bool = False,
) -> DataFrame:
    """Reference-shaped output: ``_id``, prefixed keys, optional
    projected attrs, optional ``_sim_score`` (``[R] py_stringsimjoin/
    utils/generic_helper.py::get_output_header_from_tables``).

    ``_id`` is ``monotonically_increasing_id`` (unique, not dense) by
    default; ``dense_id=True`` uses a global row_number — small-scale
    parity tests only (single-partition sort)."""
    l_out = [a for a in (l_out_attrs or []) if a != l_key_attr]
    r_out = [a for a in (r_out_attrs or []) if a != r_key_attr]
    out = pairs
    if l_out:
        out = out.join(
            l_df.select(F.col(l_key_attr).alias("l_id"), *[F.col(a) for a in l_out]), "l_id", "left"
        )
    if r_out:
        renamed = [F.col(a).alias(f"__r_{a}") for a in r_out]
        out = out.join(
            r_df.select(F.col(r_key_attr).alias("r_id"), *renamed), "r_id", "left"
        )
    cols = [
        F.col("l_id").alias(f"{l_out_prefix}{l_key_attr}"),
        F.col("r_id").alias(f"{r_out_prefix}{r_key_attr}"),
    ]
    cols += [F.col(a).alias(f"{l_out_prefix}{a}") for a in l_out]
    cols += [F.col(f"__r_{a}").alias(f"{r_out_prefix}{a}") for a in r_out]
    if out_sim_score:
        cols.append(F.col("_sim_score"))
    out = out.select(*cols)
    if dense_id:
        from pyspark.sql import Window

        w = Window.orderBy(*out.columns)
        out = out.withColumn("_id", F.row_number().over(w) - 1)
    else:
        out = out.withColumn("_id", F.monotonically_increasing_id())
    return out.select("_id", *[c for c in out.columns if c != "_id"])
