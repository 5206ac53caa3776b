"""Incremental record linkage: link a NEW batch of conversations
against a COMPLETED base pipeline run without recomputing the base
corpus's blocking, verification, or clustering (greenfield — the
reference package is batch-only; north_rule's 10^12-turn scale makes
"recompute the world per batch" a non-starter: a 1% daily batch
should cost ~1% of a full run in candidate/verify work, not 100%).

Cost model vs a full recompute over base+new (B = base records,
N = new records, N << B):

- full:        candidates/verify over (B+N)^2 pair space.
- incremental: (N x N) + (N x B) pair space, plus ONE linear scan of
  the base tokens stage to re-explode its prefixes (no re-tokenize,
  no re-rank, no base x base work), plus the contracted base cluster
  edges (|B| rows, not |E_base|) into connected components.

Correctness is EXACT, not approximate — ``run_incremental`` after
splitting a corpus produces byte-identical clusters to one full
``run_pipeline`` over the union (tested in tests/test_incremental.py):

- **Frozen token order.** Base tid assignments are immutable; tokens
  first seen in the new batch are appended AFTER the base vocabulary
  (``tid = base_vocab_size + dense_rank`` in new-corpus (cnt, token)
  order, the same deterministic ranking scheme as the base —
  joins/core.dense_rank_tids). Prefix/size/position filtering is
  lossless under ANY consistent total token order — the global
  rarity order is only a performance heuristic (rarer tokens first
  -> smaller posting lists in the prefix) — so the base token arrays
  are reused byte-for-byte and candidate sets remain supersets of
  the true matches; exact verification then makes the final edge set
  identical to the full run's.
- **Cluster seeding by contraction.** The base run's (conv_id ->
  component) assignment IS its edge set's connected components, so
  CC(star(base clusters) UNION new_edges) == CC(base_edges UNION
  new_edges): contracting a subgraph to stars preserves reachability.
  Component labels are the global min conv_id either way, so even
  LABELS match the full recompute exactly — including when a new
  record bridges two previously-separate base clusters.

Chaining: an incremental workdir is itself a valid ``base_workdir``
for the next batch. Corpus-wide stages (records, tokens) are NOT
rewritten per batch — each incremental dir stores only its batch's
rows plus a manifest pointer to its base, and readers walk the chain
(``_chained_stage``). Only the vocabulary (``token_ranks``, tiny
relative to the corpus) and the cluster assignment (one row per
conversation) are written in full per batch.

Config invariants: measure/threshold/comp_op must match the base
run's (validated against the base candidates manifest — a mixed-
threshold edge set would be meaningless); the tokenizer must be the
one the base run used (recorded/validated via its descriptor).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import scoped_caches, track
from .checkpoint import CheckpointManager
from .clustering import connected_components
from .joins.core import (
    build_salt_map,
    candidate_pairs,
    dense_rank_tids,
    ensure_iid,
    iid_tag,
    order_tokens,
    prefix_explode,
    resolve_salt_cap,
    verify_pairs,
)
from .pipeline import PipelineConfig, prepare_records, tokenizer_descriptor


def _chained_stage(
    ckpt: CheckpointManager, fmt: str, name: str, per_link=None
) -> DataFrame:
    """Union a per-batch stage across the base chain (the stage's
    manifest carries a ``base`` pointer when the dir is an
    incremental one). Chain length = number of batches — a driver-
    side walk over manifests only, no data action.

    ``per_link(df, depth)`` transforms each link before the union
    (depth 0 = the immediate base's own stage). The tokens chain uses
    it to stamp a per-link iid namespace: stored iids are frame-local
    (with_iid ns 0), so two links' iids WOULD collide in the union."""
    frames = []
    cur: CheckpointManager | None = ckpt
    seen = set()
    while cur is not None:
        assert cur.root not in seen, f"checkpoint base chain cycle at {cur.root}"
        seen.add(cur.root)
        df = cur.read(name)
        if per_link is not None:
            df = per_link(df, len(frames))
        frames.append(df)
        base = cur.manifest(name).get("base")
        cur = CheckpointManager(cur.spark, base, fmt=fmt) if base else None
    return reduce(DataFrame.unionByName, frames)


def _chained_rows(ckpt: CheckpointManager, fmt: str, name: str) -> int:
    """Total manifest row count of a stage across the base chain —
    the size of what :func:`_chained_stage` would union, as a
    driver-side manifest walk (no data action)."""
    total = 0
    cur: CheckpointManager | None = ckpt
    seen = set()
    while cur is not None:
        assert cur.root not in seen, f"checkpoint base chain cycle at {cur.root}"
        seen.add(cur.root)
        m = cur.manifest(name)
        total += int(m["rows"])
        base = m.get("base")
        cur = CheckpointManager(cur.spark, base, fmt=fmt) if base else None
    return total


def _require_base_stages(base: CheckpointManager) -> None:
    missing = [s for s in ("records", "token_ranks", "tokens", "candidates", "clusters")
               if not base.exists(s)]
    if missing:
        raise ValueError(
            f"base workdir {base.root!r} is not a completed pipeline run: "
            f"missing stages {missing} (run run_pipeline/run_incremental to "
            "completion first)"
        )


def _validate_config(base: CheckpointManager, cfg: PipelineConfig) -> None:
    m = base.manifest("candidates")
    # key-presence (not is-not-None) so stop_token_cap=None recorded
    # by a capless base still conflicts with a capped batch config;
    # keys absent entirely (pre-upgrade manifests) are skipped
    for key, got in (("measure", cfg.measure), ("threshold", cfg.threshold),
                     ("stop_token_cap", cfg.stop_token_cap),
                     ("time_window_seconds", cfg.time_window_seconds)):
        if key in m and m[key] != got:
            raise ValueError(
                f"incremental config mismatch: base run used {key}={m[key]!r}, "
                f"got {got!r} — an edge set mixing thresholds/measures is not "
                "a valid linkage; rerun the base or match its config"
            )
    want_tok = m.get("tokenizer")
    if want_tok is not None and want_tok != tokenizer_descriptor(cfg):
        raise ValueError(
            f"incremental config mismatch: base run tokenizer {want_tok}, "
            f"got {tokenizer_descriptor(cfg)}"
        )


def run_incremental(
    spark: SparkSession,
    new_transcripts: DataFrame,
    base_workdir: str,
    inc_workdir: str,
    config: PipelineConfig | None = None,
    checkpoint_format: str = "parquet",
) -> DataFrame:
    """Link a new batch of transcripts against the completed run at
    ``base_workdir``; -> full-corpus clusters DataFrame(conv_id,
    component), checkpointed under ``inc_workdir`` (which is itself a
    valid base for the next batch). Resumable exactly like
    ``run_pipeline``: rerun with the same dirs after a failure and
    completed stages are read back.

    New conv_ids must be disjoint from the base corpus — re-linking
    a CHANGED conversation would require retracting its old edges
    from the base state, which contraction-seeded clustering cannot
    do (deletions don't contract); recompute from the last workdir
    before the change instead.
    """
    cfg = config or PipelineConfig()
    from .pipeline import validate_refine_config

    validate_refine_config(cfg)  # criteria without a threshold: loud, not ignored
    if cfg.time_window_seconds is not None:
        raise ValueError(
            "time_window_seconds is not supported in incremental mode yet: "
            "the batch candidate join (new x base) does not apply the band "
            "filter, so batch edges would be inconsistent with the base "
            "run's — run the full pipeline with the window instead"
        )
    if cfg.refine_threshold is not None:
        raise ValueError(
            "refine_threshold is not supported in incremental mode: the "
            "batch's scored checkpoint holds only the batch's edges, so "
            "a density decision over base clusters would be understated "
            "— refine the full run (run_pipeline) or use "
            "clustering.refine_clusters over cluster_audit_chain's "
            "unioned edge set"
        )
    base = CheckpointManager(spark, base_workdir, fmt=checkpoint_format)
    _require_base_stages(base)
    _validate_config(base, cfg)
    ckpt = CheckpointManager(spark, inc_workdir, fmt=checkpoint_format)
    with scoped_caches():
        return _run_stages(spark, new_transcripts, cfg, base, ckpt, checkpoint_format)


def _run_stages(
    spark: SparkSession,
    new_transcripts: DataFrame,
    cfg: PipelineConfig,
    base: CheckpointManager,
    ckpt: CheckpointManager,
    fmt: str,
) -> DataFrame:
    records_new = ckpt.get_or_compute(
        "records", lambda: prepare_records(new_transcripts),
        inputs=["new_transcripts"], extra={"base": base.root},
    )
    records_base = _chained_stage(base, fmt, "records")

    # fail loudly on conv_id overlap BEFORE writing anything derived:
    # one semi-join count over the id columns (narrow) per batch
    n_overlap = records_new.join(
        records_base.select("conv_id"), "conv_id", "left_semi"
    ).count()
    if n_overlap:
        raise ValueError(
            f"{n_overlap} conv_id(s) of the new batch already exist in the "
            f"base corpus at {base.root!r} — incremental linkage requires "
            "disjoint batches (see run_incremental docstring)"
        )

    base_ranks = track(base.read("token_ranks"))
    base_vocab = base.manifest("token_ranks")["rows"]  # == max base tid + 1
    # each chain link gets a distinct iid namespace (depth + 1; the
    # new batch keeps ns 0): stored iids are frame-local, and the
    # candidate funnel + verify union these frames. ensure_iid covers
    # pre-iid base checkpoints (deterministic re-derivation). The
    # 8-bit ns field bounds the chain at 254 links — far beyond any
    # practical batch cadence before a full recompaction.
    tokens_base = _chained_stage(
        base, fmt, "tokens",
        per_link=lambda df, d: iid_tag(ensure_iid(df), d + 1),
    )

    def _tok_df() -> DataFrame:
        tok = cfg.tokenizer.with_return_set(True)
        return records_new.select(
            F.col("conv_id").alias("id"),
            F.length("doc").alias("strlen"),
            tok.spark_expr(F.col("doc")).alias("toks"),
        ).where(F.col("doc").isNotNull())

    def _ranks_ext() -> DataFrame:
        new_counts = (
            _tok_df().select(F.explode("toks").alias("token"))
            .groupBy("token").agg(F.count("*").alias("cnt"))
        )
        # frozen base order, combined doc frequencies (cnt only feeds
        # the hot-token salt; tid order NEVER changes for base tokens)
        seen = (
            base_ranks.join(new_counts.withColumnRenamed("cnt", "_nc"), "token", "left")
            .select("token", (F.col("cnt") + F.coalesce("_nc", F.lit(0))).alias("cnt"),
                    "tid")
        )
        unseen = new_counts.join(base_ranks.select("token"), "token", "left_anti")
        appended = dense_rank_tids(unseen).withColumn(
            "tid", F.col("tid") + F.lit(base_vocab)
        )
        return seen.unionByName(appended)

    ranks = ckpt.get_or_compute(
        "token_ranks", _ranks_ext, inputs=["records", f"base:{base.root}/token_ranks"],
    )

    tokens_new = ensure_iid(ckpt.get_or_compute(
        "tokens", lambda: order_tokens(_tok_df(), ranks),
        inputs=["records", "token_ranks"], extra={"base": base.root},
    ))

    cand_extra = {
        "measure": cfg.measure, "threshold": cfg.threshold,
        "tokenizer": tokenizer_descriptor(cfg), "base": base.root,
    }

    def _candidates() -> DataFrame:
        # base x base pairs were fully explored by the base run; the
        # incremental pair space is (new x new) + (new x base), with
        # the new side ALWAYS on the left
        ex_new_l = prefix_explode(tokens_new, "l", cfg.measure, cfg.threshold)
        ex_new_r = prefix_explode(tokens_new, "r", cfg.measure, cfg.threshold)
        ex_base_r = prefix_explode(tokens_base, "r", cfg.measure, cfg.threshold)
        # (new x base) base-side prune: a base posting can only form a
        # candidate if its token occurs in the BATCH's own prefix
        # postings, and the batch's DISTINCT prefix-token set is
        # vocabulary-bounded (words ~1e7, qgrams alphabet^q) —
        # broadcastable regardless of batch row count. Broadcast-semi-
        # joining the base posting index against it BEFORE the
        # candidate shuffle makes the per-batch base-side shuffle
        # volume scale with the batch's vocabulary coverage instead of
        # |base postings| — at 10^12-turn scale re-shuffling the whole
        # base index per daily batch would dominate the batch cost.
        # Exact: never drops a joinable posting (test_incremental
        # asserts batch+base == full-recompute byte-identical). The -2
        # sentinel (no real tid is negative) keeps the broadcast non-
        # empty (same trick as stop_token_frame); the vocab size rides
        # the candidates write as a lazy observed metric. AQE's
        # empty-relation propagation can still delete the whole
        # CollectMetrics subtree when the (new x base) join output is
        # empty (e.g. a batch sharing no tokens with the base), so the
        # resolver falls back to one cheap count job over the small
        # batch postings in that degenerate case.
        from pyspark.sql import Observation

        obs_vocab = Observation()
        batch_vocab = ex_new_l.select("token").distinct().observe(
            obs_vocab, F.count(F.lit(1)).alias("batch_prefix_vocab")
        )
        sentinel = spark.range(1).select(F.lit(-2).cast("bigint").alias("token"))
        ex_base_r = ex_base_r.join(
            F.broadcast(batch_vocab.unionAll(sentinel)), "token", "left_semi"
        )

        def _vocab_metric() -> int:
            try:
                return int(obs_vocab.get["batch_prefix_vocab"])
            except Exception:
                return ex_new_l.select("token").distinct().count()

        cand_extra["batch_prefix_vocab"] = _vocab_metric
        tid_freq = ranks.select(F.col("tid").alias("token"), "cnt")
        if cfg.stop_token_cap:
            from .joins.core import stop_token_frame

            stop_b, obs = stop_token_frame(tid_freq, cfg.stop_token_cap,
                                           key_col="token")
            ex_new_l = ex_new_l.join(stop_b, "token", "left_anti")
            ex_new_r = ex_new_r.join(stop_b, "token", "left_anti")
            ex_base_r = ex_base_r.join(stop_b, "token", "left_anti")
            cand_extra["stop_token_cap"] = cfg.stop_token_cap
            cand_extra["dropped_stop_tokens"] = (
                lambda: int(obs.get["dropped_stop_tokens"])
            )
        salt_map = build_salt_map(tid_freq, resolve_salt_cap(cfg.salt_cap),
                                  key_col="token")
        cand_nn = candidate_pairs(
            ex_new_l, ex_new_r, cfg.measure, cfg.threshold, self_join=True,
            salt_map=salt_map,
        )
        # disjoint id spaces: no self-pairs and no double orientation
        cand_nb = candidate_pairs(
            ex_new_l, ex_base_r, cfg.measure, cfg.threshold, self_join=False,
            salt_map=salt_map,
        )
        return cand_nn.unionByName(cand_nb)

    candidates = ckpt.get_or_compute(
        "candidates", _candidates,
        inputs=["tokens", "token_ranks", f"base:{base.root}/tokens"],
        extra=cand_extra,
    )

    def _scored() -> DataFrame:
        # every candidate's l_id is a new record; r side is mixed.
        # The r-side join reads the full base tokens chain but only
        # candidate r_ids survive; at scale (application-side scan
        # >= 10 GiB) Spark's runtime bloom-filter injection
        # (spark.sql.optimizer.runtime.bloomFilter.enabled, default
        # on) builds a bloom from the materialized candidates side
        # and prunes the base scan before the shuffle
        from pyspark.sql.types import LongType

        # iid-space candidates (long l_id; conv ids are strings) vs
        # pre-iid checkpoints (string pairs). The r-side prep union is
        # collision-free: base links carry depth+1 namespaces, the new
        # batch ns 0.
        id_space = (
            "iid"
            if isinstance(candidates.schema["l_id"].dataType, LongType)
            else "id"
        )
        # same verify-stage cliff dodge as the batch pipeline
        # (pipeline.py _scored / PipelineConfig.tokens_broadcast_cap):
        # never leave the token-lookup strategy to Catalyst's mid-plan
        # estimate. Sized on the LARGER r side (base+new union) — the
        # incremental verify's token table is bigger than the batch
        # case's, so the sort-merge fallback cliff is nearer, not
        # farther.
        n_tok = (
            ckpt.manifest("tokens")["rows"]
            + _chained_rows(base, fmt, "tokens")
        )
        # byte guard mirrors pipeline._scored (PipelineConfig.
        # tokens_broadcast_bytes_cap): per-manager parquet bytes
        # summed over the chain; Iceberg contributes 0 and the row
        # cap alone decides
        from .pipeline import TOKENS_BROADCAST_EXPANSION, tokens_checkpoint_bytes

        tok_bytes = tokens_checkpoint_bytes(ckpt)
        cur = base
        seen = set()
        while cur is not None:
            if cur.root in seen:
                break
            seen.add(cur.root)
            tok_bytes += tokens_checkpoint_bytes(cur)
            b = cur.manifest("tokens").get("base")
            cur = CheckpointManager(cur.spark, b, fmt=fmt) if b else None
        fits = (
            n_tok <= cfg.tokens_broadcast_cap
            and tok_bytes * TOKENS_BROADCAST_EXPANSION
            <= cfg.tokens_broadcast_bytes_cap
        )
        strategy = "broadcast" if fits else "shuffle_hash"
        # spread=False: candidates come straight off the checkpoint
        # (hash-spread by the distinct exchange at write time, re-split
        # by the parquet reader) — the pair-key exchange re-shuffled
        # the full candidate stream for nothing (pipeline.py _scored
        # has the same reasoning)
        return verify_pairs(
            candidates, tokens_new, tokens_base.unionByName(tokens_new),
            cfg.measure, cfg.threshold, cfg.comp_op, id_space=id_space,
            tokens_join=strategy, spread=False,
        )

    scored = ckpt.get_or_compute(
        "scored", _scored, inputs=["candidates", "tokens"], extra={"base": base.root},
    )

    def _clusters() -> DataFrame:
        # seed with the base run's CONTRACTED component stars (|V|
        # rows), not its raw scored edges (|E| rows) — reachability,
        # and therefore the final components AND their min-id labels,
        # are identical (module docstring)
        base_clusters = base.read("clusters")
        star = base_clusters.select(
            F.col("conv_id").alias("l_id"), F.col("component").alias("r_id")
        )
        edges = scored.select("l_id", "r_id").unionByName(star)

        def round_ckpt(df: DataFrame, rnd: int) -> DataFrame:
            return ckpt.write(df, f"cc_round_{rnd}", inputs=["scored"])

        comp = connected_components(
            edges, "l_id", "r_id", max_rounds=cfg.max_cc_rounds,
            # durable rounds opt-in, as in the batch pipeline
            # (PipelineConfig.cc_round_artifacts rationale)
            round_checkpoint=round_ckpt if cfg.cc_round_artifacts else None,
        )
        all_ids = records_base.select("conv_id").unionByName(
            records_new.select("conv_id")
        )
        return (
            all_ids.join(comp, comp["id"] == all_ids["conv_id"], "left")
            .select(
                "conv_id",
                F.coalesce("component", F.col("conv_id")).alias("component"),
            )
        )

    clusters = ckpt.get_or_compute(
        "clusters", _clusters,
        inputs=["scored", "records", f"base:{base.root}/clusters"],
    )
    if cfg.audit:
        # full-corpus audit: the chain's scored checkpoints partition
        # the complete edge set (audit.cluster_audit_chain docstring)
        from .audit import cluster_audit_chain

        ckpt.get_or_compute(
            "audit",
            lambda: cluster_audit_chain(spark, ckpt.root, fmt),
            inputs=["scored", "clusters", f"base:{base.root}"],
        )
    return clusters
