"""The benchmark's query definitions: its own copies of the parameters
of ``bench.bench_queries``, so deleting or editing that file cannot
change a workload. Each query names its input table and maps the loaded
tables to a lazy DataFrame (the driver-side construction)."""

from __future__ import annotations

from typing import Callable, NamedTuple


class Query(NamedTuple):
    table: str
    build: Callable

def _ws():
    from sparksimjoin import WhitespaceTokenizer

    return WhitespaceTokenizer()


def _jaccard(t):
    from sparksimjoin import jaccard_join

    d = t["documents"]  # the SAME frame on both sides: prepare_sides preps once
    return jaccard_join(d, d, "doc_id", "doc_id", "text", "text", _ws(), 0.95,
                        allow_empty=False, self_join=True)


def _weighted(t):
    from sparksimjoin.joins.weighted import weighted_jaccard_join

    d = t["documents"]
    return weighted_jaccard_join(d, d, "doc_id", "doc_id", "text", "text", _ws(), 0.8,
                                 self_join=True)


def _tfidf(t):
    from sparksimjoin import tfidf_join

    d = t["documents"]
    return tfidf_join(d, d, "doc_id", "doc_id", "text", "text", _ws(), 0.8, self_join=True)


def _overlap_coeff(t):
    from sparksimjoin import overlap_coefficient_join

    c = t["zipf"]
    return overlap_coefficient_join(c, c, "id", "id", "text", "text", _ws(), 0.8,
                                    self_join=True, allow_empty=False, dedup_strings=False)


def _edit(t):
    from sparksimjoin import edit_distance_join

    p = t["part"]
    return edit_distance_join(p, p, "p_partkey", "p_partkey", "p_name", "p_name", 2,
                              self_join=True)


def _jaro_winkler(t):
    from sparksimjoin import jaro_winkler_join

    p = t["part"]
    return jaro_winkler_join(p, p, "p_partkey", "p_partkey", "p_name", "p_name", 0.9,
                             self_join=True)


def _minhash(t):
    from sparksimjoin.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(t["documents"], "doc_id", "text", threshold=0.9)


def _ann_exact(t):
    from sparksimjoin.ann import brute_force_topk

    return brute_force_topk(t["embeddings"], "vec_id", "embedding", k=3)


def _ann_lsh(t):
    from sparksimjoin.ann import lsh_topk

    return lsh_topk(t["embeddings"], "vec_id", "embedding", k=3)


def _time_band(t):
    from sparksimjoin.temporal import time_band_pairs

    return time_band_pairs(t["events"], "event_id", "ts", 6 * 3600, ["user_id"])


# the set-sim queries (first four) cover the dense and blocked candidate
# paths, salting and the statistics jobs of all three planner copies
# (set_sim, tfidf, weighted); the rest cover q-gram/char blocking with
# string_dedup_maps, the Arrow Python verify kernel, dedup, ann and
# temporal
QUERIES = {
    "jaccard_doc_t95": Query("documents", _jaccard),
    "weighted_jaccard_doc_t8": Query("documents", _weighted),
    "tfidf_doc_t8": Query("documents", _tfidf),
    "overlap_coeff_zipf_skew": Query("zipf", _overlap_coeff),
    "edit_part_k2": Query("part", _edit),
    "jaro_winkler_part_t9": Query("part", _jaro_winkler),
    "minhash_doc_t9": Query("documents", _minhash),
    "ann_topk": Query("embeddings", _ann_exact),
    "ann_lsh_topk": Query("embeddings", _ann_lsh),
    "time_band_events_6h": Query("events", _time_band),
}
