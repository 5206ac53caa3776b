"""OverlapFilter (``[R] py_stringsimjoin/filter/overlap_filter.py``;
SURVEY.md §2.1 #7). Table mode is a pure-DataFrame plan: explode
distinct tokens both sides -> equi-join on token -> groupBy pair ->
count comp_op overlap_size. No UDF anywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filter_math import COMP_OP_MAP, COMP_OP_PY
from ..tokenizers import Tokenizer
from .base import Filter


class OverlapFilter(Filter):
    def __init__(
        self,
        tokenizer: Tokenizer,
        overlap_size: float = 1,
        comp_op: str = ">=",
        allow_missing: bool = False,
    ):
        assert overlap_size >= 0, "overlap_size must be >= 0"
        assert comp_op in (">=", ">", "="), f"invalid comp_op {comp_op!r}"
        self.tokenizer = tokenizer
        self.overlap_size = overlap_size
        self.comp_op = comp_op
        self.allow_missing = allow_missing

    def filter_pair(self, l_string, r_string) -> bool:
        if l_string is None or r_string is None:
            return not self.allow_missing
        tok = self._coerced_tokenizer()
        o = len(set(tok.tokenize(l_string)) & set(tok.tokenize(r_string)))
        return not COMP_OP_PY[self.comp_op](o, self.overlap_size)

    def _survivor_pairs(self, prep_l, prep_r, ranks) -> DataFrame:
        from ..joins.core import AUTO_SALT_CAP, build_salt_map, salted_join

        ex_l = prep_l.select(F.col("id").alias("l_id"), F.explode("tokens").alias("token"))
        ex_r = prep_r.select(F.col("id").alias("r_id"), F.explode("tokens").alias("token"))
        # mandatory hot-token salt (same as candidate_pairs): the left
        # row of a hot token lands in ONE salt bucket and the right
        # rows replicate across all buckets, so each (l_id, r_id,
        # token) triple still meets EXACTLY once — the per-pair
        # overlap count is unchanged (test_filters_salted).
        counted = (
            salted_join(ex_l, ex_r, build_salt_map(ranks, AUTO_SALT_CAP))
            .groupBy("l_id", "r_id")
            .agg(F.count("*").alias("_overlap"))
        )
        pairs = counted.where(
            COMP_OP_MAP[self.comp_op](F.col("_overlap"), F.lit(float(self.overlap_size)))
        ).select("l_id", "r_id")
        if COMP_OP_PY[self.comp_op](0, self.overlap_size):
            all_pairs = (
                prep_l.select(F.col("id").alias("l_id"))
                .crossJoin(prep_r.select(F.col("id").alias("r_id")))
            )
            if self.comp_op in (">=", ">"):
                # bound satisfied by zero overlap -> every pair
                # survives (matches filter_pair): cross join
                pairs = all_pairs
            else:
                # comp_op '=' with overlap_size 0: keep only pairs
                # with NO common token — anti-join the overlapping set
                overlapping = counted.select("l_id", "r_id")
                pairs = all_pairs.join(overlapping, ["l_id", "r_id"], "left_anti")
        return pairs
