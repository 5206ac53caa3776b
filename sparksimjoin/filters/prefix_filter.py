"""PrefixFilter (``[R] py_stringsimjoin/filter/prefix_filter.py``;
SURVEY.md §2.1 #9): candidate generation by equi-join on exploded
prefix tokens only (no size/position residuals)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filter_math import SET_SIM_MEASURES, prefix_length_py
from ..joins.core import prefix_explode
from ..tokenizers import Tokenizer
from .base import Filter


class PrefixFilter(Filter):
    def __init__(
        self,
        tokenizer: Tokenizer,
        sim_measure_type: str,
        threshold: float,
        allow_empty: bool = True,
        allow_missing: bool = False,
    ):
        assert sim_measure_type in SET_SIM_MEASURES, sim_measure_type
        self.tokenizer = tokenizer
        self.sim_measure_type = sim_measure_type
        self.threshold = threshold
        self.allow_empty = allow_empty
        self.allow_missing = allow_missing

    def _ordered_prefix_py(self, tokens: list[str], order: dict) -> list[str]:
        ordered = sorted(tokens, key=lambda t: order.get(t, (0, t)))
        n = prefix_length_py(len(ordered), self.sim_measure_type, self.threshold)
        return ordered[:n]

    def filter_pair(self, l_string, r_string) -> bool:
        """Pair mode builds a local token order over just the two
        strings (reference does the same in ``filter_pair``)."""
        if l_string is None or r_string is None:
            return not self.allow_missing
        tok = self._coerced_tokenizer()
        lt, rt = tok.tokenize(l_string), tok.tokenize(r_string)
        if len(lt) == 0 and len(rt) == 0:
            return not self.allow_empty
        from collections import Counter

        cnt = Counter(lt) + Counter(rt)
        order = {t: (c, t) for t, c in cnt.items()}
        lp = set(self._ordered_prefix_py(lt, order))
        rp = set(self._ordered_prefix_py(rt, order))
        return len(lp & rp) == 0

    def _survivor_pairs(self, prep_l, prep_r, ranks) -> DataFrame:
        from ..joins.core import AUTO_SALT_CAP, blocked_candidates, build_salt_map

        # id_col='id': filter table mode hands survivor ids straight
        # to its output without a prep join, so it stays in
        # original-id space (the joins' funnel uses iid surrogates)
        ex_l = prefix_explode(prep_l, "l", self.sim_measure_type, self.threshold,
                              id_col="id")
        ex_r = prefix_explode(prep_r, "r", self.sim_measure_type, self.threshold,
                              id_col="id")
        # mandatory hot-token salt, same defense as candidate_pairs:
        # one ubiquitous prefix token otherwise serializes the stage
        # (survivor set identical to the unsalted join —
        # test_filters_salted)
        pairs = blocked_candidates(ex_l, ex_r, build_salt_map(ranks, AUTO_SALT_CAP))
        if self.allow_empty:
            el = prep_l.where(F.col("size") == 0).select(F.col("id").alias("l_id"))
            er = prep_r.where(F.col("size") == 0).select(F.col("id").alias("r_id"))
            pairs = pairs.unionByName(el.crossJoin(er))
        return pairs
