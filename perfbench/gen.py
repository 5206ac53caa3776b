"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments (no wall clock, no
global RNG), so the same seed gives the same inputs. They are the
benchmark's own copies: they model ``sparksimjoin.fixtures`` and the
shapes of the sf test tables (TESTDATA.md), but import neither, so
a later fixture edit cannot silently change a workload.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

_BASE_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "apple", "banana", "cherry", "date", "elder",
    "fig", "grape", "honey", "iris", "jade", "kiwi", "lemon", "mango",
    "nectar", "olive", "peach", "quince", "rasp", "straw", "tomato", "ugli",
    "vanilla", "walnut", "yam", "zest", "run", "jump", "walk", "read",
    "write", "code", "test", "build", "ship", "merge", "join", "scan",
    "sort", "hash", "batch", "stream", "spark", "table", "query", "plan",
]
_SYNONYMS = {
    "run": "sprint", "jump": "leap", "walk": "stroll", "read": "peruse",
    "write": "compose", "apple": "pomme", "banana": "plantain",
}
_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "calc", "browse"]
_EPOCH = datetime(2026, 1, 1)

# the sf `documents` table: a 30-word vocabulary plus near-copies
# marked with a trailing "dup" token (31 distinct words in all)
_DOC_WORDS = [
    "a", "the", "spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "agg", "key", "query", "scan", "batch",
]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def vocab(size: int) -> list[str]:
    """``size`` distinct words: the base words, then numbered variants."""
    out = list(_BASE_WORDS)
    i = 0
    while len(out) < size:
        out.extend(f"{w}{i}" for w in _BASE_WORDS)
        i += 1
    return out[:size]


def _noisy_copy(rng: random.Random, text: str, rate: float = 0.10) -> str:
    """Per-token typo / drop / swap / synonym / case edits at ~``rate``."""
    toks = text.split()
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if rng.random() < rate:
            op = rng.choice(["typo", "drop", "swap", "syn", "case"])
            if op == "typo" and len(t) > 1:
                p = rng.randrange(len(t))
                out.append(t[:p] + rng.choice("abcdefghijklmnopqrstuvwxyz") + t[p + 1:])
            elif op == "drop":
                pass
            elif op == "swap" and i + 1 < len(toks):
                out.extend([toks[i + 1], t])
                i += 1
            elif op == "syn" and t in _SYNONYMS:
                out.append(_SYNONYMS[t])
            elif op == "case":
                out.append(t.upper())
            else:
                out.append(t)
        else:
            out.append(t)
        i += 1
    return " ".join(out)


def transcripts(n_conv: int, seed: int, vocab_size: int = 2000,
                hot_rate: float = 0.35) -> tuple[pd.DataFrame, pd.DataFrame]:
    """-> (turns, gold). Turns are (conv_id, turn_idx, role, text, tool,
    ts). Entities have Zipf-ish sizes (70% singletons, up to 5 noisy
    copies), and ~``hot_rate`` of turns carry hot boilerplate tokens.
    Gold maps conv_id -> entity_id."""
    rng = random.Random(seed)
    words = vocab(vocab_size)
    rows, gold = [], []
    conv_i = entity = 0
    while conv_i < n_conv:
        r = rng.random()
        size = 1 if r < 0.70 else 2 if r < 0.85 else 3 if r < 0.93 else rng.randint(4, 5)
        size = min(size, n_conv - conv_i)
        base_turns = []
        for _ in range(rng.randint(2, 12)):
            ws = [rng.choice(words) for _ in range(rng.randint(4, 14))]
            if rng.random() < hot_rate:
                ws = ["the", *ws, "boilerplate standard disclaimer applies"]
            base_turns.append(" ".join(ws))
        role_off = rng.randrange(3)
        for m in range(size):
            conv_id = f"conv{conv_i:08d}"
            for t, base in enumerate(base_turns):
                role = _ROLES[(role_off + t) % 3]
                rows.append((conv_id, t, role, base if m == 0 else _noisy_copy(rng, base),
                             rng.choice(_TOOLS) if role == "tool" else None,
                             _EPOCH + timedelta(seconds=conv_i * 60 + t)))
            gold.append((conv_id, entity))
            conv_i += 1
        entity += 1
    turns = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    turns["turn_idx"] = turns["turn_idx"].astype("int32")
    return turns, pd.DataFrame(gold, columns=["conv_id", "entity_id"])


def documents(n: int, seed: int, dup_rate: float = 0.05) -> pd.DataFrame:
    """(doc_id, text): 10-100 words drawn from the 30-word vocabulary;
    ~``dup_rate`` of documents copy an earlier one plus a "dup" token."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < dup_rate:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100))))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def parts(n: int, seed: int) -> pd.DataFrame:
    """(p_partkey, p_name): 64 distinct two-word names."""
    rng = random.Random(seed)
    names = [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n)]
    return pd.DataFrame({"p_partkey": np.arange(n, dtype=np.int64), "p_name": names})


def embeddings(n: int, seed: int, dim: int = 64, n_labels: int = 10) -> pd.DataFrame:
    """(vec_id, embedding): unit float32 vectors around ``n_labels``
    weak centroids (the sf table's shape: near-isotropic)."""
    rng = np.random.default_rng(seed)
    centroids = rng.normal(size=(n_labels, dim)) * 0.1
    labels = rng.integers(0, n_labels, size=n)
    x = rng.normal(size=(n, dim)) + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(x)})


def events(n: int, seed: int, n_users: int, days: int = 30) -> pd.DataFrame:
    """(event_id, ts, user_id, event_type): uniform over ``days`` days."""
    rng = np.random.default_rng(seed)
    ts_us = np.sort(rng.integers(0, days * 86_400_000_000, size=n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.Timestamp(_EPOCH) + pd.to_timedelta(ts_us, unit="us"),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, size=n),
    })


def zipf_skew_corpus(spark, n_rows: int, seed: int, vocab_size: int = 4000):
    """(id, text): 7 log-uniform (~Zipf(1)) tokens per record plus one
    'hot' token in every other record, built from Column expressions
    over ``spark.range`` (no driver data)."""
    from pyspark.sql import functions as F

    toks = []
    for k in range(7):
        h = F.xxhash64(F.col("id"), F.lit(k), F.lit(seed))
        u = F.pmod(h, F.lit(1_000_000)) / 1_000_000.0
        toks.append(F.concat(F.lit("w"),
                             F.floor(F.pow(F.lit(float(vocab_size)), u)).cast("string")))
    text = F.concat_ws(" ", *toks)
    text = F.when(F.col("id") % 2 == 0, F.concat(F.lit("hot "), text)).otherwise(text)
    return spark.range(n_rows).select("id", text.alias("text"))
