"""Seeded benchmark inputs: the query mixes, the fresh documents of the
write round and the operator-suite tables. Everything here is a pure
function of the seed, so the same seed gives byte-identical inputs."""

from __future__ import annotations

import os

import numpy as np

# frequent (stopword-class) terms indexed with n-grams: the same set
# bench.py builds with, so phrases of them take the n-gram path and
# single-term queries on them hit the result cache
FREQUENT = [f"term{i:05d}" for i in range(20)]

# the headline suite bench.py times, in its order
OPERATOR_QUERIES = [
    "bm25_topk_and",
    "bm25_topk_or",
    "bm25_phrase",
    "term_df",
    "dedup_exact_groups",
    "dedup_jaccard_pairs",
    "ann_cosine_topk",
    "text_quality",
    "agg_pricing_summary",
    "agg_events_daily",
]

# query classes of the serve mix, in the fixed cyclic order every run
# uses (the seed picks the terms, never the mix proportions)
SERVE_CLASSES = [
    "union2",
    "intersection2",
    "not",
    "phrase2_ngram",
    "rare_single",
    "union3",
    "phrase3_positional",
    "frequent_single",
]


def _zipf_pick(rng: np.random.Generator, lo: int, hi: int, n: int) -> list[int]:
    """``n`` distinct term ranks in [lo, hi) drawn with Zipf
    popularity (p ~ 1/rank) — popular terms are queried more often."""
    ranks = np.arange(lo, hi, dtype=np.float64)
    w = 1.0 / (ranks + 1.0)
    picks = rng.choice(ranks.astype(np.int64), size=n, replace=False, p=w / w.sum())
    return [int(p) for p in picks]


def _t(rank: int) -> str:
    return f"term{rank:05d}"


def make_query(rng: np.random.Generator, cls: str) -> tuple[str, str]:
    """One (query, default_type) of class ``cls``. Each class draws its
    terms from a narrow popularity band, so its cost varies little
    from seed to seed."""
    if cls == "union2":
        a, b = _zipf_pick(rng, 40, 80, 2)
        return f"{_t(a)} {_t(b)}", "union"
    if cls == "union3":
        a, b, c = _zipf_pick(rng, 40, 80, 3)
        return f"{_t(a)} {_t(b)} {_t(c)}", "union"
    if cls == "intersection2":
        a, b = _zipf_pick(rng, 10, 30, 2)
        return f"{_t(a)} {_t(b)}", "intersection"
    if cls == "not":
        a, b = _zipf_pick(rng, 20, 60, 2)
        return f"{_t(a)} -{_t(b)}", "union"
    if cls == "phrase2_ngram":
        a, b = _zipf_pick(rng, 0, 8, 2)
        return f'"{_t(a)} {_t(b)}"', "union"
    if cls == "phrase3_positional":
        a, b, c = _zipf_pick(rng, 20, 40, 3)
        return f'"{_t(a)} {_t(b)} {_t(c)}"', "union"
    if cls == "rare_single":
        (a,) = _zipf_pick(rng, 2000, 4000, 1)
        return _t(a), "union"
    if cls == "frequent_single":
        (a,) = _zipf_pick(rng, 0, len(FREQUENT), 1)
        return _t(a), "union"
    raise ValueError(cls)


def serve_queries(seed: int, n: int) -> list[tuple[str, str, str]]:
    """(class, query, default_type) for ``n`` single requests, classes
    cycling through SERVE_CLASSES."""
    rng = np.random.default_rng([seed, 1])
    return [
        (cls, *make_query(rng, cls))
        for cls in (SERVE_CLASSES[i % len(SERVE_CLASSES)] for i in range(n))
    ]


def batch_queries(seed: int, size: int = 100) -> list[str]:
    """``size`` mixed queries for one /query_batch request. The batch
    endpoint takes one default_type, so intersection terms carry
    ``+`` prefixes."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(size):
        cls = SERVE_CLASSES[i % len(SERVE_CLASSES)]
        q, dt = make_query(rng, cls)
        if dt == "intersection":
            q = " ".join("+" + t for t in q.split())
        out.append(q)
    return out


def write_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """Realtime queries of the write phase: frequent terms, so the
    staged batch contributes matches."""
    rng = np.random.default_rng([seed, 3])
    classes = ["intersection2", "phrase2_ngram", "union2", "not"]
    return [make_query(rng, classes[i % len(classes)]) for i in range(n)]


def fresh_docs(seed: int, n: int) -> list[dict]:
    """``n`` webtext-style docs for the write phase: Zipf tokens
    over the corpus vocabulary, drawn from a stream of their own so no
    text repeats the base corpus."""
    from seekstorm_spark.sources.webtext import VOCAB_SIZE, _zipf_weights

    cdf = np.cumsum(_zipf_weights(VOCAB_SIZE))
    rng = np.random.default_rng([seed, 6])
    out = []
    for i in range(n):
        picks = np.searchsorted(cdf, rng.random(int(rng.integers(20, 401))))
        out.append({
            "url": f"https://fresh{seed}.example/p/{i:08d}",
            "text": " ".join(f"term{p:05d}" for p in picks),
        })
    return out


# ---------------------------------------------------------------------------
# operator-suite tables
# ---------------------------------------------------------------------------
# The repo's sf0.1 test tables, regenerated from the seed: the same
# columns, row counts and per-column distributions (measured on sf0.1;
# README.md "operators" holds the comparison). The run reads only its
# own checkout, so it cannot open the fixed files themselves.

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
OPERATOR_TABLES = ("documents", "embeddings", "lineitem", "events")
# sf0.1 row counts
SF01_ROWS = {"documents": 5000, "embeddings": 2000, "lineitem": 600_000, "events": 100_000}


def write_operator_tables(out_dir: str, seed: int, rows: dict[str, int]) -> None:
    """documents / embeddings / lineitem / events parquet with
    ``rows[table]`` rows each, distributed as in sf0.1:

    - documents: 10–99 tokens drawn uniformly from a 30-word
      vocabulary; 5 % get the rare term "dup" appended; one doc in 625 is an
      exact copy of another; lang 40 % en, 15 % each zh/es/fr/de;
      source cycles through 20 values.
    - embeddings: 64-d unit vectors, 10 labels.
    - lineitem: TPC-H-style uniform keys (orderkey < rows/4, 20k parts,
      1k suppliers), prices 900–105k, ship dates over 2499 days.
    - events: 30 days of sorted timestamps, 1500 users, 5 types,
      exponential values with mean 50.
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])

    n = rows["documents"]
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)]) + (" dup" if rng.random() < 0.05 else "")
        for k in rng.integers(10, 100, n)
    ]
    for _ in range(max(n // 625, 1)):
        i, j = rng.choice(n, size=2, replace=False)
        texts[int(i)] = texts[int(j)]
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   f"{out_dir}/documents.parquet")

    n = rows["embeddings"]
    emb = rng.standard_normal((n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }),
        f"{out_dir}/embeddings.parquet",
    )

    n = rows["lineitem"]
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2499, n).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, max(n // 4, 1), n),
        "l_partkey": rng.integers(0, 20000, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    }), f"{out_dir}/lineitem.parquet")

    n = rows["events"]
    ts = np.datetime64("2024-01-01T00:00:00") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, 1500, n),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), f"{out_dir}/events.parquet")
