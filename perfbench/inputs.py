"""Seeded input generators. Every frame is a pure function of
(seed, step, salt): the same seed gives byte-identical inputs whatever the
run's speed, and the program only ever sees the generated frames.

Shapes follow the repo's fixtures (FIXTURES.md F1, F2, F4 and the
documents/embeddings tables), at sizes chosen so one op stays in the
fixed-cost regime the benchmark measures; no file outside the checkout is
read.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")

# one violating value per rule: each injected row breaks exactly one rule
ORDERS_BREAKS = {
    "enum_o_orderstatus": ("o_orderstatus", "X"),
    "gt_o_totalprice": ("o_totalprice", -5.0),
    "regex_o_orderpriority": ("o_orderpriority", "urgent"),
}
CUSTOMER_BREAKS = {
    "regex_c_name": ("c_name", "cust-bad"),
    "ge_c_acctbal": ("c_acctbal", -5000.0),
    "le_c_acctbal": ("c_acctbal", 50000.0),
    "enum_c_mktsegment": ("c_mktsegment", "SPACE"),
}
EVENTS_BREAKS = {
    "enum_event_type": ("event_type", "hover"),
    "gt_value": ("value", -1.0),
}
BREAKS = {"orders": ORDERS_BREAKS, "customer": CUSTOMER_BREAKS, "events": EVENTS_BREAKS}


def rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *[int(s) for s in salt]])


def _inject(
    g: np.random.Generator, pdf: pd.DataFrame, breaks: dict, n_bad: int
) -> dict[str, int]:
    """Overwrite ``n_bad`` distinct rows, cycling through the rules; returns
    the injected count per rule key."""
    counts = {key: 0 for key in breaks}
    if n_bad == 0:
        return counts
    rows = g.choice(len(pdf), size=n_bad, replace=False)
    keys = list(breaks)
    for i, r in enumerate(rows):
        key = keys[i % len(keys)]
        col, bad = breaks[key]
        pdf.iloc[r, pdf.columns.get_loc(col)] = bad
        counts[key] += 1
    return counts


def governed_slice(
    seed: int, step: int, dataset: str, n: int, bad_share: float, drift: bool
) -> tuple[pd.DataFrame, dict[str, int]]:
    """One landed slice of orders, customer or events, with exactly
    ``round(n * bad_share)`` rows each breaking one contract rule. A drift
    slice (orders only) drops the required ``o_orderpriority`` and adds
    ``o_channel``."""
    g = rng(seed, 1, step)
    base = step * 1_000_000
    keys = base + np.arange(n, dtype=np.int64)
    if dataset == "orders":
        pdf = pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": g.integers(1, 15_000, n, dtype=np.int64),
                "o_orderstatus": g.choice(ORDER_STATUS, n),
                "o_totalprice": np.round(g.uniform(900.0, 500_000.0, n), 2),
                "o_orderdate": EPOCH + g.integers(0, 2_000, n).astype("timedelta64[D]"),
                "o_orderpriority": g.choice(PRIORITIES, n),
            }
        )
    elif dataset == "customer":
        pdf = pd.DataFrame(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": g.integers(0, 25, n, dtype=np.int32),
                "c_acctbal": np.round(g.uniform(-999.0, 9_999.0, n), 2),
                "c_mktsegment": g.choice(SEGMENTS, n),
            }
        )
    elif dataset == "events":
        pdf = pd.DataFrame(
            {
                "event_id": keys,
                "ts": EPOCH + g.integers(0, 86_400_000_000, n).astype("timedelta64[us]"),
                "user_id": g.integers(1, 5_000, n, dtype=np.int64),
                "event_type": g.choice(EVENT_TYPES, n),
                "value": np.round(g.uniform(0.01, 100.0, n), 3),
                "props": [f"k={v}" for v in g.integers(0, 100, n)],
            }
        )
    else:
        raise ValueError(f"unknown dataset {dataset!r}")
    injected = _inject(g, pdf, BREAKS[dataset], int(round(n * bad_share)))
    if drift:
        pdf = pdf.drop(columns=["o_orderpriority"])
        pdf["o_channel"] = g.choice(["web", "store", "phone"], n)
    return pdf, injected


# ------------------------------------------------------------ table_upsert

N_GROUPS = 16


def upsert_base(seed: int, n: int) -> pd.DataFrame:
    """Initial keyed table: k in [0, n), 16 groups, integer amounts."""
    g = rng(seed, 2)
    k = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "k": k,
            "grp": np.char.add("g", (k % N_GROUPS).astype(str).astype("U2")).astype(object),
            "amt": g.integers(1, 1_000_000, n, dtype=np.int64),
            "rev": np.zeros(n, dtype=np.int64),
        }
    )


def upsert_source(
    seed: int,
    step: int,
    live_keys: np.ndarray,
    next_key: int,
    n_match: int,
    n_new: int,
    hot: bool,
    block: int = 1,
) -> pd.DataFrame:
    """MERGE source: existing keys plus ``n_new`` fresh keys starting at
    ``next_key``. Hot: the live keys of an ``n_match``-wide key run that
    lies inside one ``block`` of the initial range-partitioned layout, so it
    touches one initial file whatever the seed. Scattered: ``n_match`` live
    keys drawn from the whole key space, touching every file."""
    g = rng(seed, 3, step)
    if n_match == 0:
        matched = live_keys[:0]
    elif hot:
        lo = hot_run(g, block, n_match)
        matched = np.sort(live_keys[(live_keys >= lo) & (live_keys < lo + n_match)])
    else:
        matched = np.sort(g.choice(live_keys, size=n_match, replace=False))
    k = np.concatenate([matched, next_key + np.arange(n_new, dtype=np.int64)])
    return pd.DataFrame(
        {
            "k": k,
            "grp": np.char.add("g", (k % N_GROUPS).astype(str).astype("U2")).astype(object),
            "amt": g.integers(1, 1_000_000, len(k), dtype=np.int64),
            "rev": np.full(len(k), step + 1, dtype=np.int64),
        }
    )


def hot_run(g: np.random.Generator, block: int, width: int) -> int:
    """First key of a ``width``-wide run inside one block of ``block`` keys
    of an 8-file initial layout."""
    b = int(g.integers(0, 8))
    return b * block + int(g.integers(0, block - width + 1))


# ------------------------------------------------------------ curation_ann

WORDS = (
    "merge window customer spark part group stream filter sort scan vector "
    "join query big hash column data agg table line small slow key fast "
    "order row value batch"
).split()
EN = ["the", "and", "is", "of", "to", "in", "that", "it", "a"]
OTHER = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "de", "que", "une"],
}


def documents(seed: int, step: int, n: int, dup_share: float, first_id: int) -> pd.DataFrame:
    """A document slice: mostly English text over a small technical
    vocabulary, a tenth in another language (dropped by the language
    rule), some too short to keep, and ``dup_share`` of the rows replaced
    by whitespace variants of earlier rows — byte-different text with the
    same tokens, so every injected duplicate is a Jaccard-1 near duplicate
    that banded MinHash finds with certainty."""
    g = rng(seed, 4, step)
    texts = []
    for _ in range(n):
        r = g.random()
        length = int(g.integers(6, 12)) if r < 0.08 else int(g.integers(30, 90))
        if r > 0.9:
            lang = OTHER["de" if r > 0.95 else "fr"]
            vocab = WORDS + lang * 3
        else:
            vocab = WORDS + EN * 2
        texts.append(" ".join(g.choice(vocab, length)))
    n_dup = int(round(n * dup_share))
    if n_dup:
        targets = g.choice(np.arange(n // 2, n), size=n_dup, replace=False)
        for t in targets:
            src = texts[int(g.integers(0, n // 2))]
            texts[t] = "  " + src.replace(" ", "   ", 1) + " "
    return pd.DataFrame({"doc_id": first_id + np.arange(n, dtype=np.int64), "text": texts})


EMB_DIM = 32
EMB_CLUSTERS = 16


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """ANN corpus: ``n`` float32 vectors around 16 seeded centres."""
    g = rng(seed, 5)
    centres = g.normal(size=(EMB_CLUSTERS, EMB_DIM))
    which = g.integers(0, EMB_CLUSTERS, n)
    vecs = (centres[which] + 0.6 * g.normal(size=(n, EMB_DIM))).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})


def ann_queries(seed: int, step: int, corpus: pd.DataFrame, batch: int) -> pd.DataFrame:
    """Query batch: corpus vectors plus small noise, ids outside the corpus
    id range (the index never returns a query's own id)."""
    g = rng(seed, 6, step)
    pick = g.choice(len(corpus), size=batch, replace=False)
    base = np.stack(corpus["embedding"].to_numpy()[pick])
    vecs = (base + 0.05 * g.normal(size=base.shape)).astype(np.float32)
    ids = 1_000_000_000 + step * 10_000 + np.arange(batch, dtype=np.int64)
    return pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
