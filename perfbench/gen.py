"""Seeded input generator for the benchmark workloads.

Writes `events.parquet` and/or `documents.parquet` in the schema of the
repository's test tables (TESTDATA.md; the one `graft.sources.Tables`
reads), so the program's public readers run unchanged on them. The same (workload, seed) always yields
byte-identical files.

The properties the program's behaviour depends on are parameters of each
workload input (`PARAMS`): key count, ticks per key-hour (which sets the share
of quiet, gap-filled windows), day span, stream disorder, and the
near-duplicate share of the document corpus. Non-positive prices are kept
at the sf0.1 test data's rate (6 zero-price ticks per 100k) so the
`logReturns` guard stays exercised.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, like the test data
HOUR_US = 3_600_000_000
ZERO_PRICE_RATE = 6e-5          # sf0.1 test data: 6 zero-price ticks per 100k

PARAMS = {
    # the FX batch family, one input per composition, each with its
    # warm-up input of a tenth of the keys:
    # - pairs (fx_corr_nan): sf0.1's keys and tick rate over its first
    #   days; most (6 h window, key) packets are constant carry-forward and
    #   each window holds up to C(1500, 2) pair candidates
    # - ticks (fx_indicators): a few hundred keys, ticks ten times denser
    # `min_ops`: timed operations per run, whatever the host's speed, so
    # that the median is always taken over the same operations
    "fx_batch": {"min_ops": 2, "inputs": {
        "pairs": {"keys": 1500, "days": 3, "ticks_per_key_hour": 0.09,
                  "warm": {"keys": 150}},
        "ticks": {"keys": 300, "days": 7, "ticks_per_key_hour": 0.9,
                  "warm": {"keys": 30}}}},
    # return points replayed as an open loop, one file per interval; each
    # of the `chunks` files (plus two watermark sentinels) closes a few
    # 6 h windows
    "fx_stream": {"inputs": {
        "ticks": {"keys": 40, "days": 3, "ticks_per_key_hour": 0.5}},
        "disorder_hours": 24, "chunks": 6, "files_per_s": 0.5},
    # Zipf vocabulary, fixed near-duplicate share
    "docs_curation": {"min_ops": 3, "inputs": {
        "docs": {"docs": 1500, "vocab": 3000, "near_dup_share": 0.05,
                 "min_tokens": 30, "max_tokens": 80, "warm": {"docs": 300}}}},
}

EVENT_TYPES = np.array(["click", "view", "purchase", "scroll", "hover"])
LANGS = np.array(["en", "de", "fr", "es", "pt"])
STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "that"]


def _seed(name: str, seed: int) -> np.random.Generator:
    salt = sum(ord(c) * (i + 1) for i, c in enumerate(name))
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def gen_events(out_dir: str, p: dict, rng: np.random.Generator) -> int:
    """Ticks as `events` rows; returns the row count."""
    keys, hours = p["keys"], 24 * p["days"]
    n = int(round(keys * hours * p["ticks_per_key_hour"]))
    user = rng.integers(0, keys, n)
    t_us = rng.integers(0, hours * HOUR_US, n)
    # one tick per (key, µs): the candle close is the latest tick, so a tie
    # would leave it unspecified
    order = np.lexsort((t_us, user))
    user, t_us = user[order], t_us[order]
    keep = np.ones(n, bool)
    keep[1:] = (user[1:] != user[:-1]) | (t_us[1:] != t_us[:-1])
    user, t_us = user[keep], t_us[keep]
    n = len(user)
    # prices: a shared hourly market factor plus per-key beta and noise,
    # so some pairs correlate and most do not
    factor = np.cumsum(rng.normal(0.0, 0.004, hours))
    base = rng.uniform(20.0, 200.0, keys)
    beta = rng.uniform(-1.5, 1.5, keys)
    hour = t_us // HOUR_US
    value = base[user] * np.exp(beta[user] * factor[hour]
                                + rng.normal(0.0, 0.003, n))
    value = np.round(value, 6)
    n_zero = max(1, int(round(n * ZERO_PRICE_RATE)))
    value[rng.choice(n, n_zero, replace=False)] = 0.0
    by_time = np.argsort(t_us, kind="stable")
    user, t_us, value = user[by_time], t_us[by_time], value[by_time]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(T0_US + t_us, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(np.char.add("p", rng.integers(0, 100, n).astype(str))),
    })
    _write(table, os.path.join(out_dir, "events.parquet"))
    return n


def gen_documents(out_dir: str, p: dict, rng: np.random.Generator) -> int:
    """Zipf-vocabulary documents with a fixed near-duplicate share."""
    n, v = p["docs"], p["vocab"]
    words = np.array(STOPWORDS + [f"w{i:04d}" for i in range(v)]
                     + ["x,", "y.", "(z)", "n-1"])
    weights = 1.0 / (np.arange(len(words)) + 8.0)
    weights /= weights.sum()
    n_dup = int(round(n * p["near_dup_share"]))
    dup_rows = set(rng.choice(np.arange(n // 10, n), n_dup, replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dup_rows:
            # near copy of an earlier document: a few token substitutions
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), int(rng.integers(1, 4))):
                toks[j] = words[int(rng.integers(0, len(words)))]
        else:
            ln = int(rng.integers(p["min_tokens"], p["max_tokens"] + 1))
            toks = list(words[rng.choice(len(words), ln, p=weights)])
        texts.append(" ".join(toks))
    txt = np.array(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(txt),
        "lang": pa.array(LANGS[rng.integers(0, 5, n)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array(np.char.str_len(txt).astype(np.int64)),
    })
    _write(table, os.path.join(out_dir, "documents.parquet"))
    return n


def generate(out_dir: str, workload: str, seed: int, warm: bool = False) -> int:
    """Write each of the workload's inputs into its own directory under
    `out_dir` (with `warm`, the warm-up's smaller inputs); returns their
    total row count."""
    rows = 0
    for name, spec in PARAMS[workload]["inputs"].items():
        p = dict(spec, **spec.get("warm", {})) if warm else spec
        rng = _seed(f"{workload}/{name}" + ("/warm" if warm else ""), seed)
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        rows += (gen_documents if "docs" in p else gen_events)(d, p, rng)
    return rows
