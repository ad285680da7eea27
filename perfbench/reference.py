"""Reference results for the benchmark workloads, computed without Spark.

Each workload's output is reduced to a fingerprint: exact row and non-null
counts, exact integer sums, and float sums (with their absolute sums, which
set the tolerance). The harness reduces the program's output to the same
fingerprint on every timed operation; `compare` decides pass or fail.

The references follow the operators' documented semantics:
- candles: hourly OHLC over windows holding at least one tick, gap rows for
  every (observed window, key) without ticks, close carried forward from
  the last live close, open = previous patched close;
- log-returns: ln(close / open), null unless both prices are positive;
- pairs: sliding 6 h / 3 h windows, timestamp-aligned two-pass Pearson,
  n >= 2, NaN when either aligned side is constant;
- indicators: row frames per key as in `Rolling.indicators`;
- curation: MinHash-LSH (32 hashes, 8 bands) candidates verified by exact
  3-shingle Jaccard, smallest-id cluster survivors, quality floor, then
  removal of documents sharing >= 2 shingles with a benchmark document.
"""
import hashlib
import math
import re
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pyarrow.parquet as pq

HOUR_US = 3_600_000_000
REL_TOL = 1e-9


# ---------------------------------------------------------------- candles

def candle_closes(events_path):
    """(key ids, observed hours, carried close matrix, open matrix)."""
    t = pq.read_table(events_path, columns=["ts", "user_id", "value"])
    ts = t.column("ts").cast("int64").to_numpy()
    user = t.column("user_id").to_numpy()
    value = t.column("value").to_numpy()
    hour = ts // HOUR_US
    keys, ki = np.unique(user, return_inverse=True)
    hours, hi = np.unique(hour, return_inverse=True)
    order = np.lexsort((ts, hi, ki))
    ki, hi, value = ki[order], hi[order], value[order]
    last = np.ones(len(ki), bool)
    last[:-1] = (ki[1:] != ki[:-1]) | (hi[1:] != hi[:-1])
    close = np.full((len(keys), len(hours)), np.nan)
    close[ki[last], hi[last]] = value[last]
    # carry the last live close forward into gap windows
    idx = np.where(~np.isnan(close), np.arange(len(hours)), 0)
    np.maximum.accumulate(idx, axis=1, out=idx)
    carried = close[np.arange(len(keys))[:, None], idx]
    carried[np.cumsum(~np.isnan(close), axis=1) == 0] = np.nan
    opened = np.empty_like(carried)
    opened[:, 0] = carried[:, 0]
    opened[:, 1:] = carried[:, :-1]
    return keys, hours, carried, opened


def log_returns(carried, opened):
    ok = (carried > 0) & (opened > 0)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(ok, np.log(np.where(ok, carried / opened, 1.0)), np.nan)


# ------------------------------------------------------------------ pairs

def _window_pairs(x):
    """All pairs (i < j) of the rows of `x` (NaN = no point) with >= 2
    aligned points: (i, j, r, n)."""
    k, m = x.shape
    present = ~np.isnan(x)
    codes = present.astype(np.int64) @ (1 << np.arange(m))
    groups = {int(c): np.flatnonzero(codes == c) for c in np.unique(codes) if c}
    out = []
    cs = sorted(groups)
    for a_i, c1 in enumerate(cs):
        for c2 in cs[a_i:]:
            common = c1 & c2
            cols = [b for b in range(m) if common >> b & 1]
            n = len(cols)
            if n < 2:
                continue
            ga, gb = groups[c1], groups[c2]
            sides = []
            for g in (ga, gb):
                v = x[np.ix_(g, cols)]
                mean = v.sum(axis=1) / n
                c = v - mean[:, None]
                sides.append((c, (v.max(axis=1) > v.min(axis=1)),
                              (c * c).sum(axis=1)))
            (ca, nca, cxx), (cb, ncb, cyy) = sides
            cxy = ca @ cb.T
            ok = (nca & (cxx > 0))[:, None] & (ncb & (cyy > 0))[None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                r = np.where(ok, np.clip(cxy / np.sqrt(np.outer(cxx, cyy)),
                                         -1.0, 1.0), np.nan)
            ii, jj = np.meshgrid(ga, gb, indexing="ij")
            if c1 == c2:
                keep = ii < jj
                ii, jj, r = ii[keep], jj[keep], r[keep]
            out.append((ii.ravel(), jj.ravel(), r.ravel(),
                        np.full(r.size, n, np.int64)))
    if not out:
        e = np.array([], np.int64)
        return e, e, np.array([]), e
    return tuple(np.concatenate(z) for z in zip(*out))


def pair_rows(keys, hours, rets, propagate_nan, gate_round):
    """Yield (window start hour, key1 id, key2 id, r, n, isNaN, nPts1, nPts2)
    column arrays per window, as the correlation operator emits them with
    minCorr 0.4999 (and the gates' rounded 0.5 threshold when
    `gate_round`)."""
    starts = np.unique(np.concatenate([3 * (hours // 3), 3 * (hours // 3) - 3]))
    for s in starts:
        cols = np.flatnonzero((hours >= s) & (hours <= s + 5))
        if len(cols) == 0:
            continue
        x = rets[:, cols]
        npts = (~np.isnan(x)).sum(axis=1)
        live = np.flatnonzero(npts > 0)
        if not propagate_nan:
            # packets with zero spread are pruned before the join
            v = x[live]
            spread = np.nanmax(v, axis=1) > np.nanmin(v, axis=1)
            live = live[spread]
        i, j, r, n = _window_pairs(x[live])
        i, j = live[i], live[j]
        isnan = np.isnan(r)
        if propagate_nan:
            r = np.where(isnan, 1.0, r)
        else:
            i, j, r, n, isnan = i[~isnan], j[~isnan], r[~isnan], n[~isnan], isnan[~isnan]
        keep = np.abs(r) >= 0.4999
        i, j, r, n, isnan = i[keep], j[keep], r[keep], n[keep], isnan[keep]
        if gate_round:
            r = np.where(isnan, r, np.round(r, 6))
            keep = np.abs(r) >= 0.5
            i, j, r, n, isnan = i[keep], j[keep], r[keep], n[keep], isnan[keep]
        yield s, keys[i], keys[j], r, n, isnan, npts[i], npts[j]


def _pair_fp(k1, k2, r, n, isnan, p1, p2, wsum):
    return {
        "rows": int(len(r)),
        "sum_n": int(n.sum()),
        "sum_nan": int(isnan.sum()),
        "sum_ids": int((k1 + k2).sum()),
        "sum_idprod": int((k1 * k2).sum()),
        "sum_pts": int((p1 + p2).sum()),
        "sum_whour": int(wsum),
        "sum_r": float(r.sum()),
        "abs_r": float(np.abs(r).sum()),
    }


def fx_pairs(data_dir):
    """Per-window fingerprints of the fx_corr_nan pair rows, flattened as
    `w<window start hour>.<name>` so one correlation off is judged on its
    window's scale."""
    keys, hours, carried, opened = candle_closes(f"{data_dir}/events.parquet")
    rets = log_returns(carried, opened)
    total = {}
    for s, k1, k2, r, n, isnan, p1, p2 in pair_rows(keys, hours, rets, True, True):
        if len(r):
            fp = _pair_fp(k1, k2, r, n, isnan, p1, p2, int(s) * len(r))
            total.update({f"w{int(s)}.{k}": v for k, v in fp.items()})
    return {"total": total}


def fx_stream(data_dir):
    """Per-window fingerprints of the un-rounded fx_corr pair rows."""
    keys, hours, carried, opened = candle_closes(f"{data_dir}/events.parquet")
    rets = log_returns(carried, opened)
    windows = {}
    for s, k1, k2, r, n, isnan, p1, p2 in pair_rows(keys, hours, rets, False, False):
        if len(r):
            windows[str(int(s))] = _pair_fp(k1, k2, r, n, isnan, p1, p2,
                                            int(s) * len(r))
    return {"windows": windows}


# ------------------------------------------------------------- indicators

def _frames(x, n):
    pad = np.concatenate([np.full(n - 1, np.nan), x])
    return np.lib.stride_tricks.sliding_window_view(pad, n)


def _ewma(x, n, alpha):
    w = _frames(x, n)
    valid = ~np.isnan(w)
    num = np.where(valid, w, 0.0) @ (alpha ** np.arange(n - 1, -1, -1.0))
    cnt = valid.sum(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(cnt > 0, num / ((1.0 - alpha ** cnt) / (1.0 - alpha)), np.nan)


def _stats(x, n):
    w = _frames(x, n)
    cnt = (~np.isnan(w)).sum(axis=1)
    avg = np.nansum(w, axis=1) / cnt
    dev = np.where(np.isnan(w), 0.0, w - avg[:, None])
    with np.errstate(invalid="ignore", divide="ignore"):
        std = np.where(cnt > 1, np.sqrt((dev * dev).sum(axis=1) / (cnt - 1)), np.nan)
    return cnt, avg, np.nanmin(w, axis=1), np.nanmax(w, axis=1), std


def _sub_eps(x):
    return np.where(np.abs(x) < 1e-9, 0.0, x)


def indicator_columns(v):
    d = np.concatenate([[np.nan], np.diff(v)])
    n4, avg4, min4, max4, std4 = _stats(v, 4)
    macd = _sub_eps(_ewma(v, 30, 11 / 13) - _ewma(v, 30, 25 / 27))
    wilder = 13 / 14
    ag = _ewma(np.where(np.isnan(d), np.nan, np.maximum(d, 0.0)), 30, wilder)
    al = _ewma(np.where(np.isnan(d), np.nan, np.maximum(-d, 0.0)), 30, wilder)
    with np.errstate(invalid="ignore", divide="ignore"):
        rsi = np.where(np.isnan(d), np.nan,
                       np.where((al == 0) & (ag == 0), 50.0,
                                np.where(al == 0, 100.0, 100.0 - 100.0 / (1.0 + ag / al))))
    _, mid, _, _, sd = _stats(v, 20)
    lower, upper = mid - 2.0 * sd, mid + 2.0 * sd
    with np.errstate(invalid="ignore", divide="ignore"):
        pctb = np.where(sd > 1e-9, (v - lower) / (upper - lower), np.nan)
    signal = _sub_eps(_ewma(macd, 30, 0.8))
    return {
        "roll_n": n4.astype(float), "roll_avg": avg4, "roll_min": min4,
        "roll_max": max4, "roll_std": std4, "ewma": _ewma(v, 10, 0.8),
        "macd": macd, "signal": signal, "hist": _sub_eps(macd - signal),
        "rsi": rsi, "bb_mid": mid, "bb_lower": lower, "bb_upper": upper,
        "bb_pctb": pctb,
    }


INDICATOR_COLUMNS = ["roll_n", "roll_avg", "roll_min", "roll_max", "roll_std",
                     "ewma", "macd", "signal", "hist", "rsi", "bb_mid",
                     "bb_lower", "bb_upper", "bb_pctb"]


def fx_ticks(data_dir):
    keys, hours, carried, _ = candle_closes(f"{data_dir}/events.parquet")
    acc = {c: [0, 0.0, 0.0] for c in INDICATOR_COLUMNS}
    rows = sum_ids = sum_hours = 0
    for k in range(len(keys)):
        row = carried[k]
        first = np.flatnonzero(~np.isnan(row))
        if len(first) == 0:
            continue
        v = row[first[0]:]
        rows += len(v)
        sum_ids += int(keys[k]) * len(v)
        sum_hours += int(hours[first[0]:].sum())
        for c, x in indicator_columns(v).items():
            ok = ~np.isnan(x)
            a = acc[c]
            a[0] += int(ok.sum())
            a[1] += float(x[ok].sum())
            a[2] += float(np.abs(x[ok]).sum())
    fp = {"rows": rows, "sum_ids": sum_ids, "sum_hours": sum_hours}
    for c, (cnt, s, a) in acc.items():
        fp[f"cnt_{c}"] = cnt
        fp[f"sum_{c}"] = s
        fp[f"abs_{c}"] = a
    return {"total": fp}


# --------------------------------------------------------------- curation

P = 2147483647
STOPWORDS = {"the", "a", "an", "and", "of", "to", "in", "is", "it", "that"}
_PUNCT = re.compile(r"[a-z0-9\s]")
_SPACE = re.compile(r"\s")


def _tokens(text):
    return [t for t in text.lower().split(" ") if t]


def _shingles(text, n=3):
    t = _tokens(text)
    return {" ".join(t[i:i + n]) for i in range(max(len(t) - n, 0) + 1)
            if len(t[i:i + n]) == n}


def _round6(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _quality(text):
    toks = _tokens(text)
    n_tok = len(toks)
    n_chars = len(text)
    safe = max(n_tok, 1)
    stop = sum(t in STOPWORDS for t in toks) / safe
    punct = len(_PUNCT.sub("", text.lower())) / max(n_chars, 1)
    q = (min(n_tok / 20.0, 1.0) * 0.4 + min(stop * 5.0, 1.0) * 0.3
         + (1.0 - min(punct * 10.0, 1.0)) * 0.3)
    return n_tok, _round6(q)


def near_dup_pairs(ids, sets):
    """MinHash-LSH candidate pairs verified by exact Jaccard >= 0.5."""
    mult = 2 * np.arange(32, dtype=np.int64) + 1
    add = 7919 * (np.arange(32, dtype=np.int64) + 1)
    buckets = {}
    for d, s in zip(ids, sets):
        if not s:
            continue
        h = np.array([int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % P
                      for x in s], dtype=np.int64)
        sig = ((h[:, None] * mult + add) % P).min(axis=0)
        for b in range(8):
            buckets.setdefault((b, tuple(sig[4 * b:4 * b + 4])), []).append(d)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                cand.add((min(a, b), max(a, b)))
    by_id = dict(zip(ids, sets))
    pairs = []
    for a, b in cand:
        sa, sb = by_id[a], by_id[b]
        inter = len(sa & sb)
        if _round6(inter / (len(sa) + len(sb) - inter)) >= 0.5:
            pairs.append((a, b))
    return pairs


def docs_curation(data_dir):
    t = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    sets = [_shingles(x) for x in texts]
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in near_dup_pairs(ids, sets):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dropped = {x for x in parent if find(x) != x}
    bench = {}
    for d, s in zip(ids, sets):
        if d % 97 == 0:
            for sh in s:
                bench.setdefault(sh, []).append(d)
    rows = sum_ids = sum_tok = 0
    sum_q = 0.0
    for d, text, s in zip(ids, texts, sets):
        if d in dropped or d % 97 == 0:
            continue
        n_tok, q = _quality(text)
        if q < 0.45:
            continue
        shared = {}
        for sh in s:
            for b in bench.get(sh, ()):
                shared[b] = shared.get(b, 0) + 1
        if any(c >= 2 for c in shared.values()):
            continue
        rows += 1
        sum_ids += d
        sum_tok += n_tok
        sum_q += q
    return {"total": {"rows": rows, "sum_ids": sum_ids, "sum_tokens": sum_tok,
                      "sum_q": sum_q, "abs_q": sum_q}}


def fx_batch(data_dir):
    """fx_pairs and fx_ticks on their own inputs, keys prefixed."""
    return {"total": {f"{p}.{k}": v
                      for p, f in (("pairs", fx_pairs), ("ticks", fx_ticks))
                      for k, v in f(f"{data_dir}/{p}")["total"].items()}}


WORKLOADS = {"fx_batch": fx_batch,
             "fx_stream": lambda d: fx_stream(f"{d}/ticks"),
             "docs_curation": lambda d: docs_curation(f"{d}/docs")}


# ----------------------------------------------------------------- checks

def compare(ref, got):
    """Mismatch descriptions between two fingerprints (empty = equal).

    Both must have the same entries; integer entries must match exactly. A float `[prefix.]sum_<c>` must
    agree within REL_TOL of its reference `[prefix.]abs_<c>` (the sum of
    magnitudes), so a sum that cancels to near zero is still judged on the
    scale of its terms.
    """
    bad = [f"{name}: not in reference" for name in got if name not in ref]
    for name, want in ref.items():
        head, _, base = name.rpartition(".")
        have = got.get(name)
        if have is None:
            bad.append(f"{name}: missing")
        elif isinstance(want, int) and not isinstance(want, bool):
            if int(have) != want:
                bad.append(f"{name}: {have} != {want}")
        else:
            scale = abs(want)
            if base.startswith("sum_"):
                scale = ref.get(f"{head}.abs_{base[4:]}" if head else f"abs_{base[4:]}", scale)
            # a non-finite value (NaN compares false) never matches
            diff = abs(float(have) - want)
            if not math.isfinite(diff) or diff > REL_TOL * max(1.0, scale):
                bad.append(f"{name}: {have} != {want}")
    return bad
