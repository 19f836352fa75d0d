"""Independent references the correctness gate compares the engine with:
DuckDB for the time-series workloads, NumPy for curation. Each check
returns a list of mismatch descriptions (empty = correct)."""

from __future__ import annotations

import hashlib
import math
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd

_UNIX = datetime(1970, 1, 1)


def ts_us(dt: datetime) -> int:
    """Collected timestamps are naive UTC datetimes (session tz = UTC)."""
    d = dt.replace(tzinfo=None) - _UNIX
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


# -- serve --------------------------------------------------------------------
def check_serve(points: pd.DataFrame, queries: list[dict]) -> list[str]:
    """``points``: (series_id, ts_us, value) for every shyft:// and
    cloud:// series. Each query dict holds ``refs``, ``lo_us``, ``hi_us``,
    the collected ``rows`` and, for dashboard queries, ``resample`` and
    ``rdp`` rows."""
    con = duckdb.connect()
    try:
        manifest = pd.DataFrame(
            [
                (qn, qi, ref, q["lo_us"], q["hi_us"])
                for qn, q in enumerate(queries)
                for qi, ref in enumerate(q["refs"])
            ],
            columns=["qn", "qi", "sid", "lo", "hi"],
        )
        con.register("pts", points)
        con.register("manifest", manifest)
        ref = con.sql(
            "SELECT m.qn, m.qi, m.sid, p.ts_us, p.value FROM manifest m "
            "JOIN pts p ON p.series_id = m.sid AND p.ts_us BETWEEN m.lo AND m.hi "
            "ORDER BY m.qn, m.qi, p.ts_us"
        ).df()
        hourly = con.sql(
            "SELECT m.qn, m.sid, p.ts_us // 3600000000 AS h, avg(p.value) AS v "
            "FROM manifest m JOIN pts p ON p.series_id = m.sid "
            "AND p.ts_us BETWEEN m.lo AND m.hi GROUP BY ALL ORDER BY ALL"
        ).df()
    finally:
        con.close()
    errs: list[str] = []
    ref_by_q = {qn: g for qn, g in ref.groupby("qn")}
    hourly_by_q = {qn: g for qn, g in hourly.groupby("qn")}
    empty = ref.iloc[:0]
    for qn, q in enumerate(queries):
        exp = ref_by_q.get(qn, empty)
        got = [(r[0], ts_us(r[2]), r[3]) for r in q["rows"]]
        want = list(zip(exp["qi"].tolist(), exp["ts_us"].tolist(), exp["value"].tolist()))
        if got != want:
            errs.append(
                f"query {qn}: {len(got)} rows (checksum {_checksum(got)}) != "
                f"reference {len(want)} rows (checksum {_checksum(want)})"
            )
            continue
        if "resample" in q:
            errs += _check_resample(qn, q["resample"], hourly_by_q.get(qn, hourly.iloc[:0]))
            errs += _check_rdp(qn, q["rdp"], exp)
    return errs


def _checksum(rows) -> str:
    return hashlib.md5(repr(rows).encode()).hexdigest()[:12]


def _check_resample(qn: int, rows, exp: pd.DataFrame) -> list[str]:
    got = sorted((r[0], ts_us(r[1]) // 3_600_000_000, r[2]) for r in rows)
    want = list(zip(exp["sid"], exp["h"].tolist(), exp["v"].tolist()))
    if len(got) != len(want) or any(
        g[:2] != w[:2] or not math.isclose(g[2], w[2], rel_tol=1e-9, abs_tol=1e-9)
        for g, w in zip(got, want)
    ):
        return [f"query {qn}: resample buckets/averages differ from reference"]
    return []


def _check_rdp(qn: int, rows, exp: pd.DataFrame) -> list[str]:
    inp = set(zip(exp["sid"], exp["ts_us"].tolist(), exp["value"].tolist()))
    got = [(r[0], ts_us(r[1]), r[2]) for r in rows]
    if not set(got) <= inp:
        return [f"query {qn}: rdp output is not a subset of its input"]
    ends = exp.groupby("sid")["ts_us"].agg(["min", "max"])
    kept = {(s, t) for s, t, _ in got}
    for sid, row in ends.iterrows():
        if (sid, row["min"]) not in kept or (sid, row["max"]) not in kept:
            return [f"query {qn}: rdp dropped an endpoint of {sid}"]
    return []


# -- collect ------------------------------------------------------------------
def check_collect(batches: pd.DataFrame, stored: list, find_rows: list) -> list[str]:
    """``batches``: every batch written, (series_id, ts_us, value,
    ingest_us). ``stored``: the store's final (series_id, ts, value)
    rows. ``find_rows``: find(fast=True) (name, n_points) rows."""
    con = duckdb.connect()
    try:
        con.register("b", batches)
        want = con.sql(
            "SELECT series_id, ts_us, value FROM b QUALIFY row_number() OVER "
            "(PARTITION BY series_id, ts_us ORDER BY ingest_us DESC, value DESC) = 1 "
            "ORDER BY series_id, ts_us"
        ).df()
    finally:
        con.close()
    errs = []
    got = sorted((r[0], ts_us(r[1]), r[2]) for r in stored)
    exp = list(zip(want["series_id"], want["ts_us"].tolist(), want["value"].tolist()))
    if got != exp:
        errs.append(
            f"store holds {len(got)} points (checksum {_checksum(got)}), newest-ingest-wins "
            f"reference {len(exp)} (checksum {_checksum(exp)})"
        )
    per_series = want.groupby("series_id").size().to_dict()
    found = {r[0]: r[1] for r in find_rows}
    if found != per_series:
        errs.append(
            f"find(fast=True) n_points total {sum(found.values())} over {len(found)} "
            f"series != reference {sum(per_series.values())} over {len(per_series)}"
        )
    return errs


# -- curate -------------------------------------------------------------------
# The engine's MinHash family (llm/dedup.py): h(w) = first 8 md5 hex chars,
# h_i(w) = (a_i h(w) + b_i) mod (2^31 - 1), bands of 4 consecutive values.
_P = 2147483647
_A = [
    387420489, 576460801, 268435399, 402653189, 536870923, 671088667,
    805306457, 939524129, 73014449, 206158463, 339738391, 473059897,
    606580379, 739978753, 873463093, 1006895341,
]
_B = [
    15485863, 32452843, 49979687, 67867967, 86028121, 104395301,
    122949823, 141650939, 160481183, 179424673, 198491317, 217645177,
    236887691, 256203161, 275604541, 295075147,
]


def curate_reference(
    docs: pd.DataFrame,
    bench: pd.DataFrame,
    min_words: int = 10,
    jaccard: tuple[int, int] = (17, 20),
    band_size: int = 4,
    ngram: int = 5,
    max_bucket: int = 4096,
) -> dict:
    """Report counts and surviving ids of ``curate_corpus`` with its
    defaults (quality >= 10 words, exact dedup keeping the smallest id,
    16-hash / 4-row-band MinHash LSH, Jaccard >= 0.85 verify, connected
    components keeping each component's smallest id, 5-gram decontam)."""
    ids = docs["doc_id"].to_numpy()
    words = [t.split() for t in docs["text"]]
    keep = np.array([len(w) >= min_words for w in words])
    n_quality = int(keep.sum())
    first: dict[str, int] = {}
    for i in np.flatnonzero(keep):
        t = docs["text"].iat[i]
        if t not in first or ids[i] < ids[first[t]]:
            first[t] = i
    rows = np.array(sorted(first.values(), key=lambda i: ids[i]))
    n_exact = len(rows)
    vocab = sorted({w for i in rows for w in words[i]})
    if len(vocab) > 63:
        raise ValueError("reference word-set bitmasks hold at most 63 words")
    bit = {w: 1 << k for k, w in enumerate(vocab)}
    h = {w: int(hashlib.md5(w.encode()).hexdigest()[:8], 16) for w in vocab}
    masks = np.zeros(n_exact, dtype=np.uint64)
    sigs = np.zeros((n_exact, len(_A)), dtype=np.int64)
    for r, i in enumerate(rows):
        ws = set(words[i])
        masks[r] = sum(bit[w] for w in ws)
        hv = np.array([h[w] for w in ws], dtype=np.int64)
        sigs[r] = ((np.array(_A)[:, None] * hv[None, :] + np.array(_B)[:, None]) % _P).min(1)
    pairs = []
    for b in range(len(_A) // band_size):
        _, key = np.unique(sigs[:, b * band_size : (b + 1) * band_size], axis=0, return_inverse=True)
        key = key.ravel()
        order = np.argsort(key, kind="stable")
        bounds = np.flatnonzero(np.diff(key[order])) + 1
        for grp in np.split(order, bounds):
            if len(grp) > max_bucket:
                raise ValueError("reference does not model the hot-bucket star")
            if len(grp) > 1:
                ia, ib = np.triu_indices(len(grp), 1)
                pairs.append(np.stack([grp[ia], grp[ib]], 1))
    cand = np.unique(np.concatenate(pairs), axis=0) if pairs else np.zeros((0, 2), np.int64)
    inter = _popcount(masks[cand[:, 0]] & masks[cand[:, 1]])
    union = _popcount(masks[cand[:, 0]] | masks[cand[:, 1]])
    num, den = jaccard
    ver = cand[inter * den >= num * union]
    label = np.arange(n_exact)  # rows are in id order: min label = min id
    while len(ver):
        lo = np.minimum(label[ver[:, 0]], label[ver[:, 1]])
        new = label.copy()
        np.minimum.at(new, ver[:, 0], lo)
        np.minimum.at(new, ver[:, 1], lo)
        new = new[new]
        if np.array_equal(new, label):
            break
        label = new
    near = rows[label == np.arange(n_exact)]
    bench_grams = set()
    for t in bench["text"]:
        bench_grams |= _grams(t.split(), ngram)
    clean = sorted(int(ids[i]) for i in near if not (_grams(words[i], ngram) & bench_grams))
    return {
        "n_after_quality": n_quality,
        "n_after_exact": n_exact,
        "n_candidate_pairs": len(cand),
        "n_near_dup_pairs": len(ver),
        "n_after_near": len(near),
        "n_after_decontam": len(clean),
        "ids": clean,
    }


def _grams(ws: list[str], n: int) -> set[str]:
    return {" ".join(ws[p : p + n]) for p in range(len(ws) - n + 1)}


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _popcount(x: np.ndarray) -> np.ndarray:
    return _POP8[x.view(np.uint8).reshape(-1, 8)].sum(1)


def check_curate(report, out_ids: list[int], ref: dict) -> list[str]:
    got = {
        "n_after_quality": report.clean.n_after_quality,
        "n_after_exact": report.clean.n_after_exact,
        "n_near_dup_pairs": report.clean.n_near_dup_pairs,
        "n_after_near": report.clean.n_after_near,
        "n_after_decontam": report.n_after_decontam,
    }
    errs = [f"{k}: engine {v} != reference {ref[k]}" for k, v in got.items() if v != ref[k]]
    if report.n_train + report.n_val + report.n_test != report.n_after_decontam:
        errs.append("train + val + test != n_after_decontam")
    if sorted(out_ids) != ref["ids"]:
        errs.append(
            f"output doc ids (checksum {_checksum(sorted(out_ids))}) != reference "
            f"(checksum {_checksum(ref['ids'])})"
        )
    return errs
