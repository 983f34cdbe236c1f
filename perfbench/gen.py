"""Seeded input generators with ground truth.

Every generator takes a ``numpy.random.Generator`` built from the
workload seed, writes its files into a directory, and returns the
ground truth the output checks compare against. The program under
test only ever sees the files; the truth stays in the benchmark
process. Nothing here imports the program.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- cdc_batch: the reference's 34-column CDC indicators CSV -----------

CDC_COLUMNS = [
    "YearStart", "YearEnd", "LocationAbbr", "LocationDesc", "DataSource",
    "Topic", "Question", "Response", "DataValueUnit", "DataValueType",
    "DataValue", "DataValueAlt", "DataValueFootnoteSymbol",
    "DataValueFootnote", "LowConfidenceLimit", "HighConfidenceLimit",
    "StratificationCategory1", "Stratification1", "StratificationCategory2",
    "Stratification2", "StratificationCategory3", "Stratification3",
    "Geolocation", "LocationID", "TopicID", "QuestionID", "ResponseID",
    "DataValueTypeID", "StratificationCategoryID1", "StratificationID1",
    "StratificationCategoryID2", "StratificationID2",
    "StratificationCategoryID3", "StratificationID3",
]
CDC_INT_COLUMNS = {"yearstart", "yearend", "locationid"}
CDC_FLOAT_COLUMNS = {
    "datavalue", "datavaluealt", "lowconfidencelimit", "highconfidencelimit",
}

_STATES = [
    ("AL", "Alabama"), ("AK", "Alaska"), ("AZ", "Arizona"),
    ("CA", "California"), ("CO", "Colorado"), ("FL", "Florida"),
    ("GA", "Georgia"), ("IL", "Illinois"), ("MA", "Massachusetts"),
    ("MI", "Michigan"), ("NY", "New York"), ("NC", "North Carolina"),
    ("OH", "Ohio"), ("OR", "Oregon"), ("PA", "Pennsylvania"),
    ("TX", "Texas"), ("UT", "Utah"), ("VA", "Virginia"),
    ("WA", "Washington"), ("US", "United States"),
]
_TOPICS = [
    ("Diabetes", "DIA"), ("Asthma", "AST"), ("Cancer", "CAN"),
    ("Arthritis", "ART"), ("Alcohol", "ALC"), ("Tobacco", "TOB"),
    ("Oral Health", "ORH"), ("Immunization", "IMM"),
]
_SOURCES = ["BRFSS", "NVSS", "YRBSS", "CMS"]
_UNITS = ["%", "Number", "cases per 100,000"]
_VTYPES = [
    ("Crude Prevalence", "CRDPREV"),
    ("Age-adjusted Prevalence", "AGEADJPREV"),
    ("Number", "NMBR"),
]
_STRATA = [
    ("Overall", "OVR", "Overall", "OVERALL"),
    ("Gender", "GEN", "Male", "GENM"),
    ("Gender", "GEN", "Female", "GENF"),
    ("Race/Ethnicity", "RACE", "Hispanic", "HIS"),
    ("Race/Ethnicity", "RACE", "White, non-Hispanic", "WHT"),
]


def _clean_strings(col: np.ndarray) -> list:
    """The cleaned form of a string column, per the reference's
    documented rules: NULL → 'unknown', else lower-cased and trimmed."""
    return ["unknown" if v is None else v.strip().lower() for v in col]


def _pick(rng, options: list, n: int) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.integers(len(options), size=n)]


DUP_FRAC = 0.05


def cdc(rng: np.random.Generator, n_rows: int, out_dir: str, chunk_rows: int) -> dict:
    """Write ``n_rows`` CDC rows as ``chunk_rows``-row CSV chunks.

    About ``DUP_FRAC`` of the rows are exact copies of other rows.
    Rule violations are injected at about 1 % (year order), 1 % (value
    range) and 0.5 % (missing topic) of the distinct rows. Each
    distinct row carries a unique ``Geolocation``, so two distinct
    rows never clean to the same row.
    """
    import pandas as pd

    n = int(round(n_rows / (1.0 + DUP_FRAC)))
    i = np.arange(n)
    ys = rng.integers(2010, 2023, size=n)
    ye = ys + rng.integers(0, 3, size=n)
    bad_order = rng.random(n) < 0.01
    ye[bad_order] = ys[bad_order] - rng.integers(1, 4, size=int(bad_order.sum()))
    st = rng.integers(len(_STATES), size=n)
    tp = rng.integers(len(_TOPICS), size=n)
    q = rng.integers(1, 40, size=n)
    vt = rng.integers(len(_VTYPES), size=n)
    sg = rng.integers(len(_STRATA), size=n)
    u = rng.random(n)
    dv = np.round(rng.uniform(0.0, 100.0, size=n), 1)
    dv[u < 0.005] = np.round(-rng.uniform(0.1, 50.0, size=int((u < 0.005).sum())), 1)
    high = (u >= 0.005) & (u < 0.01)
    dv[high] = np.round(rng.uniform(100.1, 200.0, size=int(high.sum())), 1)
    dv_null = (u >= 0.01) & (u < 0.03)
    half = np.round(rng.uniform(0.1, 5.0, size=n), 1)
    resp = rng.random(n)
    foot = rng.random(n) < 0.1
    age = rng.random(n) < 0.03

    def col(values, null_mask=None):
        out = np.asarray(values, dtype=object)
        if null_mask is not None:
            out[null_mask] = None
        return out

    states = np.asarray(_STATES, dtype=object)
    topics = np.asarray(_TOPICS, dtype=object)
    vtypes = np.asarray(_VTYPES, dtype=object)
    strata = np.asarray(_STRATA, dtype=object)
    topic_name = topics[tp, 0]
    has_resp = resp < 0.04
    data = {
        "YearStart": ys, "YearEnd": ye,
        "LocationAbbr": states[st, 0], "LocationDesc": states[st, 1],
        "DataSource": _pick(rng, _SOURCES, n),
        "Topic": col(topic_name, rng.random(n) < 0.005),
        "Question": np.char.add(
            np.char.add("Prevalence of ", np.char.lower(topic_name.astype(str))),
            np.char.add(" among adults aged >= 18 years, question ", q.astype(str)),
        ).astype(object) + "?",
        "Response": col(np.where(resp < 0.02, "Yes", "No"), ~has_resp),
        "DataValueUnit": _pick(rng, _UNITS, n),
        "DataValueType": vtypes[vt, 0],
        "DataValue": col(dv, dv_null), "DataValueAlt": col(dv, dv_null),
        "DataValueFootnoteSymbol": col(np.full(n, "*"), ~foot),
        "DataValueFootnote": col(np.full(n, "Data not available"), ~foot),
        "LowConfidenceLimit": col(np.round(dv - half, 1), dv_null),
        "HighConfidenceLimit": col(np.round(dv + half, 1), dv_null),
        "StratificationCategory1": strata[sg, 0], "Stratification1": strata[sg, 2],
        "StratificationCategory2": col(np.full(n, "Age"), ~age),
        "Stratification2": col(np.full(n, " 18-44 "), ~age),
        "StratificationCategory3": col(np.full(n, None)),
        "Stratification3": col(np.full(n, None)),
        # unique per distinct row: 4-dp longitude steps by row index
        "Geolocation": np.asarray(
            [f"POINT ({-70.0 - k * 1e-4:.4f} {25.0 + (k * 7919 % 20000) * 1e-3:.3f})"
             for k in i], dtype=object),
        "LocationID": 59 + st,
        "TopicID": topics[tp, 1],
        "QuestionID": np.char.add(topics[tp, 1].astype(str), np.char.zfill(q.astype(str), 3)).astype(object),
        "ResponseID": col(np.where(resp < 0.02, "RESY", "RESN"), ~has_resp),
        "DataValueTypeID": vtypes[vt, 1],
        "StratificationCategoryID1": strata[sg, 1], "StratificationID1": strata[sg, 3],
        "StratificationCategoryID2": col(np.full(n, "AGE"), ~age),
        "StratificationID2": col(np.full(n, "AGE1844"), ~age),
        "StratificationCategoryID3": col(np.full(n, None)),
        "StratificationID3": col(np.full(n, None)),
    }
    distinct = pd.DataFrame(data, columns=CDC_COLUMNS)
    dups = distinct.iloc[rng.integers(0, n, size=n_rows - n)]
    rows = pd.concat([distinct, dups]).iloc[rng.permutation(n_rows)]
    os.makedirs(out_dir, exist_ok=True)
    for c, start in enumerate(range(0, n_rows, chunk_rows)):
        rows.iloc[start:start + chunk_rows].to_csv(
            os.path.join(out_dir, f"chunk_{c:04d}.csv"), index=False
        )

    gold = {}
    for name in CDC_COLUMNS:
        v = distinct[name].to_numpy()
        key = name.lower()
        if key in CDC_INT_COLUMNS:
            gold[key] = [int(x) for x in v]
        elif key in CDC_FLOAT_COLUMNS:
            gold[key] = [0.0 if x is None else float(x) for x in v]
        else:
            gold[key] = _clean_strings(v)
    dv_clean = np.asarray(gold["datavalue"])
    masks = {
        "yearstart_gt_yearend": ys > ye,
        "datavalue_out_of_range": (dv_clean < 0) | (dv_clean > 100),
        "topic_unknown": np.asarray(gold["topic"], dtype=object) == "unknown",
    }
    return {
        "input_rows": n_rows,
        "distinct_rows": n,
        "gold_columns": gold,
        "rule_counts": {k: int(m.sum()) for k, m in masks.items()},
        "violation_rows": int(np.logical_or.reduce(list(masks.values())).sum()),
        "distinct": {
            c: len(set(gold[c])) for c in ("yearstart", "locationabbr", "topic")
        },
        "exit_code": 0,
    }


# -- corpus: Zipf documents with injected near-duplicates --------------


VOCAB = 20_000
NEAR_DUP_FRAC, DISTRACTOR_FRAC = 0.08, 0.04
MIN_LEN, MAX_LEN = 60, 120


def _vocab(n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    for j in range(n):
        s, k = "", j
        while True:
            s = letters[k % 26] + s
            k //= 26
            if k == 0:
                break
        out.append("t" + s)
    return out


def shingles(toks: list[str], n: int = 3) -> set:
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def corpus(rng: np.random.Generator, n_docs: int) -> dict:
    """Documents of MIN_LEN to MAX_LEN Zipf-distributed tokens
    (exponent 1.1 over VOCAB words).

    ``NEAR_DUP_FRAC`` of the documents are near-duplicates: a copy of
    one original with one token added at the start or the end, which
    puts the word-3-shingle Jaccard at S/(S+1) ≥ 0.98 for S ≥ 58
    shingles. ``DISTRACTOR_FRAC`` share the first half of an original
    and continue with fresh tokens, for a Jaccard near 1/3: similar
    enough to become LSH candidates sometimes, never near-duplicates.
    Each original has at most one derived document, so every near-dup
    pair removes exactly one document under a greedy keep-lower-id
    rule. Ids are a random permutation, so the removed member of a
    pair is sometimes the copy and sometimes the original.
    """
    words = _vocab(VOCAB)
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    p /= p.sum()
    n_near = int(n_docs * NEAR_DUP_FRAC)
    n_dist = int(n_docs * DISTRACTOR_FRAC)
    n_orig = n_docs - n_near - n_dist
    lens = rng.integers(MIN_LEN, MAX_LEN + 1, size=n_orig)
    draws = rng.choice(VOCAB, size=int(lens.sum()), p=p)
    toks, off = [], 0
    for ln in lens:
        toks.append([words[int(t)] for t in draws[off:off + ln]])
        off += ln
    parents = rng.permutation(n_orig)[: n_near + n_dist]
    pairs = []
    for j, par in enumerate(parents[:n_near]):
        base = toks[int(par)]
        extra = words[int(rng.choice(VOCAB, p=p))]
        toks.append([extra] + base if j % 2 else base + [extra])
        pairs.append((int(par), len(toks) - 1))
    for par in parents[n_near:]:
        base = toks[int(par)]
        half = len(base) // 2
        fresh = rng.choice(VOCAB, size=len(base) - half, p=p)
        toks.append(base[:half] + [words[int(t)] for t in fresh])
        # the expected removal count is exact only if the 0.8 threshold
        # separates the two kinds clearly
        sim = jaccard(shingles(base), shingles(toks[-1]))
        if sim >= 0.6:
            raise RuntimeError(f"generated distractor too similar: {sim:.3f}")
    for a, b in pairs:
        sim = jaccard(shingles(toks[a]), shingles(toks[b]))
        if sim < 0.95:
            raise RuntimeError(f"generated near-dup pair too far apart: {sim:.3f}")
    ids = rng.permutation(n_docs)
    removed = {int(max(ids[a], ids[b])) for a, b in pairs}
    return {
        "doc_ids": ids.astype(np.int64),
        "tokens": toks,
        "near_dup_pairs": len(pairs),
        "removed_ids": removed,
        "hot_terms": words[:50],
    }


def write_docs(c: dict, path: str) -> int:
    texts = [" ".join(t) for t in c["tokens"]]
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(c["doc_ids"], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(
            ["web" if i % 3 else "books" for i in range(n)], pa.string()
        ),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
    return os.path.getsize(path)


# -- embeddings: clustered 64-d vectors --------------------------------


DIM, CLUSTERS = 64, 32
# noise per coordinate, against unit-variance centres: the clusters
# stay apart, so IVF with 4 of 32 cells probed finds the exact top-10
SPREAD = 0.35


def embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` float32 vectors around CLUSTERS Gaussian centres; row i is
    ``vec_id`` i."""
    centres = rng.standard_normal((CLUSTERS, DIM))
    assign = rng.integers(0, CLUSTERS, size=n)
    v = centres[assign] + SPREAD * rng.standard_normal((n, DIM))
    return v.astype(np.float32)


def write_embeddings(vecs: np.ndarray, path: str) -> int:
    n, dim = vecs.shape
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(n), pa.int64()), "embedding": emb}),
        path,
    )
    return os.path.getsize(path)


# -- events: a CDC change stream keyed by user --------------------------


def events(rng: np.random.Generator, n: int, n_users: int, path: str) -> dict:
    """``n`` change events over ``n_users`` users, written as one
    parquet file. Truth: each user's newest event by (ts, event_id)."""
    event_id = rng.permutation(n).astype(np.int64)
    user = rng.integers(0, n_users, size=n).astype(np.int64)
    # whole seconds inside one hour: some users get two events with
    # the same timestamp, which only the event_id tie-break orders
    ts_us = 1_700_000_000_000_000 + rng.integers(0, 3_600, size=n) * 1_000_000
    etype = np.array(["insert", "update", "delete"])[rng.integers(0, 3, size=n)]
    value = np.round(rng.uniform(0, 1000, size=n), 2)
    table = pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k":{int(k)}}}' for k in event_id], pa.string()),
    })
    pq.write_table(table, path)
    order = np.lexsort((event_id, ts_us, user))
    last = np.r_[user[order][1:] != user[order][:-1], True]
    latest = order[last]
    return {
        "bytes": os.path.getsize(path),
        "latest": {
            int(user[k]): (int(event_id[k]), float(value[k])) for k in latest
        },
    }
