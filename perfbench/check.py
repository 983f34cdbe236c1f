"""Output checks against the generators' ground truth.

Each check takes one recorded operation's output and returns an error
string, or ``None`` when the output is right. The references are
written here from the documented semantics (numpy / plain Python);
none of them calls the program.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import CDC_FLOAT_COLUMNS, CDC_INT_COLUMNS

TOL = 1e-5


# -- cdc_batch ---------------------------------------------------------------


def cdc_pass(out: dict, truth: dict) -> str | None:
    want = {
        "gold_rows": truth["distinct_rows"],
        "violation_rows": truth["violation_rows"],
        "rule_counts": truth["rule_counts"],
        "exit_code": truth["exit_code"],
    }
    for k, v in want.items():
        if out[k] != v:
            return f"{k}: got {out[k]}, want {v}"
    rep = out["report"]
    expect = {
        "row_count": truth["distinct_rows"],
        "distinct_yearstart": truth["distinct"]["yearstart"],
        "distinct_locationabbr": truth["distinct"]["locationabbr"],
    }
    for check, value in expect.items():
        if check not in rep or rep[check][0] != value or not rep[check][1]:
            return f"report {check}: got {rep.get(check)}, want [{value}, True]"
    return None


def cdc_gold(gold_dir: str, truth: dict) -> str | None:
    """Full-table comparison of the gold layer with the generated
    distinct rows, after the documented cleaning rules."""
    cols = truth["gold_columns"]
    got = pq.read_table(gold_dir).sort_by("geolocation")
    want = pa.table(cols).sort_by("geolocation")
    if got.num_rows != want.num_rows:
        return f"gold rows {got.num_rows} != {want.num_rows}"
    for name in cols:
        if name not in got.column_names:
            return f"gold lacks column {name}"
        g, w = got.column(name), want.column(name)
        if name in CDC_FLOAT_COLUMNS or name in CDC_INT_COLUMNS:
            g, w = g.cast(pa.float64()), w.cast(pa.float64())
        if not g.equals(w):
            return f"gold column {name} differs"
    return None


def cdc_query(q: dict, out: dict, truth: dict) -> str | None:
    cols = truth["gold_columns"]
    idx = [
        i for i, (t, l) in enumerate(zip(cols["topic"], cols["locationabbr"]))
        if t == q["topic"] and l == q["loc"]
    ]
    idx.sort(key=lambda i: (-cols["datavalue"][i], cols["geolocation"][i]))
    want = [[cols["geolocation"][i], cols["datavalue"][i]] for i in idx[:10]]
    if out["rows"] == want:
        return None
    at = next((i for i, (g, w) in enumerate(zip(out["rows"], want)) if g != w),
              min(len(out["rows"]), len(want)))
    return f"top-10 {q}: row {at} differs ({out['rows'][at:at + 1]} vs {want[at:at + 1]})"


# -- BM25 ---------------------------------------------------------------------


class Bm25:
    """Brute-force BM25 over whitespace tokens (k1 = 1.2, b = 0.75).

    The engine documents its IDF as the log-free ratio
    (N − df + 0.5)/(df + 0.5) and rounds each term's score to 6
    decimals before summing; this reference does the same. Ranking is
    by score descending, then doc_id ascending.
    """

    k1, b = 1.2, 0.75

    def __init__(self, doc_ids, token_lists):
        self.ids = np.asarray(doc_ids, dtype=np.int64)
        self.dl = np.asarray([len(t) for t in token_lists], dtype=np.float64)
        self.avgdl = self.dl.sum() / len(self.dl)
        self.n = len(self.dl)
        self.post: dict[str, dict[int, int]] = {}
        for i, toks in enumerate(token_lists):
            for t in toks:
                d = self.post.setdefault(t, {})
                d[i] = d.get(i, 0) + 1

    def topk(self, terms, k: int) -> list[tuple[int, float]]:
        score = np.zeros(self.n)
        for t in set(terms):
            post = self.post.get(t)
            if not post:
                continue
            df = len(post)
            idf = ((self.n - df) + 0.5) / (df + 0.5)
            rows = np.fromiter(post.keys(), dtype=np.int64)
            tf = np.fromiter(post.values(), dtype=np.float64)
            denom = tf + self.k1 * ((1.0 - self.b) + self.b * (self.dl[rows] / self.avgdl))
            score[rows] += np.round((idf * (tf * (self.k1 + 1.0))) / denom, 6)
        hit = np.nonzero(score > 0)[0]
        order = np.lexsort((self.ids[hit], -score[hit]))[:k]
        return [(int(self.ids[hit][j]), float(score[hit][j])) for j in order]

    def score_of(self, terms) -> dict[int, float]:
        return dict(self.topk(terms, self.n))


def bm25_rows(got: list, ref: Bm25, terms, k: int) -> str | None:
    """Equal to the reference up to ties: each rank's score matches,
    and each returned document really has that score."""
    want = ref.topk(terms, k)
    if len(got) != len(want):
        return f"bm25 {terms}: {len(got)} rows, want {len(want)}"
    scores = None
    for (gid, gs), (wid, ws) in zip(got, want):
        if abs(gs - ws) > TOL:
            return f"bm25 {terms}: score {gs} != {ws}"
        if gid != wid:
            scores = scores or ref.score_of(terms)
            if abs(scores.get(gid, -1.0) - gs) > TOL:
                return f"bm25 {terms}: doc {gid} does not score {gs}"
    return None


# -- vectors ------------------------------------------------------------------


class Cosine:
    """Exact cosine neighbours over all vectors, excluding the query."""

    def __init__(self, vecs: np.ndarray):
        v = vecs.astype(np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)

    def topk(self, qid: int, k: int) -> tuple[np.ndarray, np.ndarray]:
        sims = self.unit @ self.unit[qid]
        sims[qid] = -np.inf
        order = np.lexsort((np.arange(len(sims)), -sims))[:k]
        return order, sims[order]

    def sim(self, a: int, b: int) -> float:
        return float(self.unit[a] @ self.unit[b])


def ivf_rows(qid: int, got: list, ref: Cosine, k: int, floor: float):
    """(recall@k, error): neighbour similarities must be exact cosines
    and recall against the exact top-k must reach ``floor``."""
    exact, _ = ref.topk(qid, k)
    for nid, s in got:
        if abs(ref.sim(qid, nid) - s) > TOL:
            return 0.0, f"ivf q{qid}: sim({nid}) {s} != {ref.sim(qid, nid):.6f}"
    recall = len({n for n, _ in got} & set(int(x) for x in exact)) / k
    if recall < floor:
        return recall, f"ivf q{qid}: recall@{k} {recall:.2f} < floor {floor}"
    return recall, None
