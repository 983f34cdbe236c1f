"""tfidf_top_terms, grouping_sets_totals, read_jsonl contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_gcp_spark.sources.readers import load_table, read_jsonl


def test_tfidf_ranks_within_doc(spark, sf_dir):
    from etl_gcp_spark.functions.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    rows = out.collect()
    # every doc contributes at most k rows, ranks are 1..k dense
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        ranks = sorted(r["rank"] for r in doc_rows)
        assert ranks == list(range(1, len(ranks) + 1))
        # scores non-increasing with rank
        by_rank = sorted(doc_rows, key=lambda r: r["rank"])
        for a, b in zip(by_rank, by_rank[1:]):
            assert a["score"] >= b["score"]


def test_tfidf_rarer_term_scores_higher_at_equal_tf(spark):
    from etl_gcp_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa cc"), (3, "aa dd")], "doc_id long, text string"
    )
    out = {
        (r["doc_id"], r["term"]): r["score"]
        for r in tfidf_top_terms(docs, k=5).collect()
    }
    # 'aa' appears in all docs, 'bb' only in doc 1 — same tf=1
    assert out[(1, "bb")] > out[(1, "aa")]


def test_grouping_sets_has_grand_total(spark, sf_dir):
    from etl_gcp_spark.operators.relational import grouping_sets_totals

    orders = load_table(spark, sf_dir, "orders")
    rows = grouping_sets_totals(orders).collect()
    total = [r for r in rows if r["g_status"] == 1 and r["g_priority"] == 1]
    assert len(total) == 1
    assert total[0]["n_orders"] == orders.count()
    # per-status rows sum to the grand total
    per_status = [r for r in rows if r["g_status"] == 0]
    assert sum(r["n_orders"] for r in per_status) == orders.count()


def test_read_jsonl_declared_schema_no_inference(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    path = str(tmp_path / "jsonl")
    docs.write.mode("overwrite").json(path)
    ddl = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    back = read_jsonl(spark, path, ddl)
    assert [f.name for f in back.schema.fields] == [
        "doc_id", "text", "lang", "source", "n_chars",
    ]
    assert back.count() == 50
    # malformed input coerces to NULL rather than raising (PERMISSIVE)
    bad = str(tmp_path / "jsonl_bad")
    spark.createDataFrame(
        [('{"doc_id": "not-a-number", "text": "x"}',)], "value string"
    ).write.mode("overwrite").text(bad)
    rows = read_jsonl(spark, bad, ddl).collect()
    assert rows[0]["doc_id"] is None


def test_chunk_udtf_matches_builtin(spark, sf_dir):
    """The UDTF (extension surface) and the sequence+slice JVM chain
    (hot path) are twin implementations — identical output rows."""
    from etl_gcp_spark.functions.udtfs import (
        chunk_documents_builtin,
        chunk_documents_udtf,
    )
    from etl_gcp_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    a = chunk_documents_builtin(docs)
    b = chunk_documents_udtf(spark, docs)
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted(a.collect(), key=key) == sorted(b.collect(), key=key)


def test_chunk_builtin_stays_jvm_side(spark, sf_dir):
    from etl_gcp_spark.functions.udtfs import chunk_documents_builtin
    from etl_gcp_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        chunk_documents_builtin(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDTF"):
        assert marker not in plan


def test_normalize_text_nfc_ctrl_ws(spark):
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.text import normalize_text

    rows = [
        _Row(doc_id=1, text="café  has\tspaces "),   # NFD e + accent
        _Row(doc_id=2, text="clean text"),
        _Row(doc_id=3, text="ctrl\x00chars\x1fhere"),
        _Row(doc_id=4, text=None),
    ]
    out = {
        r.doc_id: (r.text_norm, r.changed)
        for r in normalize_text(spark.createDataFrame(rows)).collect()
    }
    assert out[1] == ("café has spaces", True)  # composed é
    assert out[2] == ("clean text", False)
    assert out[3] == ("ctrlcharshere", True)
    assert 4 not in out  # NULL text dropped, same as the oracle


def test_perplexity_filter_flags_scrambled_doc(spark):
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.text import perplexity_filter

    # many fluent repeats of the same bigram pattern + one scrambled
    # doc built from rare transitions -> only the scrambled doc is cut
    fluent = [
        _Row(doc_id=i, text="the cat sat on the mat " * 5) for i in range(20)
    ]
    odd = [_Row(doc_id=99, text="mat the on cat zzz sat qqq the")]
    out = {
        r.doc_id: r.keep
        for r in perplexity_filter(
            spark.createDataFrame(fluent + odd)
        ).collect()
    }
    assert out[99] is False
    assert all(out[i] for i in range(20))


def test_key_skew_report_hand_computed(spark):
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.operators.skew import key_skew_report

    rows = [_Row(k=1)] * 70 + [_Row(k=2)] * 20 + [_Row(k=3)] * 10
    out = key_skew_report(spark.createDataFrame(rows), "k", top_n=2).collect()
    assert len(out) == 2
    first = next(r for r in out if r.rank == 1)
    assert first.key == 1 and first.cnt == 70 and first.share == 0.7
    assert first.n_keys == 3
    # mean = 100/3 -> 33.3333; skew = 70/33.3333
    assert first.mean_cnt == 33.3333
    assert abs(first.skew_ratio - round(70 / 33.3333, 4)) < 1e-9


def test_char_entropy_extremes(spark):
    import math as _math

    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.text import char_entropy

    rows = [
        _Row(doc_id=1, text="aaaaaaaa"),        # zero entropy
        _Row(doc_id=2, text="abcdefgh"),        # ln(8), maximal
        _Row(doc_id=3, text="aabb"),            # ln(2)
        _Row(doc_id=4, text=None),
        _Row(doc_id=5, text=""),
    ]
    out = {r.doc_id: r for r in char_entropy(spark.createDataFrame(rows)).collect()}
    assert out[1].entropy == 0.0 and out[1].n_distinct_chars == 1
    assert out[2].entropy == round(_math.log(8), 4)
    assert out[3].entropy == round(_math.log(2), 4)
    assert 4 not in out and 5 not in out  # NULL/empty drop


def test_bm25_ranks_rarer_term_higher(spark):
    from etl_gcp_spark.functions.text import bm25_topk

    # 'rare' appears in one doc, 'common' in all: the rare-term doc
    # must outrank docs matching only the common term
    docs = spark.createDataFrame(
        [
            (1, "common common filler filler"),
            (2, "common rare filler filler"),
            (3, "common filler filler filler"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["common", "rare"], k=3).collect()
    assert rows[0].doc_id == 2
    assert rows[0].bm25 > rows[1].bm25


def test_bm25_length_normalization(spark):
    from etl_gcp_spark.functions.text import bm25_topk

    # same tf, shorter doc scores higher under b > 0
    docs = spark.createDataFrame(
        [(1, "hit pad"), (2, "hit " + " ".join(["pad"] * 20))],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["hit"], k=2).collect()
    assert [r.doc_id for r in rows] == [1, 2]


def test_lang_confusion_diagonal_on_marker_docs(spark):
    from etl_gcp_spark.functions.text import lang_confusion

    # docs made purely of each language's markers: perfect diagonal
    docs = spark.createDataFrame(
        [
            (1, "the a fast slow row", "en"),
            (2, "table agg key merge vector", "de"),
            (3, "customer order group sort filter", "es"),
        ],
        "doc_id long, text string, lang string",
    )
    out = lang_confusion(docs).collect()
    assert all(r.gold_lang == r.predicted_lang for r in out)
    assert all(r.recall_share == 1.0 for r in out)


def test_tokenizer_fertility_penalizes_fragmenting_text(spark):
    from etl_gcp_spark.functions.text import tokenizer_fertility

    docs = spark.createDataFrame(
        [
            (1, "plain words only here", "en"),
            (2, "a-b c.d e!f g?h", "xx"),  # punctuation fragments
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in tokenizer_fertility(docs).collect()}
    # fragmenting text yields many more pieces per whitespace word
    assert out["xx"].pieces_per_word > out["en"].pieces_per_word
    assert out["en"].pieces_per_word == 1.0


def test_zipf_fit_slope_on_power_law(spark):
    from etl_gcp_spark.functions.text import zipf_fit

    # construct frequencies ~ 1/rank exactly: token k repeated
    # floor(1200/k) times -> slope must sit near -1, r2 near 1
    words = []
    for k in range(1, 40):
        words += [f"w{k:02d}"] * (1200 // k)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    row = zipf_fit(docs).collect()[0]
    assert row.n_types_fit == 39
    assert -1.1 < row.slope < -0.9
    assert row.r2 > 0.99


def test_soft_dedup_weights_sum_to_idea_count(spark):
    from etl_gcp_spark.operators.text_dedup import soft_dedup_weights

    # 3 copies of one doc + 1 unique: weights 1/3,1/3,1/3,1 -> total
    # mass == number of distinct ideas (2)
    phrase = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(i, phrase) for i in range(3)] + [(9, "other words entirely here now")],
        "doc_id long, text string",
    )
    rows = soft_dedup_weights(docs, threshold=0.8).collect()
    # 6-dp weights: 3 x round(1/3, 6) undershoots by exactly 1e-6
    assert abs(sum(r.weight for r in rows) - 2.0) < 1e-5
    assert {r.cluster_size for r in rows} == {1, 3}


def test_token_cooccurrence_lift_semantics(spark):
    """A always-adjacent pair gets lift >> 1; pair ordering is by
    count with lexicographic tie-break; min support prunes."""
    from etl_gcp_spark.functions.text import token_cooccurrence_lift

    # 40 docs of "alpha beta", 40 of "gamma delta"; "alpha delta"
    # never co-occur within a window
    docs = spark.createDataFrame(
        [(i, "alpha beta") for i in range(40)]
        + [(100 + i, "gamma delta") for i in range(40)],
        "doc_id long, text string",
    )
    out = token_cooccurrence_lift(
        docs, window=5, vocab_size=10, min_pair=10, k=10
    ).collect()
    got = {(r.t1, r.t2): (r.n_pair, r.lift) for r in out}
    assert set(got) == {("alpha", "beta"), ("gamma", "delta")}
    # N=160 tokens, n_pair=40, n1=n2=40 -> lift = 40*160/(40*40) = 4
    assert got[("alpha", "beta")] == (40, 4.0)
    assert got[("gamma", "delta")] == (40, 4.0)


def test_textrank_central_token_wins(spark):
    from etl_gcp_spark.functions.text import textrank_keywords

    # 'hub' co-occurs with everything; leaves only with the hub
    rows = [(i, f"hub leaf{i}") for i in range(10)] + [
        (100, "hub hubby"), (101, "solo")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textrank_keywords(docs, vocab_size=50, k=5).collect()
    assert out[0].token == "hub"
    assert out[0].n_token == 11
    # scores are normalized-ish: every score positive, hub strictly top
    assert all(r.score > 0 for r in out)
    assert out[0].score > out[1].score
