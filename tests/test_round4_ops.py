"""Round-4 operators: normalization, OOV coverage, Bloom
decontamination, per-domain caps."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ---------------------------------------------------------------- normalize

def test_normalize_idempotent(spark, docs):
    from error_analysis_spark.extensions.text import normalize_expr
    once = docs.select(normalize_expr("text").alias("n1"))
    twice = once.select(F.col("n1").alias("text")) \
        .select(normalize_expr("text").alias("n2"), F.col("text").alias("n1"))
    assert twice.where(F.col("n2") != F.col("n1")).count() == 0


def test_normalize_semantics(spark):
    from error_analysis_spark.extensions.text import normalize_stats
    df = spark.createDataFrame(
        [(1, "  Hello   WORLD \t x"), (2, "already normal"), (3, "")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in normalize_stats(df).collect()}
    # collapse + trim + lowercase
    assert rows[1]["n_norm"] == len("hello world x")
    assert rows[1]["changed"] == 1
    assert rows[2]["changed"] == 0
    assert rows[3]["n_norm"] == 0
    # equal texts modulo case/whitespace share a norm_hash
    df2 = spark.createDataFrame(
        [(1, "a  B c"), (2, "A b C")], ["doc_id", "text"])
    hashes = [r["norm_hash"] for r in normalize_stats(df2).collect()]
    assert hashes[0] == hashes[1]


# ---------------------------------------------------------------- OOV rate

def test_oov_stats_bounds_and_crosscheck(spark, docs):
    from error_analysis_spark.extensions.sketches import oov_stats, vocab_topk
    out = oov_stats(docs, vocab_k=16, min_df=2).toPandas()
    assert len(out) == docs.count()
    got = out.dropna(subset=["oov_frac"])
    assert ((got["oov_frac"] >= 0) & (got["oov_frac"] <= 1)).all()
    # manual recount on a few docs
    vocab = set(r["token"] for r in
                vocab_topk(docs, k=16, min_df=2).collect())
    sample = docs.orderBy("doc_id").limit(5).collect()
    by_id = out.set_index("doc_id")
    for r in sample:
        toks = [t for t in r["text"].split() if t]
        oov = sum(1 for t in toks if t not in vocab)
        assert by_id.loc[r["doc_id"], "n_tokens"] == len(toks)
        assert by_id.loc[r["doc_id"], "n_oov"] == oov


def test_oov_empty_doc_null_frac(spark):
    from error_analysis_spark.extensions.sketches import oov_stats
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "   "), (3, "a b c")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in oov_stats(df, vocab_k=2,
                                              min_df=1).collect()}
    assert rows[2]["n_tokens"] == 0 and rows[2]["oov_frac"] is None


# ---------------------------------------------------------------- Bloom

def test_bloom_no_false_negatives(spark, docs):
    """Bloom positivity must be a SUPERSET of exact gram membership:
    per doc, n_hits >= exact n_matched, and every exactly-contaminated
    doc is bloom-flagged at the same threshold."""
    from error_analysis_spark.extensions import contamination as CT
    bench = docs.where(F.col("doc_id") % 13 == 0)
    train = docs.where(F.col("doc_id") % 13 != 0)
    exact = CT.contamination_report(train, bench, n=5, threshold=0.3) \
        .select("doc_id", "n_matched", "contaminated").toPandas() \
        .set_index("doc_id")
    bloom = CT.bloom_contamination(train, bench, n=5, m_bits=1 << 18,
                                   k_hashes=4, threshold=0.3) \
        .select("doc_id", "n_hits", "contaminated").toPandas() \
        .set_index("doc_id")
    joined = exact.join(bloom, lsuffix="_e", rsuffix="_b")
    assert (joined["n_hits"] >= joined["n_matched"]).all()
    assert joined.loc[joined["contaminated_e"], "contaminated_b"].all()


def test_bloom_build_bounded(spark, docs):
    from error_analysis_spark.extensions.contamination import bloom_build
    m = 1 << 10
    words = bloom_build(docs.limit(20), n=5, m_bits=m, k_hashes=3)
    assert len(words) == m // 32
    assert all(0 <= w < (1 << 32) for w in words)


# ---------------------------------------------------------------- domain cap

def test_domain_cap_matches_naive_window(spark, docs):
    from error_analysis_spark.extensions import text as TX
    from error_analysis_spark.extensions.curation import domain_cap
    cap = 6
    kept = domain_cap(docs, cap=cap).select("doc_id").toPandas()
    # naive: per-source row_number over (quality desc, doc_id)
    q_fp = F.round(TX.quality_expr("text") * 1e6).cast("long")
    naive = (docs.withColumn("_q", q_fp).where(F.col("_q").isNotNull())
             .withColumn("_rn", F.row_number().over(
                 Window.partitionBy("source")
                 .orderBy(F.col("_q").desc(), F.col("doc_id"))))
             .where(F.col("_rn") <= cap).select("doc_id").toPandas())
    assert sorted(kept["doc_id"]) == sorted(naive["doc_id"])


def test_domain_cap_respects_cap_and_small_domains(spark):
    from error_analysis_spark.extensions.curation import domain_cap
    rows = [(i, f"word{i % 7} " * (i % 11 + 1), f"d{i % 3}")
            for i in range(40)] + [(99, "solo doc here", "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    kept = domain_cap(df, cap=5).groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in kept}
    assert all(c <= 5 for c in counts.values())
    assert counts["tiny"] == 1  # domains under the cap keep everything


# ---------------------------------------------------------------- rolling

def test_rolling_stats_brute_parity(spark):
    import random
    rnd = random.Random(7)
    rows = [(i, k, 1_700_000_000_000_000 + rnd.randrange(0, 7200) * 1_000_000,
             round(rnd.uniform(0, 10), 2))
            for i, k in enumerate([j % 5 for j in range(300)])]
    from pyspark.sql import types as T
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "tus", "value"]).select(
        "event_id", "user_id",
        F.timestamp_micros(F.col("tus")).alias("ts"), "value")
    from error_analysis_spark.operators.temporal import rolling_stats
    out = rolling_stats(df, window_minutes=30).toPandas()
    # brute force in python
    by_key = {}
    for eid, k, tus, v in rows:
        by_key.setdefault(k, []).append((tus, v))
    win = 30 * 60_000_000
    got = out.set_index("event_id")
    for eid, k, tus, v in rows:
        frame = [vv for (tt, vv) in by_key[k] if tus - win <= tt <= tus]
        assert got.loc[eid, "n_window"] == len(frame)
        assert abs(got.loc[eid, "sum_window"] - round(sum(frame), 6)) < 1e-9


def test_rolling_stats_tie_peers(spark):
    # two events at the SAME timestamp must see each other (RANGE frame)
    df = spark.createDataFrame(
        [(1, 1, 1000, 2.0), (2, 1, 1000, 3.0)],
        ["event_id", "user_id", "tus", "value"]).select(
        "event_id", "user_id",
        F.timestamp_micros(F.col("tus")).alias("ts"), "value")
    from error_analysis_spark.operators.temporal import rolling_stats
    rows = rolling_stats(df, window_minutes=1).collect()
    assert all(r["n_window"] == 2 and r["sum_window"] == 5.0 for r in rows)


# ---------------------------------------------------------------- quantiles

def test_grouped_quantiles_matches_sorted_pick(spark):
    import random
    rnd = random.Random(11)
    rows = [(f"g{i % 3}", round(rnd.uniform(0, 50), 2)) for i in range(999)]
    df = spark.createDataFrame(rows, ["grp", "value"])
    from error_analysis_spark.extensions.sketches import grouped_quantiles
    out = grouped_quantiles(df, "grp", "value", qs=(0.25, 0.5, 0.9))
    rows_out = out.collect()
    assert len(rows_out) == 3 * 3  # one row per (group, q)
    got = {(r["grp"], r["q"]): r["v"] for r in rows_out}
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        for q in (0.25, 0.5, 0.9):
            # integer rank — float ceil(q*n) drifts, see operator doc
            rank = (round(q * 10000) * len(vals) + 9999) // 10000
            want = vals[rank - 1]
            assert abs(got[(g, q)] - want) < 1e-9, (g, q)


def test_grouped_quantiles_fp_ceil_regression(spark):
    # q=0.07 on a 100-row group: float ceil(0.07*100) = 8 (FP drift);
    # percentile_disc picks rank 7 — the 7th smallest value
    rows = [("g", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, ["grp", "value"])
    from error_analysis_spark.extensions.sketches import grouped_quantiles
    out = grouped_quantiles(df, "grp", "value", qs=(0.07,)).collect()
    assert out[0]["v"] == 7.0


def test_grouped_quantiles_null_and_extremes(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("a", 3.0), ("a", 4.0)],
        ["grp", "value"])
    from error_analysis_spark.extensions.sketches import grouped_quantiles
    got = {r["q"]: r["v"] for r in
           grouped_quantiles(df, "grp", "value", qs=(0.5, 1.0)).collect()}
    assert got[0.5] == 2.0  # ceil(0.5*4)=2nd of [1,2,3,4]; NULL carries no mass
    assert got[1.0] == 4.0


# ------------------------------------------------------------ wave 2: split

def test_hash_split_stable_under_growth_and_partitioning(spark, docs):
    from error_analysis_spark.extensions.mixing import hash_split
    full = hash_split(docs, seed=7).select("doc_id", "split").toPandas() \
        .set_index("doc_id")["split"]
    # a doc keeps its split when the corpus shrinks/grows or repartitions
    half = hash_split(docs.where(F.col("doc_id") % 2 == 0).repartition(13),
                      seed=7).select("doc_id", "split").toPandas() \
        .set_index("doc_id")["split"]
    assert (full.loc[half.index] == half).all()
    # fractions roughly respected (md5-uniform over 500 docs)
    frac = full.value_counts(normalize=True)
    assert frac["train"] > 0.8 and frac["val"] < 0.15 and frac["test"] < 0.15


def test_hash_split_validates_fracs(spark, docs):
    from error_analysis_spark.extensions.mixing import hash_split
    with pytest.raises(ValueError):
        hash_split(docs, fracs=(0.9, 0.2), names=("a", "b"))
    with pytest.raises(ValueError):
        hash_split(docs, fracs=(0.5,), names=("a", "b"))
    # residual mass drops rows deterministically
    kept = hash_split(docs, fracs=(0.5,), names=("a",), seed=7)
    n = docs.count()
    assert 0 < kept.count() < n


# --------------------------------------------------- wave 2: length buckets

def test_length_buckets_invariants(spark, docs):
    from error_analysis_spark.extensions.mixing import length_buckets, \
        token_len
    b = length_buckets(docs).toPandas()
    assert (b.n_tok > 0).all()
    assert (b.bucket >= b.n_tok).all(), "cap never below length"
    # bucket is a power of two and the TIGHT one: bucket/2 < n_tok
    assert ((b.bucket & (b.bucket - 1)) == 0).all()
    assert ((b.bucket // 2 < b.n_tok) | (b.bucket == 1)).all()
    # "pad" shadows DataFrame.pad — index by name
    assert (b["pad"] == b.bucket - b.n_tok).all()
    # zero-token docs dropped
    n_nonempty = docs.where(token_len(F.col("text")) > 0).count()
    assert len(b) == n_nonempty


# -------------------------------------------------------------- wave 2: CMS

def test_cms_overestimates_only_and_exact_at_wide_width(spark, docs):
    from error_analysis_spark.extensions.sketches import cms_topk
    out = cms_topk(docs, d=4, w=1024, k=10).toPandas()
    assert len(out) == 10
    assert (out.overcount >= 0).all(), "CMS error is one-sided"
    assert (out.tf_est == out.tf + out.overcount).all()
    # a very wide sketch on a small vocab has no collisions at the top
    wide = cms_topk(docs, d=4, w=1 << 20, k=10).toPandas()
    assert (wide.overcount == 0).all()


# ------------------------------------------------- wave 2: robust outliers

def test_robust_outliers_pandas_parity(spark):
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    vals = np.round(rng.normal(10.0, 2.0, 400), 2)
    vals[:8] = 99.0  # planted gross outliers
    pdf = pd.DataFrame({
        "g": ["a"] * 200 + ["b"] * 200, "v": vals})
    df = spark.createDataFrame(pdf)
    from error_analysis_spark.extensions.sketches import robust_outliers
    out = robust_outliers(df, "g", "v").toPandas().set_index("g")
    assert sorted(out.index) == ["a", "b"]  # one row per group
    for g, sub in pdf.groupby("g"):
        fp = np.round(sub.v * 100).astype(np.int64)
        n = len(fp)
        med = np.sort(fp.to_numpy())[int(np.ceil(n / 2)) - 1]
        dev = np.abs(fp - med)
        mad = np.sort(dev.to_numpy())[int(np.ceil(n / 2)) - 1]
        n_out = int((6745 * dev > 35000 * mad).sum())
        assert out.loc[g, "n"] == n
        assert out.loc[g, "median"] == med / 100
        assert out.loc[g, "mad"] == mad / 100
        assert out.loc[g, "n_outliers"] == n_out
    assert out.loc["a", "n_outliers"] == 8


def test_robust_outliers_zero_mad_null(spark):
    df = spark.createDataFrame(
        [("g", 1.0)] * 10 + [("g", 50.0)], ["g", "v"])
    from error_analysis_spark.extensions.sketches import robust_outliers
    row = robust_outliers(df, "g", "v").collect()[0]
    assert row["mad"] == 0.0 and row["n_outliers"] is None


# ------------------------------------------------ wave 2: random projection

def test_random_project_preserves_distances(spark):
    import numpy as np
    from error_analysis_spark.extensions.similarity import random_project
    from tests.conftest import SF_DIR as _SF
    emb = spark.read.parquet(f"{_SF}/embeddings.parquet").limit(40)
    pdf = emb.toPandas()
    out = random_project(emb, out_dim=16, seed=3).toPandas()
    wide = out.pivot(index="vec_id", columns="out_j", values="proj")
    X = np.stack(pdf.set_index("vec_id").loc[wide.index, "embedding"]
                 .map(np.asarray).to_numpy())
    Y = wide.to_numpy()
    # JL with k=16: squared distances preserved within a loose factor
    rng = np.random.default_rng(5)
    idx = rng.choice(len(X), size=(30, 2))
    idx = idx[idx[:, 0] != idx[:, 1]]
    dx = np.linalg.norm(X[idx[:, 0]] - X[idx[:, 1]], axis=1)
    dy = np.linalg.norm(Y[idx[:, 0]] - Y[idx[:, 1]], axis=1)
    ratio = dy / dx
    assert 0.4 < ratio.min() and ratio.max() < 1.9
    assert abs(np.median(ratio) - 1.0) < 0.35


def test_random_project_deterministic_signs(spark):
    from error_analysis_spark.extensions.similarity import random_project
    from tests.conftest import SF_DIR as _SF
    emb = spark.read.parquet(f"{_SF}/embeddings.parquet").limit(10)
    a = random_project(emb.repartition(7), out_dim=4, seed=3).toPandas()
    b = random_project(emb.repartition(2), out_dim=4, seed=3).toPandas()
    key = ["vec_id", "out_j"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    c = random_project(emb, out_dim=4, seed=4).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert not a.proj.equals(c.proj)


# ---------------------------------------------------- wave 2: snapshot diff

def test_corpus_delta_statuses(spark):
    from error_analysis_spark.extensions.curation import corpus_delta
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(2, "b"), (3, "C!"), (4, "d")], ["doc_id", "text"])
    got = {r["doc_id"]: r["status"]
           for r in corpus_delta(old, new).collect()}
    assert got == {1: "removed", 2: "same", 3: "changed", 4: "added"}


# ------------------------------------------------------- wave 3: funnel

def test_funnel_steps_semantics(spark):
    from error_analysis_spark.operators.temporal import funnel_steps
    rows = [
        # u1 completes all three in order
        (1, "a", "2024-01-01 00:00:00"), (1, "b", "2024-01-01 01:00:00"),
        (1, "c", "2024-01-01 02:00:00"),
        # u2: step-2 event BEFORE step 1 — must not count; drops at b
        (2, "b", "2024-01-01 00:00:00"), (2, "a", "2024-01-01 01:00:00"),
        # u3: a then c (no b) — c must NOT count without b
        (3, "a", "2024-01-01 00:00:00"), (3, "c", "2024-01-01 01:00:00"),
        # u4: never does a
        (4, "b", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "s"]) \
        .select("user_id", "event_type",
                F.to_timestamp("s").alias("ts"))
    out = {r["user_id"]: r for r in
           funnel_steps(df, ["a", "b", "c"]).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["ts_2"] is not None and out[1]["ts_3"] is not None
    assert out[2]["ts_2"] is None
    assert out[3]["ts_2"] is None and out[3]["ts_3"] is None


def test_funnel_earliest_valid_chain(spark):
    from error_analysis_spark.operators.temporal import funnel_steps
    # two b events after a: the EARLIEST qualifying one is picked
    rows = [(1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-01 02:00:00"),
            (1, "b", "2024-01-01 01:00:00")]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "s"]) \
        .select("user_id", "event_type", F.to_timestamp("s").alias("ts"))
    r = funnel_steps(df, ["a", "b"]).collect()[0]
    assert str(r["ts_2"]).startswith("2024-01-01 01:00")


# ---------------------------------------------------- wave 3: retention

def test_cohort_retention_bounds(spark):
    from error_analysis_spark.operators.temporal import cohort_retention
    from error_analysis_spark.sources.tables import load_table
    ev = load_table(spark, SF_DIR, "events")
    out = cohort_retention(ev).toPandas()
    assert (out.retention > 0).all() and (out.retention <= 1).all()
    week0 = out[out.week_offset == 0]
    assert (week0.retention == 1.0).all()
    # offsets never exceed the observed span (~30 days = 5 weeks)
    assert out.week_offset.between(0, 5).all()


# -------------------------------------------------- wave 3: bigram model

def test_bigram_logprob_is_sensitive_to_order(spark):
    from error_analysis_spark.extensions.text import bigram_logprob
    # corpus of repeated fluent docs + one shuffled-token doc; unigram
    # stats are identical, bigram CE must single out the shuffled doc
    fluent = "the cat sat on the mat " * 5
    shuffled = "mat the on sat cat the " + "the cat sat on the mat " * 4
    rows = [(i, fluent) for i in range(9)] + [(99, shuffled)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bigram_logprob(df).toPandas().set_index("doc_id")
    assert out.loc[99, "cross_entropy"] > out.loc[0, "cross_entropy"]
    assert (out.drop(99).cross_entropy < out.loc[99, "cross_entropy"]).all()


def test_bigram_logprob_short_docs_absent(spark):
    from error_analysis_spark.extensions.text import bigram_logprob
    df = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, "two tokens")], ["doc_id", "text"])
    out = bigram_logprob(df).toPandas()
    assert set(out.doc_id) == {3}
    assert out.iloc[0]["n_bigrams"] == 1


# ------------------------------------------------- wave 3: covariance

def test_embedding_covariance_numpy_parity(spark):
    import numpy as np
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(100)
    from error_analysis_spark.extensions.similarity import \
        embedding_covariance
    out = embedding_covariance(emb).toPandas()
    pdf = emb.toPandas()
    X = np.round(np.stack(pdf.embedding.map(
        lambda a: np.asarray(a, dtype=np.float64))) * 1e6)
    n = len(X)
    C = (X.T @ X) / 1e12 / n - np.outer(X.sum(0) / 1e6, X.sum(0) / 1e6) / n / n
    for r in out.itertuples(index=False):
        assert abs(C[r.i, r.j] - r.cov) < 2e-6
    d = X.shape[1]
    assert len(out) == d * (d + 1) // 2
    # diagonal entries are variances: non-negative ("cov" shadows the
    # pandas method — index by name)
    diag = out[out.i == out.j]
    assert (diag["cov"] >= 0).all()


# --------------------------------------------------- wave 3: data card

def test_data_card_semantics(spark):
    from error_analysis_spark.extensions.curation import data_card
    df = spark.createDataFrame(
        [(1, "s", "en", "alpha beta gamma"),
         (2, "s", "en", "delta epsilon"),
         (3, "s", "fr", "zeta eta theta iota"),
         (4, "t", "en", "kappa")],
        ["doc_id", "source", "lang", "text"])
    out = data_card(df).toPandas().set_index("source")
    import math
    assert out.loc["s", "n_docs"] == 3
    assert out.loc["s", "n_tokens"] == 9
    assert out.loc["s", "n_langs"] == 2
    expect_h = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert abs(out.loc["s", "lang_entropy"] - expect_h) < 1e-5
    assert out.loc["t", "lang_entropy"] == 0.0
    assert 0 < out.loc["t", "mean_quality"] <= 1


# ------------------------------------------------------- wave 4: tf-idf

def test_tfidf_topk_manual(spark):
    import math
    from error_analysis_spark.extensions.text import tfidf_topk_per_doc
    df = spark.createDataFrame(
        [(1, "apple apple banana shared"),
         (2, "cherry shared shared"),
         (3, "date shared")],
        ["doc_id", "text"])
    out = tfidf_topk_per_doc(df, k=2).toPandas()
    assert (out.groupby("doc_id")["rank"].max() <= 2).all()
    top1 = out[(out.doc_id == 1) & (out["rank"] == 1)].iloc[0]
    # apple: tf=2, df=1 → idf = ln(4/2)+1; shared: tf=1, df=3 → ln(1)+1
    assert top1.token == "apple"
    idf = math.log(4 / 2) + 1
    assert abs(top1.score - 2 * round(idf, 6)) < 2e-6
    # doc 2: 'shared' tf=2 beats cherry tf=1 only if score higher
    d2 = out[out.doc_id == 2].set_index("rank")
    assert set(d2.token) == {"cherry", "shared"}


def test_tfidf_rank_window_is_per_doc(spark):
    from error_analysis_spark.extensions.text import tfidf_topk_per_doc
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = tfidf_topk_per_doc(docs, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    wins = re.findall(r"Window .*partitionBy.*", plan)
    # the only rank window partitions by doc_id (never an empty
    # partition spec = global funnel)
    assert "partitionBy(lit(0))" not in plan
    assert "Window" in plan


# --------------------------------------------------------- wave 4: q05

def test_q05_dims_broadcast(spark):
    from error_analysis_spark.plans.queries_core import q05_region_volume
    spark.catalog.clearCache()
    df = q05_region_volume(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the region/nation/supplier dim chain must broadcast, not shuffle
    assert plan.count("BroadcastHashJoin") >= 3, plan
    rows = df.collect()
    assert 0 < len(rows) <= 5  # one row per nation in the region
    # descending revenue order is total
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_corpus_delta_null_text(spark):
    # a NULL-text doc present in both snapshots is 'same', not 'added';
    # NULL vs non-NULL under one id is 'changed'
    from error_analysis_spark.extensions.curation import corpus_delta
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    old = spark.createDataFrame([(1, None), (2, "x"), (3, None)], schema)
    new = spark.createDataFrame([(1, None), (2, None), (4, None)], schema)
    got = {r["doc_id"]: r["status"]
           for r in corpus_delta(old, new).collect()}
    assert got == {1: "same", 2: "changed", 3: "removed", 4: "added"}


# ---------------------------------------------------- wave 5: containment

def test_containment_catches_what_jaccard_misses(spark):
    from error_analysis_spark.extensions.dedup import (containment_pairs,
                                                       jaccard_pairs)
    big = " ".join(f"w{i}" for i in range(40))
    small = " ".join(f"w{i}" for i in range(8))  # subset of big
    df = spark.createDataFrame(
        [(1, big), (2, small), (3, "totally different words here")],
        ["doc_id", "text"])
    cont = containment_pairs(df, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    r = cont[0]
    assert r["cont_b"] == 1.0 and r["inter"] == 8
    # jaccard on the same pair: 8/40 = 0.2 — invisible at any sane
    # jaccard threshold
    jac = jaccard_pairs(df, threshold=0.5).collect()
    assert not any({p["id_a"], p["id_b"]} == {1, 2} for p in jac)


def test_containment_symmetric_fields(spark):
    from error_analysis_spark.extensions.dedup import containment_pairs
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], ["doc_id", "text"])
    r = containment_pairs(df, threshold=0.9).collect()[0]
    assert r["cont_a"] == 1.0 and r["cont_b"] == 1.0


# ---------------------------------------------------------------- PSI drift

def test_drift_psi_zero_when_identical(spark):
    from error_analysis_spark.extensions.curation import distribution_drift
    # two groups with identical value multisets: each group's
    # distribution IS the global one, so PSI must be exactly 0
    # (Laplace smoothing shifts p and q identically)
    vals = [10, 80, 200, 400, 900, 900]
    rows = [(g, v) for g in ("a", "b") for v in vals]
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = distribution_drift(df).collect()
    assert len(got) == 2  # one row per group
    out = {r["source"]: r["psi"] for r in got}
    assert set(out) == {"a", "b"}
    assert out["a"] == 0.0 and out["b"] == 0.0


def test_drift_psi_orders_shift_severity(spark):
    from error_analysis_spark.extensions.curation import distribution_drift
    # 'near' matches the bulk; 'far' sits in a disjoint bin range —
    # PSI must rank far > near > ~0, and be non-negative
    bulk = [(f"bulk", v) for v in range(0, 400, 4)]
    near = [("near", v + 16) for v in range(0, 400, 4)]
    far = [("far", v) for v in range(600, 1000, 4)]
    df = spark.createDataFrame(bulk + near + far, ["source", "n_chars"])
    out = {r["source"]: r["psi"]
           for r in distribution_drift(df).collect()}
    assert all(v >= 0 for v in out.values()), out
    assert out["far"] > out["near"] >= 0, out


def test_drift_psi_partitioning_invariant(spark):
    from error_analysis_spark.extensions.curation import distribution_drift
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["source"]: r["psi"]
         for r in distribution_drift(docs).collect()}
    b = {r["source"]: r["psi"]
         for r in distribution_drift(docs.repartition(7, "doc_id")).collect()}
    assert a == b


# ---------------------------------------------------------------- anomalies

def test_anomaly_flags_injected_spike(spark):
    from datetime import datetime, timedelta
    from error_analysis_spark.operators.temporal import anomaly_days
    base = datetime(2024, 1, 1)
    rows = []
    # smooth 10/day for 40 days, except a 60-event spike on day 35
    for d in range(40):
        n = 60 if d == 35 else 10
        for i in range(n):
            rows.append(("a", base + timedelta(days=d, seconds=i)))
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    out = anomaly_days(df, trailing_days=28, z=3, min_baseline=14) \
        .collect()
    days = {(r["event_type"], str(r["day"])) for r in out}
    assert ("a", "2024-02-05") in days, out
    # constant series contributes no other flags
    assert len(days) == 1, out


def test_anomaly_flags_collapse_too(spark):
    from datetime import datetime, timedelta
    from error_analysis_spark.operators.temporal import anomaly_days
    base = datetime(2024, 1, 1)
    rows = []
    # noisy-ish baseline, then a collapse to 1 event on day 30
    for d in range(32):
        n = 1 if d == 30 else (20 + (d % 3))
        for i in range(n):
            rows.append(("a", base + timedelta(days=d, seconds=i)))
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    out = anomaly_days(df, trailing_days=28, z=3, min_baseline=14) \
        .collect()
    assert any(str(r["day"]) == "2024-01-31" and r["n_events"] == 1
               for r in out), out


def test_anomaly_sigma_calibration_nonzero_variance(spark):
    """4-sigma spike flags at z=3, 2-sigma does not — on a baseline with
    KNOWN nonzero variance (alternating 90/110 → mu=100, sigma=10).
    Guards the exact cross-multiplied form (xn-S)^2 > z^2(nQ-S^2): the
    pre-fix formula carried an extra factor n, so the threshold only
    fired at z*sqrt(n) sigma and this 4-sigma spike went unflagged."""
    from datetime import datetime, timedelta
    from error_analysis_spark.operators.temporal import anomaly_days
    base = datetime(2024, 1, 1)
    rows = []
    for key, spike in (("hot", 140), ("mild", 120)):  # +4s / +2s
        for d in range(28):
            n = 90 if d % 2 == 0 else 110
            for i in range(n):
                rows.append((key, base + timedelta(days=d, seconds=i)))
        for i in range(spike):
            rows.append((key, base + timedelta(days=28, seconds=i)))
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    out = anomaly_days(df, trailing_days=28, z=3, min_baseline=14) \
        .collect()
    flagged = {(r["event_type"], str(r["day"])) for r in out}
    assert ("hot", "2024-01-29") in flagged, out
    assert ("mild", "2024-01-29") not in flagged, out
    assert len(flagged) == 1, out
    # ranked mode returns exactly top_k of the 30 eligible cells, the
    # +4 sigma spike first
    ranked = anomaly_days(df, trailing_days=28, z=3, min_baseline=14,
                          top_k=10).collect()
    assert len(ranked) == 10, ranked
    assert (ranked[0]["event_type"], str(ranked[0]["day"])) \
        == ("hot", "2024-01-29"), ranked


def test_centroid_eval_beats_chance_and_is_partition_stable(spark):
    from error_analysis_spark.extensions.similarity import \
        nearest_centroid_eval
    from tests.conftest import SF_DIR
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = {r["label"]: (r["n_correct"], r["n_vecs"])
         for r in nearest_centroid_eval(emb).collect()}
    total_correct = sum(c for c, _ in a.values())
    total = sum(n for _, n in a.values())
    n_labels = len(a)
    assert total_correct / total > 2.0 / n_labels, a
    b = {r["label"]: (r["n_correct"], r["n_vecs"])
         for r in nearest_centroid_eval(emb.repartition(7)).collect()}
    assert a == b


# ------------------------------------------------------------ trend/pareto

def test_trend_slope_recovers_exact_line(spark):
    from datetime import datetime, timedelta
    from error_analysis_spark.operators.temporal import trend_slope
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = datetime(2024, 1, 1)
    rows = [("lin", base + timedelta(days=d), 2.0 * d + 5.0)
            for d in range(50)] + \
           [("flat", base + timedelta(days=d), 7.0) for d in range(50)]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    got = trend_slope(df).collect()
    assert len(got) == 2  # one row per key
    out = {r["event_type"]: r for r in got}
    assert abs(out["lin"]["slope_per_day"] - 2.0) < 1e-6, out
    assert abs(out["lin"]["pearson_r"] - 1.0) < 1e-6, out
    # zero value-variance: slope 0, correlation undefined (NULL, not
    # an ANSI DIVIDE_BY_ZERO error)
    assert out["flat"]["slope_per_day"] == 0.0, out
    assert out["flat"]["pearson_r"] is None, out


def test_pareto_curve_hand_case(spark):
    from error_analysis_spark.extensions.curation import pareto_curve
    # 10 docs, lengths 10,9,...,1 → total 55; top-k (by length desc)
    # masses: k=1:10, k=2:19, ... deciles i -> k=i
    rows = [(i, 11 - i) for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    out = {r["frac_tenths"]: (r["n_docs"], r["value_frac"])
           for r in pareto_curve(df).collect()}
    masses = {i: sum(range(11 - i, 11)) for i in range(1, 10)}
    for i in range(1, 10):
        assert out[i][0] == i
        assert out[i][1] == round(masses[i] / 55, 6), (i, out[i])


def test_pareto_tie_exactness(spark):
    from error_analysis_spark.extensions.curation import pareto_curve
    # all docs the same length: decile i must cover exactly i/10 of
    # the mass regardless of which tied docs are "taken"
    df = spark.createDataFrame([(i, 7) for i in range(100)],
                               ["doc_id", "n_chars"])
    out = {r["frac_tenths"]: r["value_frac"]
           for r in pareto_curve(df).collect()}
    for i in range(1, 10):
        assert out[i] == round(i / 10, 6), out


# ---------------------------------------------------------------- merge

def test_merge_upsert_actions(spark):
    from error_analysis_spark.extensions.curation import merge_upsert
    target = spark.createDataFrame(
        [(1, "a", "en", "s", 1), (2, "b", "en", "s", 1),
         (3, "c", "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    delta = spark.createDataFrame(
        [(2, "B2", "en", "s", 2, "upsert"),    # update
         (3, None, None, None, None, "delete"),  # delete existing
         (9, "new", "fr", "s", 3, "upsert"),   # insert
         (42, None, None, None, None, "delete")],  # delete missing=noop
        ["doc_id", "text", "lang", "source", "n_chars", "_op"])
    out = merge_upsert(target, delta).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert list(out["doc_id"]) == [1, 2, 9]
    acts = dict(zip(out["doc_id"], out["_action"]))
    assert acts == {1: "keep", 2: "update", 9: "insert"}
    texts = dict(zip(out["doc_id"], out["text"]))
    assert texts == {1: "a", 2: "B2", 9: "new"}


def test_merge_upsert_idempotent(spark):
    from error_analysis_spark.extensions.curation import merge_upsert
    from pyspark.sql import functions as F
    target = spark.createDataFrame(
        [(i, f"t{i}", "en", "s", i) for i in range(20)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    delta = spark.createDataFrame(
        [(5, "T5", "en", "s", 2, "upsert"),
         (7, None, None, None, None, "delete")],
        ["doc_id", "text", "lang", "source", "n_chars", "_op"])
    once = merge_upsert(target, delta).drop("_action")
    twice = merge_upsert(once, delta).drop("_action")
    a = sorted(once.select("doc_id", "text").collect())
    b = sorted(twice.select("doc_id", "text").collect())
    assert a == b
    _ = F


# ---------------------------------------------------------------- SQL path

def test_sql_surface_matches_dataframe_path(spark):
    """register_all exposes every driver table to raw spark.sql; the
    SQL path must produce the same plans/results as the DataFrame
    path (Catalyst compiles both to the same logical algebra)."""
    from error_analysis_spark.sources.tables import register_all
    from tests.conftest import SF_DIR
    register_all(spark, SF_DIR)
    got = spark.sql("""
        SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT))
                                  AS BIGINT) AS qty
        FROM lineitem WHERE l_shipdate >= '1997-01-01'
        GROUP BY l_returnflag
    """).toPandas().set_index("l_returnflag")["qty"].to_dict()
    import pyspark.sql.functions as SF
    from error_analysis_spark.sources.tables import load_table
    want = (load_table(spark, SF_DIR, "lineitem")
            .where(SF.col("l_shipdate") >= "1997-01-01")
            .groupBy("l_returnflag")
            .agg(SF.sum(SF.col("l_quantity").cast("long")).alias("qty"))
            .toPandas().set_index("l_returnflag")["qty"].to_dict())
    assert got == want and len(got) >= 2
    join = spark.sql("""
        SELECT count(*) AS n FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
    """).collect()[0]["n"]
    assert join > 0


# ---------------------------------------------------------------- salting

def test_salted_join_equals_plain_join(spark):
    from error_analysis_spark.operators.skew import salted_join
    import random
    rnd = random.Random(3)
    # hot key 0 holds half the fact
    fact = spark.createDataFrame(
        [(0 if i % 2 == 0 else rnd.randrange(1, 20), i)
         for i in range(2000)], ["k", "payload"])
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(20)], ["k", "attr"])
    got = salted_join(fact, dim, "k", n_salt=8).toPandas() \
        .sort_values(["k", "payload"]).reset_index(drop=True)
    want = fact.join(dim, "k").toPandas() \
        .sort_values(["k", "payload"]).reset_index(drop=True)
    assert got[["k", "payload", "attr"]].equals(
        want[["k", "payload", "attr"]])


def test_salted_join_left_preserves_unmatched(spark):
    from error_analysis_spark.operators.skew import salted_join
    fact = spark.createDataFrame([(1, "a"), (99, "b")], ["k", "p"])
    dim = spark.createDataFrame([(1, "d1")], ["k", "attr"])
    rows = {r["k"]: r["attr"]
            for r in salted_join(fact, dim, "k", n_salt=4,
                                 how="left").collect()}
    assert rows == {1: "d1", 99: None}


def test_salted_join_scatters_hot_key(spark):
    from error_analysis_spark.operators.skew import salted_join
    import pyspark.sql.functions as SF
    from error_analysis_spark.extensions.text import md5_prefix_long
    # the salt column must actually spread the hot key's rows: rebuild
    # the internal salt and check >1 slice is populated
    fact = spark.createDataFrame([(0, i) for i in range(500)],
                                 ["k", "payload"])
    salt = SF.pmod(md5_prefix_long(
        SF.concat_ws("\x1f", SF.col("k").cast("string"),
                     SF.col("payload").cast("string"))), SF.lit(8))
    n_slices = fact.select(salt.alias("s")).distinct().count()
    assert n_slices >= 6, n_slices


def test_salted_count_distinct_exact_under_skew(spark):
    from error_analysis_spark.operators.skew import salted_count_distinct
    import random
    rnd = random.Random(5)
    rows = [("hot", rnd.randrange(0, 700)) for _ in range(5000)] + \
           [("cold", v) for v in range(30)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {r["k"]: r["n_distinct"]
           for r in salted_count_distinct(df, "k", "v").collect()}
    exact = {r["k"]: r["c"] for r in
             df.groupBy("k").agg(
                 __import__("pyspark.sql.functions", fromlist=["x"])
                 .countDistinct("v").alias("c")).collect()}
    assert got == exact
    # partitioning independence
    got2 = {r["k"]: r["n_distinct"]
            for r in salted_count_distinct(df.repartition(13),
                                           "k", "v").collect()}
    assert got2 == exact


def test_salted_join_row_id_scatters_duplicate_content(spark):
    """Exact-duplicate rows of a hot key hash to ONE salt from content
    alone; folding a row-id discriminator spreads them (and the join
    answer is unchanged)."""
    from error_analysis_spark.operators.skew import salted_join
    import pyspark.sql.functions as SF
    from error_analysis_spark.extensions.text import md5_prefix_long
    fact = spark.createDataFrame([(0, "same", i) for i in range(500)],
                                 ["k", "payload", "rid"])
    dim = spark.createDataFrame([(0, "d0")], ["k", "attr"])
    content_only = fact.select(SF.pmod(md5_prefix_long(
        SF.concat_ws("\x1f", SF.col("k").cast("string"),
                     SF.col("payload").cast("string"))),
        SF.lit(8)).alias("s")).distinct().count()
    assert content_only == 1  # the documented funnel
    with_rid = fact.select(SF.pmod(md5_prefix_long(
        SF.concat_ws("\x1f", SF.col("rid").cast("string"),
                     SF.col("k").cast("string"),
                     SF.col("payload").cast("string"),
                     SF.col("rid").cast("string"))),
        SF.lit(8)).alias("s")).distinct().count()
    assert with_rid >= 6, with_rid
    got = salted_join(fact, dim, "k", n_salt=8,
                      row_id_col="rid").toPandas() \
        .sort_values("rid").reset_index(drop=True)
    want = fact.join(dim, "k").toPandas() \
        .sort_values("rid").reset_index(drop=True)
    assert got[["k", "payload", "rid", "attr"]].equals(
        want[["k", "payload", "rid", "attr"]])


def test_fractional_max_df_equals_int_cap(spark, docs):
    """max_df=0.5 (in-plan 1-row broadcast) must yield exactly the
    pairs of max_df=int(n*0.5) (the eager-count form it replaced)."""
    from error_analysis_spark.extensions.dedup import containment_pairs
    n = docs.count()
    a = containment_pairs(docs, threshold=0.8, max_df=0.5)
    b = containment_pairs(docs, threshold=0.8,
                          max_df=max(1, int(n * 0.5)))
    pa = sorted(map(tuple, a.select("id_a", "id_b", "inter").collect()))
    pb = sorted(map(tuple, b.select("id_a", "id_b", "inter").collect()))
    a.unpersist(); b.unpersist()
    assert pa == pb and len(pa) > 0


# ------------------------------------------------------------- r05 wave 5

def test_zorder_key_known_values(spark):
    from error_analysis_spark.functions.layout import zorder_key
    df = spark.createDataFrame([(3, 5), (0, 0), (255, 255)], ["x", "y"])
    got = [r["z"] for r in
           df.select(zorder_key("x", "y", bits=8).alias("z"))
           .orderBy("z").collect()]
    # interleave(3, 5): x bits at even positions, y at odd -> 39
    assert got == [0, 39, 65535]


def test_zorder_bucket_locality(spark):
    """Every 256-key z-bucket must cover exactly a 16x16 tile — the
    row-group-pruning property the layout exists for."""
    from error_analysis_spark.plans.queries_misc import layout_zorder
    from tests.conftest import SF_DIR
    rows = layout_zorder(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["max_row"] - r["min_row"] <= 15
        assert r["max_col"] - r["min_col"] <= 15
        assert r["zmax"] - r["zmin"] <= 255


def test_maintain_aggregate_equals_recompute(spark, docs):
    from error_analysis_spark.extensions.curation import maintain_aggregate
    base = docs.where(F.col("doc_id") % 10 != 0)
    base_agg = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"))
    ins = (docs.where(F.col("doc_id") % 10 == 0)
           .select("source", "n_chars", F.lit("insert").alias("_op")))
    dels = (base.where(F.col("doc_id") % 7 == 0)
            .select("source", "n_chars", F.lit("delete").alias("_op")))
    got = {r["source"]: (r["n_docs"], r["sum_chars"])
           for r in maintain_aggregate(
               base_agg, ins.unionByName(dels)).collect()}
    v2 = base.where(F.col("doc_id") % 7 != 0).unionByName(
        docs.where(F.col("doc_id") % 10 == 0))
    want = {r["source"]: (r["n"], r["s"]) for r in
            v2.groupBy("source").agg(
                F.count("*").alias("n"),
                F.sum(F.col("n_chars").cast("long")).alias("s")).collect()}
    assert got == want


def test_maintain_aggregate_drops_emptied_groups(spark):
    from error_analysis_spark.extensions.curation import maintain_aggregate
    base = spark.createDataFrame(
        [("a", 2, 10), ("b", 1, 5)], ["source", "n_docs", "sum_chars"])
    delta = spark.createDataFrame(
        [("b", 5, "delete"), ("c", 7, "insert")],
        ["source", "n_chars", "_op"])
    got = {r["source"]: (r["n_docs"], r["sum_chars"])
           for r in maintain_aggregate(base, delta).collect()}
    assert got == {"a": (2, 10), "c": (1, 7)}


def test_bpe_merge_pairs_hand_case(spark):
    from error_analysis_spark.extensions.text import bpe_merge_pairs
    df = spark.createDataFrame(
        [(1, "abab ab"), (2, "ab x")], ["doc_id", "text"])
    # distinct words: abab(1), ab(2... 'ab' appears in doc1 and doc2 ->
    # n=2), x(1). pairs: abab -> ab,ba,ab (n=1); ab -> ab (n=2)
    got = {(r["left_sym"], r["right_sym"]): r["pair_count"]
           for r in bpe_merge_pairs(df, top_k=10).collect()}
    assert got == {("a", "b"): 4, ("b", "a"): 1}


def test_hard_triplets_label_contract(spark):
    """Positives share the anchor's label, negatives never do, and the
    mined negative is at least as close as any sampled impostor."""
    from error_analysis_spark.extensions.similarity import hard_triplets
    from tests.conftest import SF_DIR
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in
              emb.select("vec_id", "label").collect()}
    out = hard_triplets(emb, anchor_mod=100).collect()
    assert len(out) > 0
    for r in out:
        if r["pos_id"] is not None:
            assert labels[r["pos_id"]] == r["label"]
        assert labels[r["neg_id"]] != r["label"]
        assert -1.000001 <= r["neg_cos"] <= 1.000001
    # partitioning independence (fixed-point cosines)
    out2 = hard_triplets(emb.repartition(17, "label"),
                         anchor_mod=100).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
