"""Sketch primitives (extensions/sketches.py). Oracle parity for the
three driver queries runs in test_oracle.py; these pin the estimator
semantics and error bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from error_analysis_spark.extensions import sketches as SK
from error_analysis_spark.sources.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events").cache()


def test_kmv_exact_below_k(spark, events):
    """With k above every group's cardinality the sketch is exact."""
    got = {r["event_type"]: r for r in
           SK.kmv_distinct(events, "event_type", "user_id", k=100000)
           .collect()}
    exact = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for et, n in exact.items():
        assert got[et]["n_kept"] == n
        assert got[et]["est_distinct"] == float(n)


def test_kmv_estimator_accuracy(spark, events):
    """k=64 KMV has ~1/sqrt(k) ≈ 12.5% relative error; allow 3x."""
    exact = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for r in SK.kmv_distinct(events, "event_type", "user_id",
                             k=64).collect():
        n = exact[r["event_type"]]
        if n >= 64:
            assert abs(r["est_distinct"] - n) / n < 0.4
            assert r["n_kept"] == 64


def test_kmv_partitioning_independent(spark, events):
    a = SK.kmv_distinct(events.repartition(3), "event_type", "user_id",
                        k=32).toPandas().sort_values("event_type") \
        .reset_index(drop=True)
    b = SK.kmv_distinct(events.repartition(29), "event_type", "user_id",
                        k=32).toPandas().sort_values("event_type") \
        .reset_index(drop=True)
    assert a.equals(b)


def test_vocab_topk_matches_pandas(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = SK.vocab_topk(docs, k=20, min_df=2).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    from collections import Counter
    tf, df = Counter(), Counter()
    for _, row in pdf.iterrows():
        toks = [t for t in row["text"].split() if t]
        tf.update(toks)
        df.update(set(toks))
    want = sorted(((t, c, df[t]) for t, c in tf.items() if df[t] >= 2),
                  key=lambda x: (-x[1], x[0]))[:20]
    have = list(got.itertuples(index=False, name=None))
    assert have == want


def test_quantize_error_bound(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = SK.quantize_embeddings(emb).toPandas()
    assert (out["scale"] > 0).all()
    # rounding to the nearest code keeps every element within scale/2,
    # so mse <= (scale/2)^2 (rounded values: allow epsilon)
    assert (out["mse"] <= (out["scale"] / 2) ** 2 + 1e-9).all()
    # saturation can only happen at the max element, which maps to
    # exactly +-127 — so every vector has at least one saturated code
    assert (out["n_sat"] >= 1).all()


# ---------------------------------------------------------------- HLL

def test_hll_accuracy_across_cardinalities(spark):
    # standard error is 1.04/sqrt(512) ~ 4.6%; assert within ~3 sigma
    rows = [(f"g{card}", v) for card in (50, 500, 5000)
            for v in range(card)]
    df = spark.createDataFrame(rows, ["g", "v"])
    rows = SK.hll_distinct(df, "g", "v").collect()
    assert len(rows) == 3  # one row per group
    out = {r["g"]: r["n_est"] for r in rows}
    for card in (50, 500, 5000):
        est = out[f"g{card}"]
        assert abs(est - card) / card < 0.14, (card, est)


def test_hll_partitioning_invariant_and_dup_blind(spark):
    # duplicates cannot move the estimate (register max is idempotent),
    # and the register table is partitioning-independent
    base = [("a", v) for v in range(300)]
    df1 = spark.createDataFrame(base, ["g", "v"])
    df2 = spark.createDataFrame(base * 3, ["g", "v"]).repartition(7)
    a = SK.hll_distinct(df1, "g", "v").collect()[0]["n_est"]
    b = SK.hll_distinct(df2, "g", "v").collect()[0]["n_est"]
    assert a == b
