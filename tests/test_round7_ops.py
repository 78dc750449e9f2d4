"""Round-7 semantics: line-dedup id-domain contract, the multi-run
chain's A5 internal consistency, the mm fixture magic-prefix guard,
and cachereg's scoped release."""

from __future__ import annotations

import glob

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from error_analysis_spark import cachereg
from error_analysis_spark.extensions.text import corpus_line_dedup


def test_corpus_line_dedup_blank_doc_survives(spark):
    """Id-domain contract (round-7 fix): a doc whose text is empty or
    all-blank lines never reaches the exploded frame, but it must NOT
    vanish from the output — it surfaces with empty text and zero
    counts, so a curation stage never silently shrinks the corpus."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha\nbeta", "", "  \n \n   "],
    }))
    with cachereg.scoped():
        out = (corpus_line_dedup(docs, kill_freq=3).toPandas()
               .set_index("id").sort_index())
    assert sorted(out.index) == [1, 2, 3]
    for blank in (2, 3):
        assert out.loc[blank, "text"] == ""
        assert out.loc[blank, "n_lines_kept"] == 0
        assert out.loc[blank, "n_lines_removed"] == 0
    assert out.loc[1, "text"] == "alpha\nbeta"
    assert out.loc[1, "n_lines_kept"] == 2


def test_corpus_line_dedup_one_tokenization(spark):
    """The exploded `lines` frame is pinned: both its consumers (the
    corpus frequency count and the join probe) read the cache, so the
    scan + posexplode + trim pipeline runs once at any scale."""
    cachereg.release_tracked()  # drain caches earlier tests left tracked
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a\nb", "b\nc"]}))
    with cachereg.scoped():
        out = corpus_line_dedup(docs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2
        # the pin registered with cachereg (released by scoped/harness)
        assert len(cachereg._TRACKED) == 1
        out.collect()
    assert len(cachereg._TRACKED) == 0


def test_chain_multi_a5_consistent_with_per_run(spark):
    """pipeline_chain_multi's 'vario_mean' block is the A5 reduce of
    its own 'vario' block: per bin, gamma_mean is the mean of the
    per-run gammas and n counts the runs whose bin met min_pairs."""
    from error_analysis_spark.plans.queries_raster import (
        pipeline_chain_multi,
    )
    with cachereg.scoped():
        pdf = pipeline_chain_multi(spark, "/root/testdata/sf0.01").toPandas()
    vario = pdf[pdf.stage == "vario"]
    mean = pdf[pdf.stage == "vario_mean"].set_index("k")
    assert set(vario.run.unique()) == {0, 1, 2, 3}
    for b, grp in vario.groupby("k"):
        gammas = grp.v2.dropna()
        assert mean.loc[b, "n"] == len(gammas)
        if len(gammas):
            assert abs(mean.loc[b, "v1"] - gammas.mean()) < 1e-4
        assert abs(mean.loc[b, "v4"] - grp.n.mean()) < 1e-4


def test_lazy_sampler_per_run_counts(spark, no_jobs):
    """sample_pixels_multi_lazy draws the exact n_target per run with
    no driver round-trips (construction runs zero jobs) and distinct
    per-run membership (run-salted hash)."""
    from error_analysis_spark.operators.variogram import (
        VariogramParams, sample_pixels_multi_lazy,
    )
    n = 400
    px = spark.range(n).select(
        (F.col("id") % 20).cast("int").alias("row"),
        (F.col("id") / 20).cast("int").alias("col"),
        (F.col("id") % 20 + 0.5).alias("x"),
        (F.floor(F.col("id") / 20) + 0.5).alias("y"),
        F.col("id").cast("double").alias("value"))
    params = VariogramParams(max_samples=50, samples_per_area=1e9, seed=7)
    with no_jobs():
        samp = sample_pixels_multi_lazy(px, params, res=1.0, n_runs=3)
    pdf = samp.toPandas()
    counts = pdf.groupby("run").sample_id.agg(["count", "nunique"])
    assert (counts["count"] == 50).all() and (counts["nunique"] == 50).all()
    sets = pdf.groupby("run").sample_id.apply(frozenset)
    assert sets[0] != sets[1] != sets[2]


def test_mm_fixture_payloads_carry_no_decodable_magic():
    """Guard for the mm_features/mm_pack oracle (ADVICE r06): its
    decode_src='real' ⟺ doc_id%6==0 assertion relies on no raw
    document text beginning with bytes the REAL parsers accept. Pin
    that property of the fixture data itself, at every SF the driver
    or bench touches, so a fixture regeneration that violates it fails
    loudly here instead of silently flipping oracle rows."""
    # \x89PNG… and \xff\xd8 (JPEG) are unreachable from utf-8 text but
    # listed for parity with the dispatch, against a future fixture
    # regeneration that switches payloads to raw bytes
    magic = ("P6", "BM", "RIFF", "\x89PNG\r\n\x1a\n", "\xff\xd8")
    for sf_dir in sorted(glob.glob("/root/testdata/sf*")):
        texts = pq.read_table(f"{sf_dir}/documents.parquet",
                              columns=["text"]).column("text").to_pylist()
        hits = [t[:8] for t in texts if t and t.startswith(magic)]
        assert not hits, f"{sf_dir}: decodable magic prefixes {hits[:3]}"


def test_cachereg_scoped_releases_inner_keeps_outer(spark):
    """scoped() releases exactly the caches tracked inside the block
    and restores outer registrations for the harness-level release."""
    cachereg.release_tracked()  # drain caches earlier tests left tracked
    outer = cachereg.track(spark.range(5).persist())
    outer.count()
    with cachereg.scoped():
        inner = cachereg.track(spark.range(7).persist())
        inner.count()
        assert inner.storageLevel.useMemory
    assert not inner.storageLevel.useMemory      # released on exit
    assert outer.storageLevel.useMemory          # untouched
    assert cachereg._TRACKED == [outer]          # restored
    assert cachereg.release_tracked() == 1
    assert not outer.storageLevel.useMemory


def test_analyze_pair_chain_multi_is_one_lazy_dag(spark, no_jobs):
    """The multi-run chain keeps the E3 laziness contract: building it
    runs ZERO Spark jobs (all three pins — zoned DoD, samples, per-run
    bins — are lazy persists), the plan never falls back to a
    CartesianProduct, and one action yields bias + per-run vario +
    the A5 cross-run block with n_runs runs present."""
    from pyspark.sql import functions as F

    from error_analysis_spark.fixtures import GridSpec
    from error_analysis_spark.pipeline import analyze_pair_chain_multi

    ga = GridSpec("a", width=20, height=20, x0=0.0, y0=20.0, res=1.0)
    gb = GridSpec("b", width=10, height=10, x0=0.25, y0=20.125, res=2.0)

    def mk(g):
        return (spark.range(g.width * g.height).select(
            (F.col("id") % g.height).cast("int").alias("row"),
            (F.col("id") / g.height).cast("int").alias("col"),
            (F.col("id") * 0.01).alias("value"))
            .withColumn("x", F.lit(g.x0) + (F.col("col") + 0.5) * g.res)
            .withColumn("y", F.lit(g.y0) - (F.col("row") + 0.5) * g.res))

    cachereg.release_tracked()
    with no_jobs():
        chain = analyze_pair_chain_multi(mk(ga), mk(gb), ga, gb, n_runs=3,
                                         max_lag=12.0, bin_width=4.0,
                                         min_pairs=5)
    plan = chain._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan

    with cachereg.scoped():
        pdf = chain.toPandas()
    assert set(pdf["stage"]) == {"bias", "vario", "vario_mean"}
    assert len(pdf[pdf["stage"] == "bias"]) == 1
    assert set(pdf[pdf["stage"] == "vario"]["run"]) == {0, 1, 2}
    mean = pdf[pdf["stage"] == "vario_mean"]
    assert (mean["n"] <= 3).all() and len(mean) > 0


def _line_dedup_reference(texts: dict, kill_freq: int) -> dict:
    """Pure-Python reference of the C4 line-dedup rule (independent of
    both the Spark plan and the DuckDB oracle)."""
    from collections import Counter
    lines = {i: [ln.strip(" ") for ln in t.split("\n")
                 if ln.strip(" ") != ""] for i, t in texts.items()}
    freq = Counter(ln for ls in lines.values() for ln in ls)
    out = {}
    for i, ls in lines.items():
        kept = [ln for ln in ls if freq[ln] < kill_freq]
        out[i] = ("\n".join(kept), len(kept), len(ls) - len(kept))
    return out


def test_corpus_line_dedup_matches_python_reference(spark):
    """Randomized cross-check against an implementation-independent
    reference: random corpora with planted boilerplate, blanks and
    repeats — text, kept and removed counts must match exactly for
    every doc (incl. docs the kill rule empties)."""
    import random
    rng = random.Random(1234)
    pool = [f"boiler_{j}" for j in range(6)]
    for trial in range(3):
        texts = {}
        for i in range(60):
            n = rng.randint(0, 6)
            ls = []
            for _ in range(n):
                r = rng.random()
                if r < 0.35:
                    ls.append(rng.choice(pool))
                elif r < 0.45:
                    ls.append("   ")          # blank after trim
                else:
                    ls.append(f"uniq_{trial}_{i}_{rng.randint(0, 9)}")
            texts[i] = "\n".join(ls)
        want = _line_dedup_reference(texts, kill_freq=3)
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
        with cachereg.scoped():
            got = (corpus_line_dedup(docs, kill_freq=3).toPandas()
                   .set_index("id"))
        assert len(got) == len(texts)
        for i, (text, kept, removed) in want.items():
            assert got.loc[i, "text"] == text, i
            assert got.loc[i, "n_lines_kept"] == kept, i
            assert got.loc[i, "n_lines_removed"] == removed, i


def test_lazy_sampler_selection_matches_python_reference(spark):
    """The md5 order-statistic selection is REPRODUCED exactly by an
    independent Python recomputation (same hash, same n_target
    formula, same pre-filter, same smallest-u pick per run) — the
    partitioning-independence contract, checked beyond the SQL
    oracle."""
    import hashlib as hl

    from error_analysis_spark.operators.variogram import (
        VariogramParams, sample_pixels_multi_lazy,
    )
    n, n_runs, seed = 300, 3, 99
    params = VariogramParams(max_samples=40, samples_per_area=10_000.0,
                             seed=seed)
    px = spark.range(n).select(
        (F.col("id") % 20).cast("int").alias("row"),
        (F.col("id") / 20).cast("int").alias("col"),
        F.col("id").cast("double").alias("x"),
        F.col("id").cast("double").alias("y"),
        F.col("id").cast("double").alias("value"))
    got = (sample_pixels_multi_lazy(px, params, res=2.0, n_runs=n_runs)
           .toPandas())
    # reference
    res, spa, area = 2.0, 10_000.0, 250.0 ** 2
    n_target = min(40, max(1, int(n * res ** 2 * spa / area)), n)
    frac = min(1.0, (1.5 * n_target + 6.0 * n_target ** 0.5 + 16.0) / n)
    thr = frac * float(1 << 60)
    pids = [(i % 20) * (1 << 31) + (i // 20) for i in range(n)]
    for run in range(n_runs):
        hs = {p: int(hl.md5(f"{p}:{run}:{seed}".encode())
                     .hexdigest()[:15], 16) for p in pids}
        cand = sorted((h, p) for p, h in hs.items() if float(h) < thr)
        want = {p for _h, p in cand[:n_target]}
        have = set(got[got.run == run].sample_id)
        assert have == want, f"run {run} selection mismatch"


def test_simhash_near_pairs_equals_brute_force(spark):
    """The pigeonhole banding is a DECOMPOSITION, not an approximation:
    on a corpus with planted near-identical docs, the banded
    Hamming-radius search returns exactly the brute-force all-pairs
    radius set (ids, pairing, and distances)."""
    import itertools

    from error_analysis_spark.extensions.dedup import (
        simhash, simhash_near_pairs,
    )
    base = ["alpha bravo charlie delta echo foxtrot golf hotel",
            "india juliet kilo lima mike november oscar papa",
            "quebec romeo sierra tango uniform victor whiskey xray"]
    texts = {}
    for i in range(30):
        t = base[i % 3]
        if i % 3 == 0 and i > 0:
            # planted near-dup: one token swapped vs its family
            t = t.replace("charlie", f"charlie{i % 7}")
        texts[i] = t + f" tail{i % 5}"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    got = (simhash_near_pairs(docs, bits=48, max_hamming=3).toPandas()
           .sort_values(["id_a", "id_b"]).reset_index(drop=True))
    sigs = {r["id"]: r["simhash"]
            for r in simhash(docs, bits=48).collect()}
    want = sorted(
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3)
    assert [tuple(r) for r in got.itertuples(index=False)] == want
    assert len(want) > 0  # the fixture actually plants near-dups


def test_simhash_near_pairs_rejects_zero_width_bands(spark):
    """bits < max_hamming+1 would give zero-width bands (bval=0 for
    every doc) and silently degenerate the candidate join into the
    all-pairs cross product — the operator must reject it loudly."""
    import pytest

    from error_analysis_spark.extensions.dedup import simhash_near_pairs
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "a c"]}))
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_pairs(docs, bits=8, max_hamming=15)
