"""Persisted IVF-flat ANN index over parquet — the durable form of the
similarity layer's scale path.

`similarity.ivf_topk` trains its coarse quantizer per call, which is
right for exploration and wrong for production: an index you query a
thousand times must be CLUSTERED ON DISK so each probe is a
partition-pruned scan, not a full pass plus a filter. This module
persists exactly that layout (the classic IVF-flat design, e.g. the
inverted-file structure of Jégou et al. 2011, mapped onto parquet):

- `write_ivf_index`: unit-normalize → MLlib KMeans (deterministic for
  a seed) → assign `list_id` → `partitionBy("list_id")` parquet for
  the vectors, plus a tiny `centroids` parquet next to it. At 100 TB
  the vectors table is the big artifact; one shuffle on `list_id`
  lays it out so every cell is a contiguous directory.
- `query_ivf`: read the centroid table (tiny — collect to the
  driver), rank cells against the query, and scan ONLY the `n_probe`
  nearest cell directories — the `list_id IN (...)` predicate prunes
  at the PARTITION level (visible as PartitionFilters in the scan
  node, asserted in tests), so IO scales with probed cells, not
  corpus size. Exact cosine within the probed cells, global top-k via
  TakeOrderedAndProject.

Querying with `n_probe = n_lists` degenerates to exact brute force
over a partitioned scan — the recall/latency knob is explicit.

Round 8 adds the IVF-PQ variant (`write_ivfpq_index` / `query_ivfpq`):
same coarse-cell pruning, but the stored rows are PQ codes over the
cell residuals instead of raw vectors — 32× smaller on disk, ranked by
ADC in an Arrow kernel. IVF-flat is the exact-within-probed-cells
tier; IVF-PQ is the memory-bound tier a 100 TB corpus actually needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from error_analysis_spark.extensions.similarity import (
    _as_double,
    cosine,
    l2_norm,
)


def write_ivf_index(embeddings: DataFrame, path: str, n_lists: int = 16,
                    seed: int = 42, vec_col: str = "embedding",
                    id_col: str = "vec_id", train_mod: int = 1) -> int:
    """Cluster, assign and persist the IVF layout; returns n_lists.

    Layout: `{path}/vectors/list_id=*/...parquet` (raw vector + id per
    row) and `{path}/centroids/` (list_id, center array<double>).

    `train_mod` bounds the KMeans TRAINING sample (`id % train_mod ==
    0`, the pq_train convention): the fit scans its input ~maxIter
    times, so at corpus scale pass train_mod such that the sample is a
    few 100k rows; the FULL corpus is still assigned in one map pass.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    varr = _as_double(F.col(vec_col))
    ds = (embeddings
          .select(F.col(id_col), F.col(vec_col), varr.alias("_v"))
          .withColumn("_nrm", F.greatest(l2_norm(F.col("_v")),
                                         F.lit(1e-300)))
          .withColumn("_u", F.transform(
              F.col("_v"), lambda x: x / F.col("_nrm")))
          .withColumn("features", array_to_vector("_u")))
    km = KMeans(k=n_lists, seed=seed, featuresCol="features",
                predictionCol="list_id")
    fit_ds = ds.where(F.col(id_col).cast("long") % train_mod == 0) \
        if train_mod > 1 else ds
    model = km.fit(fit_ds)
    assigned = model.transform(ds).select(id_col, vec_col, "list_id")
    (assigned.repartition("list_id")
     .write.mode("overwrite").partitionBy("list_id")
     .parquet(os.path.join(path, "vectors")))
    spark = embeddings.sparkSession
    centers = [(i, [float(x) for x in c])
               for i, c in enumerate(model.clusterCenters())]
    (spark.createDataFrame(centers, "list_id int, center array<double>")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "centroids")))
    return n_lists


def query_ivf(spark: SparkSession, path: str, query_vec: list[float],
              k: int = 10, n_probe: int = 4,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Partition-pruned IVF probe: top-k ids by exact cosine within the
    `n_probe` cells whose centroids are nearest the unit query."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-300)
    cents = spark.read.parquet(os.path.join(path, "centroids")).collect()
    order = sorted(
        cents,
        key=lambda r: float(((np.asarray(r["center"]) - q) ** 2).sum()))
    probe = [int(r["list_id"]) for r in order[:n_probe]]

    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    qcol = F.array(*[F.lit(float(v)) for v in q])
    return (vecs.where(F.col("list_id").isin(probe))
            .select(F.col(id_col),
                    F.round(cosine(_as_double(F.col(vec_col)), qcol), 6)
                    .alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k))


# --------------------------------------------------------------------------
# IVF-PQ: coarse cells for IO pruning + PQ codes for in-cell ranking
# --------------------------------------------------------------------------

def write_ivfpq_index(embeddings: DataFrame, path: str, n_lists: int = 8,
                      n_blocks: int = 8, n_codes: int = 16,
                      seed: int = 42, train_mod: int = 1,
                      quantize: int = 6, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> dict:
    """The FAISS IVFPQ layout (Jégou et al. 2011 §IV) on parquet: the
    IVF coarse quantizer prunes IO (partition directories per cell, as
    in `write_ivf_index`) and a product-quantizer over the RESIDUALS
    (unit vector − cell centroid, the classic residual encoding)
    compresses every vector to `n_blocks` one-byte codes — the stored
    table carries NO raw vectors, which is the entire point at 100 TB:
    a 64-dim float corpus compresses 32× and the probe scan reads only
    code columns from only the probed directories.

    Codebook training rides `similarity.pq_train` (deterministic
    md5-seeded k-means on the fixed-point residual grid, sample-bounded
    by train_mod); encoding is the Arrow int64-einsum kernel. Layout:
    `{path}/vectors/list_id=*/` (id, codes array<int>),
    `{path}/centroids/`, `{path}/codebook/` (b, code, cvec).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from error_analysis_spark.extensions.similarity import (
        _fp_arr, _pq_encode, pq_train)

    varr = _as_double(F.col(vec_col))
    ds = (embeddings
          .select(F.col(id_col), varr.alias("_v"))
          .withColumn("_nrm", F.greatest(l2_norm(F.col("_v")),
                                         F.lit(1e-300)))
          .withColumn("_u", F.transform(
              F.col("_v"), lambda x: x / F.col("_nrm")))
          .withColumn("features", array_to_vector("_u")))
    km = KMeans(k=n_lists, seed=seed, featuresCol="features",
                predictionCol="list_id")
    # Train the coarse quantizer on the SAME train_mod-bounded sample
    # the PQ codebook uses (VERDICT r08 #7): KMeans iterations scan the
    # training frame ~maxIter times, so fitting on the full corpus made
    # the build KMeans-dominated (241 s at 1M rows) while a few-100k
    # sample recovers the same cell geometry. The FULL corpus is still
    # assigned below in one map pass (model.transform).
    fit_ds = ds.where(F.col(id_col).cast("long") % train_mod == 0) \
        if train_mod > 1 else ds
    model = km.fit(fit_ds)
    spark = embeddings.sparkSession
    centers = [(i, [float(x) for x in c])
               for i, c in enumerate(model.clusterCenters())]
    cent_df = spark.createDataFrame(
        centers, "list_id int, center array<double>")
    # residual = unit vector − assigned centroid (broadcast tiny dim
    # table; one row-local zip_with)
    # Pinned for the build's lifetime (round 9): four downstream passes
    # read this frame (pq_train's dim probe + seed scan + Lloyd
    # partials, then the encode) and each would otherwise re-run the
    # normalize + KMeans-assign + centroid join over the full corpus —
    # measured 111 s of the 192 s 1M-row build was exactly that
    # recomputation. One narrow (id, list_id, resid) cache turns it
    # into one compute + three cache reads; released before returning.
    from pyspark.storagelevel import StorageLevel
    resid = (model.transform(ds)
             .select(id_col, "_u", "list_id")
             .join(F.broadcast(cent_df), "list_id")
             .withColumn("resid", F.zip_with(
                 "_u", "center", lambda x, y: x - y))
             .select(id_col, "list_id", "resid")
             .persist(StorageLevel.MEMORY_AND_DISK))
    # try/finally so a pq_train / encode / write failure cannot leak
    # the corpus-scale cache for the session's lifetime (ADVICE r09)
    try:
        book = pq_train(resid, n_blocks=n_blocks, n_codes=n_codes,
                        vec_col="resid", id_col=id_col,
                        quantize=quantize, train_mod=train_mod)
        cw = max(n_codes, 32)
        base = resid.select(F.col(id_col).cast("long").alias("id"),
                            F.col("list_id"),
                            _fp_arr(F.col("resid"), quantize).alias("q"))
        enc = _pq_encode(base.withColumnRenamed("list_id", "lid"),
                         book, cw, passthrough=["id", "lid"])
        codes = enc.select(
            F.col("lid").alias("list_id"),
            F.col("id").alias(id_col),
            F.transform("ks", lambda kv: (kv % cw).cast("int"))
            .alias("codes"))
        (codes.repartition("list_id")
         .write.mode("overwrite").partitionBy("list_id")
         .parquet(os.path.join(path, "vectors")))
    finally:
        resid.unpersist()
    cent_df.coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "centroids"))
    book_rows = [(b + 1, c + 1, book[b][c])
                 for b in range(n_blocks) for c in range(n_codes)]
    (spark.createDataFrame(
        book_rows, "b int, code int, cvec array<bigint>")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "codebook")))
    return {"n_lists": n_lists, "n_blocks": n_blocks,
            "n_codes": n_codes, "quantize": quantize}


def query_ivfpq(spark: SparkSession, path: str, query_vec: list[float],
                k: int = 10, n_probe: int = 4, quantize: int = 6,
                id_col: str = "vec_id",
                rerank_source: DataFrame | None = None,
                shortlist: int = 100,
                vec_col: str = "embedding") -> DataFrame:
    """Partition-pruned ADC probe: rank cells by centroid distance to
    the unit query, build one ADC lookup table PER PROBED CELL from the
    cell-residual query (q − centroid, the same residual grid the codes
    were trained on), scan only the probed directories and rank by
    Σ_b qd[cell][b][code_b] — an Arrow kernel over the code columns;
    no raw vectors are read because none are stored.

    Returns (ADVICE r09): without `rerank_source`, a LAZY DataFrame
    `(id_col, list_id, adc_dist)` — the plain ADC top-k. With
    `rerank_source`, the schema CHANGES to `(id_col, exact_dist)` and
    the call is EAGER: the whole ADC probe job runs inside this
    function (`ranked.collect()`) to materialize the shortlist ids
    before the exact tier's pruned scan. `shortlist` ids inline
    linearly into the rerank scan's `isin()` plan — values above
    ~10k would bloat plan compile time for no recall gain (recall
    saturates far earlier), so they are rejected."""
    import math

    import numpy as np
    import pandas as pd

    if rerank_source is not None and shortlist > 10_000:
        raise ValueError(
            f"shortlist={shortlist}: the rerank tier inlines every "
            f"shortlist id into the pruned scan's isin() plan; cap is "
            f"10000 (recall saturates far below it — see the round-9 "
            f"adversarial ANN recall probe in BASELINE.md)")
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-300)
    cents = {int(r["list_id"]): np.asarray(r["center"])
             for r in spark.read.parquet(
                 os.path.join(path, "centroids")).collect()}
    probe = sorted(cents, key=lambda i: float(
        ((cents[i] - q) ** 2).sum()))[:n_probe]
    brows = spark.read.parquet(os.path.join(path, "codebook")).collect()
    nb = max(r["b"] for r in brows)
    nc = max(r["code"] for r in brows)
    C = np.zeros((nb, nc, len(brows[0]["cvec"])), dtype=np.int64)
    for r in brows:
        C[r["b"] - 1, r["code"] - 1] = r["cvec"]
    bd = C.shape[2]
    cw = max(nc, 32)
    scale = 10.0 ** quantize
    qd_by_list = {}
    for lid in probe:
        rq = q - cents[lid]
        rfp = np.asarray([math.floor(float(x) * scale + 0.5)
                          for x in rq], dtype=np.int64)
        qd_by_list[lid] = ((rfp.reshape(nb, 1, bd) - C) ** 2).sum(-1)

    vecs = spark.read.parquet(os.path.join(path, "vectors")) \
        .where(F.col("list_id").isin([int(x) for x in probe]))

    def kernel(batches):
        rng = np.arange(nb)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            lids = pdf["list_id"].to_numpy()
            adc = np.empty(len(pdf), dtype=np.int64)
            for lid in np.unique(lids):
                m = lids == lid
                adc[m] = qd_by_list[int(lid)][
                    rng[None, :], codes[m]].sum(-1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "list_id": lids, "adc_dist": adc})

    out = vecs.select(id_col, "list_id", "codes").mapInPandas(
        kernel, schema=f"{id_col} long, list_id int, adc_dist long")
    ranked = out.orderBy("adc_dist", id_col).limit(
        k if rerank_source is None else max(k, shortlist))
    if rerank_source is None:
        return ranked
    # Exact-rerank tier (round 9, the FAISS IVFPQR idea without extra
    # stored codes): the ADC shortlist is tiny (100s of ids), so one
    # column-pruned scan of the SOURCE table filtered to those ids +
    # an exact unit-vector distance fixes the PQ quantization ceiling
    # (measured: recall@10 0.2 → ~1.0 on the σ=1 overlapping-mixture
    # probe). The id filter pushes to the parquet scan; no shuffle,
    # no join — the shortlist rides the driver like the codebook.
    ids = [int(r[id_col]) for r in ranked.collect()]
    qcol = F.array(*[F.lit(float(v)) for v in q])
    src = rerank_source.where(F.col(id_col).isin(ids))
    varr = _as_double(F.col(vec_col))
    exact = (src
             .withColumn("_nrm", F.greatest(l2_norm(varr), F.lit(1e-300)))
             .withColumn("_u", F.transform(varr,
                                           lambda x: x / F.col("_nrm")))
             .select(F.col(id_col),
                     F.aggregate(
                         F.zip_with("_u", qcol, lambda x, y: (x - y) ** 2),
                         F.lit(0.0), lambda acc, v: acc + v)
                     .alias("exact_dist")))
    return exact.orderBy("exact_dist", id_col).limit(k)
