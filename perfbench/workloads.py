"""The benchmark workloads. Each is closed loop with one client: the
next operation starts only after the previous one returned.

dod_survey runs the paper's batch chain and the streaming DoD in every
op (`DodPair` and `DodStream` are its two halves); query_mix runs
registry queries. The two DEM paths share one workload so that, in a
fixed time budget for all runs of all workloads, each run has more timed
work: every run pays ~5 s of JVM start and ~30 s of warm-up, and with
three workloads too little timed work was left for steady figures on a
shared 4-core host.

A workload builds its seeded inputs in `prepare`, runs one operation
per `op` call (the part that is timed, ending with the benchmark's own
final action on the result), and judges each result in `check`, which
runs outside the timed region. `trace_targets` names the repository
functions a traced run wraps in spans.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs

PAIR_PX = 128          # DodPair raster edge (pixels)
STREAM_PX = 256        # DodStream raster edge (pixels)
STREAM_TILE = 64       # DodStream tile edge: 16 tile files, 8 triggers
FILES_PER_TRIGGER = 2

# query_mix: registry queries with a DuckDB oracle that reach every
# extension module (curation, dedup, similarity, text, multimodal) and
# the plans modules; five of them fire eager jobs while their plan is
# built (dedup_containment 21). mm_pack is the only declared query that
# goes through extensions.multimodal. The heavy curation trio
# (curation_funnel, sim_pair_pack, text_doc_pack) is left out: at this
# shape its cold pass alone takes about 30 s and a warm one 11 s.
QUERY_MIX = [
    "sc_scalar_pack", "a6_median_bias", "a8_rms", "w11_transitions",
    "text_quality", "curation_split", "f6_percentile_clip",
    "curation_pareto", "sim_cosine_topk", "so2_anti_join",
    "emb_random_projection", "dedup_containment", "mm_pack",
]


def _vhash(pdf) -> str:
    """Order-insensitive value hash of a result frame (the registry's
    oracle comparison)."""
    pdf = pdf[sorted(pdf.columns)].astype(str)
    rows = sorted(repr(tuple(r)) for r in pdf.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


class Workload:
    """Defaults shared by the workloads."""

    # consecutive timed ops whose summed latency is one latency sample
    # of the end-to-end metrics (the workload's "operation"); the timed
    # loop completes whole samples
    ops_per_sample = 1
    # ops run during set-up, untimed. One dod_survey warm op runs both
    # halves cold (~25 s) and leaves its timed ops within 5-15% of later
    # ones; a second would take 12 s more of every run's time budget
    warm_ops = 1
    px_per_op = 0       # DEM pixels one op analyses
    extra_groups: tuple = ()  # (job group, span id, module), see op_layers

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = (spark, work, seed,
                                                         tracer)

    def trace_targets(self) -> list:
        return []

    def extra_layers(self) -> dict[str, float]:
        """Layer metrics of the last traced op read from the workload
        itself rather than from spans and jobs."""
        return {}

    def check_all(self, outs) -> list[bool]:
        return [self.check(o) for o in outs]


class DodPair(Workload):
    """One `pipeline.analyze_pair` call per seeded DEM pair, read from
    parquet, plus the benchmark's read of the zonal result. Ops cycle
    through `n_pairs` seeded pairs, so at the benchmark's run length no
    op sees a pair an earlier op saw, as in a survey loop: no generated
    code is reused from an earlier identical input."""

    n_pairs = 8
    px_per_op = PAIR_PX * PAIR_PX

    def _seed(self, k: int) -> int:
        return inputs.fixture_seed(self.seed * 101 + k)

    def _fixture(self, k: int):
        return inputs.dem_pair(PAIR_PX, self._seed(k))

    def input_hash(self) -> str:
        return inputs.input_hash([self._fixture(k).pixels
                                  for k in range(self.n_pairs)])

    def prepare(self) -> None:
        from error_analysis_spark.fixtures import GridSpec
        self.pairs = []
        for k in range(self.n_pairs):
            fx = self._fixture(k)
            path = os.path.join(self.work, f"pair{k}.parquet")
            pq.write_table(pa.Table.from_pandas(fx.pixels,
                                                preserve_index=False), path)
            zpath = os.path.join(self.work, f"zones{k}.parquet")
            pq.write_table(pa.Table.from_pandas(fx.zones,
                                                preserve_index=False), zpath)
            g = GridSpec("g", PAIR_PX, PAIR_PX, fx.truth["x0"],
                         fx.truth["y0"], fx.truth["res"])
            self.pairs.append((path, zpath, g, fx, self._seed(k)))

    def trace_targets(self):
        import error_analysis_spark.pipeline as PL
        from perfbench.layers import PAIR_STEPS
        import importlib
        out = [(PL, "analyze_pair", "pipeline.analyze_pair")]
        for mod, fn in PAIR_STEPS:
            out.append((importlib.import_module(mod), fn, f"operators.{fn}"))
        return out

    def op(self, i: int):
        from pyspark.sql import functions as F
        from error_analysis_spark import cachereg
        from error_analysis_spark import pipeline
        path, zpath, g, fx, seed = self.pairs[i % self.n_pairs]
        px = self.spark.read.parquet(path)
        ref = px.where(F.col("dataset_id") == "reference_dem")
        cmp_ = px.where(F.col("dataset_id") == "compare_dem")
        res = pipeline.analyze_pair(ref, cmp_, g, g,
                                    self.spark.read.parquet(zpath), seed=seed)
        with self.tracer.span("bench.final"):
            zonal = res.zonal.toPandas()
        self.final_dfs = [res.zonal]
        res.zonal.unpersist()
        res.dod.unpersist()
        cachereg.release_tracked()
        return {"fixture": fx, "bias": res.bias, "rms": res.rms,
                "zonal": zonal, "fit": res.fit, "sigma_a": res.sigma_a}

    def check(self, out) -> bool:
        """Bias (median of stable Δz), RMS and per-zone n/mean against a
        numpy recomputation from the fixture arrays (n exact, values
        within 1e-9 relative); the fitted sill and σ_A within the
        tolerances of tests/test_pipeline.py."""
        fx = out["fixture"]
        dz, zone = _dz_by_zone(fx)
        unstable = set(fx.zones.loc[fx.zones["kind"] == "unstable",
                                    "zone_id"])
        stable = dz[~dz.index.isin(zone[zone.isin(unstable)].index)]
        bias = float(np.median(stable))
        ok = _close(out["bias"], bias)
        ok &= _close(out["rms"], float(np.sqrt(np.mean((stable - bias) ** 2))))
        zonal = out["zonal"].set_index("zone_id")
        want = zone.to_frame().join(dz.rename("dz"), how="inner") \
            .groupby("zone_id")["dz"]
        ok &= sorted(zonal.index) == sorted(want.groups)
        for z, v in want:
            ok &= z in zonal.index and int(zonal.loc[z, "n"]) == len(v) \
                and _close(zonal.loc[z, "mean"], float(v.mean()) - out["bias"])
        fit = out["fit"]
        sill = float(np.sum(fit["params"][:int(fit["n_comp"])]))
        if bool(fit["nugget"]):
            sill += float(fit["params"][-1])
        ok &= 0.01 < sill < 0.12
        ok &= set(out["sigma_a"]) == unstable
        ok &= all(0 < v < 0.5 for v in out["sigma_a"].values())
        return bool(ok)


def _close(got: float, want: float) -> bool:
    return bool(np.isclose(got, want, rtol=1e-9, atol=1e-12))


def _dz_by_zone(fx):
    """(Δz = compare − reference on co-valid pixels, zone of each member
    pixel), both indexed by (row, col), from the fixture's own arrays and
    oracle membership."""
    px = fx.pixels.set_index(["row", "col"])
    ref = px.loc[px["dataset_id"] == "reference_dem", "value"]
    cmp_ = px.loc[px["dataset_id"] == "compare_dem", "value"]
    dz = (cmp_ - ref).dropna()
    return dz, fx.membership.set_index(["row", "col"])["zone_id"]


class DodStream(Workload):
    """Reference written through `sources.pixel_store`, compare DEM
    arriving as 64×64 tile files, `stream_pixels → incremental_dod →
    running_zonal_stats` drained with availableNow into a memory sink."""

    px_per_op = STREAM_PX * STREAM_PX

    def _fixture(self):
        return inputs.dem_pair(STREAM_PX, inputs.fixture_seed(self.seed))

    def input_hash(self) -> str:
        return inputs.input_hash([
            self._fixture().pixels,
            inputs.tile_order(STREAM_PX, STREAM_TILE, self.seed)])

    def prepare(self) -> None:
        fx = self._fixture()
        self.fx = fx
        self.tiles = os.path.join(self.work, "tiles")
        inputs.write_compare_tiles(fx, STREAM_PX, STREAM_TILE, self.tiles,
                                   self.seed)
        ref = fx.pixels[fx.pixels["dataset_id"] == "reference_dem"]
        rpath = os.path.join(self.work, "reference.parquet")
        pq.write_table(pa.Table.from_pandas(ref, preserve_index=False), rpath)
        mpath = os.path.join(self.work, "membership.parquet")
        pq.write_table(pa.Table.from_pandas(fx.membership,
                                            preserve_index=False), mpath)
        self.ref_src = self.spark.read.parquet(rpath)
        self.member = self.spark.read.parquet(mpath)

    def trace_targets(self):
        from error_analysis_spark.sources import pixel_store as PS
        from error_analysis_spark.streaming import incremental as INC
        return [(PS, "write_pixels", "sources.write_pixels"),
                (PS, "read_pixels", "sources.read_pixels"),
                (INC, "stream_pixels", "streaming.stream_pixels"),
                (INC, "incremental_dod", "streaming.incremental_dod"),
                (INC, "running_zonal_stats",
                 "streaming.running_zonal_stats")]

    def op(self, i: int):
        from error_analysis_spark import cachereg
        from error_analysis_spark.sources import pixel_store as PS
        from error_analysis_spark.streaming import incremental as INC
        base = os.path.join(self.work, f"op{i}")
        PS.write_pixels(self.ref_src, os.path.join(base, "ref"))
        ref = PS.read_pixels(self.spark, os.path.join(base, "ref"),
                             "reference_dem")
        stream = INC.stream_pixels(self.spark, self.tiles,
                                   max_files_per_trigger=FILES_PER_TRIGGER)
        stats = INC.running_zonal_stats(INC.incremental_dod(stream, ref),
                                        self.member)
        table = f"perfbench_zonal_{i}"
        with self.tracer.span("bench.drain") as sp:
            q = (stats.writeStream.outputMode("complete").format("memory")
                 .queryName(table)
                 .option("checkpointLocation", os.path.join(base, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        self.extra_groups = [(str(q.runId), sp and sp["id"],
                              "streaming.incremental")]
        with self.tracer.span("bench.final"):
            final = self.spark.table(table)
            got = final.toPandas()
        self.final_dfs = [final]
        self.progress = [p if isinstance(p, dict) else json.loads(p.json)
                         for p in q.recentProgress]
        self.spark.catalog.dropTempView(table)
        cachereg.release_tracked()
        return got

    def check(self, got) -> bool:
        """Per-zone n, Σdz and Σdz² against a numpy recomputation from
        the fixture arrays: n exact, sums within 1e-9 relative."""
        dz, zone = _dz_by_zone(self.fx)
        joined = zone.to_frame().join(dz.rename("dz"), how="inner")
        want = joined.groupby("zone_id")["dz"].agg(
            n="count", s="sum", s2=lambda v: float(np.sum(v * v)))
        got = got.set_index("zone_id")
        if sorted(got.index) != sorted(want.index):
            return False
        for z, w in want.iterrows():
            g = got.loc[z]
            n = int(g["n"])
            if n != int(w["n"]):
                return False
            if not (_close(g["mean_dz"] * n, w["s"])
                    and _close(g["rms_dz"] ** 2 * n, w["s2"])):
                return False
        return True

    def extra_layers(self) -> dict[str, float]:
        """State-store and trigger metrics from the last drain's
        `recentProgress`."""
        progress = self.progress
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3
                for p in progress if p.get("numInputRows", 0) > 0]
        commit = rows = mem = 0.0
        for p in progress:
            for s in p.get("stateOperators", []):
                commit += s.get("commitTimeMs", 0) / 1e3
        last = progress[-1].get("stateOperators", []) if progress else []
        for s in last:
            rows += s.get("numRowsTotal", 0)
            mem += s.get("memoryUsedBytes", 0) / 2 ** 20
        return {"streaming.triggers": float(len(trig)),
                "streaming.trigger_p50_s":
                    float(np.median(trig)) if trig else 0.0,
                "streaming.state_commit_s": commit,
                "streaming.state_rows": rows, "streaming.state_mb": mem}


class DodSurvey(Workload):
    """One op is one survey step: a seeded DEM pair through
    `pipeline.analyze_pair` (`DodPair`), then a seeded DEM streamed tile
    by tile through the streaming DoD (`DodStream`). A change that
    speeds the batch chain but slows writes or state commits shows in
    the same op."""

    name = "dod_survey"
    px_per_op = DodPair.px_per_op + DodStream.px_per_op

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, seed, tracer)
        self.pair = DodPair(spark, work, seed, tracer)
        self.stream = DodStream(spark, work, seed, tracer)

    def input_hash(self) -> str:
        return hashlib.md5((self.pair.input_hash()
                            + self.stream.input_hash()).encode()).hexdigest()

    def prepare(self) -> None:
        self.pair.prepare()
        self.stream.prepare()

    def trace_targets(self):
        return self.pair.trace_targets() + self.stream.trace_targets()

    def op(self, i: int):
        out = self.pair.op(i), self.stream.op(i)
        self.final_dfs = self.pair.final_dfs + self.stream.final_dfs
        return out

    def check(self, out) -> bool:
        return self.pair.check(out[0]) and self.stream.check(out[1])

    @property
    def extra_groups(self):
        return self.stream.extra_groups

    def extra_layers(self) -> dict[str, float]:
        return self.stream.extra_layers()


class QueryMix(Workload):
    """Seed-shuffled passes over QUERY_MIX on seeded registry tables.
    One op is one query (build its plan, then collect it); its output
    check, trace and `attempted` count are per query. The end-to-end
    latency sample is one pass over the 13 queries: their warm
    latencies run from 0.15 s to 2.7 s with gaps between neighbours, so
    the median of single queries jumps from one query to the next
    between runs (a 0.32 spread over 5 seeds), while a pass time is a
    sum that moves with every query."""

    name = "query_mix"
    # the cold first pass runs 3× a warm one and is set-up
    warm_ops = len(QUERY_MIX)
    ops_per_sample = len(QUERY_MIX)

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, seed, tracer)
        self.sf = os.path.join(work, "sf")

    def input_hash(self) -> str:
        return inputs.input_hash(inputs.registry_tables(self.seed))

    def prepare(self) -> None:
        import __spark_entry__ as E
        inputs.write_registry_tables(self.seed, self.sf)
        self.queries = E.queries()
        self.oracle = E.oracle_sql()
        self.order: list[str] = []
        self.passes = 0

    def next_name(self, i: int) -> str:
        if i >= len(self.order):
            names = list(QUERY_MIX)
            random.Random(self.seed * 7919 + self.passes).shuffle(names)
            self.order.extend(names)
            self.passes += 1
        return self.order[i]

    def trace_targets(self):
        from perfbench.layers import EXTENSION_MODULES, OPERATOR_MODULES
        from perfbench.trace import public_functions
        return public_functions(
            [f"operators.{m}" for m in OPERATOR_MODULES]
            + [f"extensions.{m}" for m in EXTENSION_MODULES])

    def op(self, i: int):
        name = self.next_name(i)
        with self.tracer.span("plans.build"):
            df = self.queries[name](self.spark, self.sf)
        with self.tracer.span("bench.final"):
            pdf = df.toPandas()
        self.final_dfs = [df]
        return name, pdf

    def check_all(self, outs) -> list[bool]:
        """Value hash of every result against its DuckDB oracle on the
        same files."""
        import duckdb
        con = duckdb.connect()
        try:
            for t in inputs.REGISTRY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf, t)}.parquet'")
            want = {}
            for name in {n for n, _p in outs}:
                odf = con.execute(self.oracle[name]).df()
                want[name] = (len(odf), _vhash(odf))
        finally:
            con.close()
        return [(len(pdf), _vhash(pdf)) == want[name] for name, pdf in outs]


WORKLOADS = {w.name: w for w in (DodSurvey, QueryMix)}
