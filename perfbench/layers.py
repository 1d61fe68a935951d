"""Which public functions of the package are wrapped, and the per-layer
metrics computed from their spans (traced runs only).

Layer spans and what each wraps (README.md maps every per-layer metric
to the end-to-end metric it should move):

=========================  ===========================================
span                       wraps
=========================  ===========================================
session.start              session.get_spark (with worker prewarm)
sources.synthesize         synthesize_transcripts + shaping + writes
pipeline.features          pipeline.extract_features_at_cutoffs
pipeline.transform         pipeline.transform_transcript_features
operators.extract          RecursiveFeatureExtractor.extract_features
temporal.asof              temporal.asof.asof_join
roles.fit                  RoleExtractor.extract_role_factors
oracle.nmf, .quantize      oracle.rolx.nmf / oracle.rolx.encode
streaming.bootstrap        maintenance.bootstrap_feature_store
streaming.apply_delta      maintenance.apply_delta (one micro-batch)
=========================  ===========================================

Per-layer values are per timed rep, median over the run's timed reps;
``session.*`` and ``sources.*`` are set-up figures, one per run.
"""

from __future__ import annotations

import glob
import os
import statistics
from typing import Dict

import numpy as np

from spans import COUNTED_LAYERS, COUNTERS, spark_counters


def install(tracer, wl) -> None:
    if not tracer.enabled:
        return
    from graphrole_spark import pipeline
    from graphrole_spark.operators.recursion import RecursiveFeatureExtractor
    from graphrole_spark.oracle import rolx
    from graphrole_spark.roles.extract import RoleExtractor
    from graphrole_spark.streaming import maintenance
    from graphrole_spark.temporal import asof

    def lineage(rec, _out, args, _kw):
        lin = args[0].lineage
        rec.update(
            generations=len(lin),
            generated=sum(len(g["retained"]) + len(g["dropped"]) for g in lin),
            retained=sum(len(g["retained"]) for g in lin),
            histogram_s=sum(g.get("histogram_sec", 0.0) for g in lin),
            chebyshev_s=sum(g.get("chebyshev_sec", 0.0) for g in lin),
        )

    def served(rec, out, args, kw):
        right_ts = args[4] if len(args) > 4 else kw["right_ts"]
        with tracer.span("bench.probe"):
            rec["served"] = out.where(out[f"{right_ts}_asof"].isNotNull()).count()

    def delta(rec, _out, args, kw):
        store_dir = args[3] if len(args) > 3 else kw["store_dir"]
        with tracer.span("bench.probe"):
            convs = [r[0] for r in args[1].select("conv_id").distinct().collect()]
        import pyarrow.parquet as pq

        rewritten, rows = 0, 0
        for d in glob.glob(os.path.join(store_dir, "features", "__bucket=*")):
            files = glob.glob(os.path.join(d, "*.parquet"))
            if files and min(os.path.getmtime(f) for f in files) >= rec["start"]:
                rewritten += 1
                rows += sum(pq.read_metadata(f).num_rows for f in files)
        lengths = wl.inp.turns.groupby("conv_id").size()
        rec.update(
            dirty_bucket_frac=rewritten / maintenance.N_BUCKETS,
            write_amp=rows / max(1, sum(lengths[c] for c in convs)),
        )

    tracer.wrap(pipeline, "extract_features_at_cutoffs", "pipeline.features", materialize="persist")
    # the serving transform is one lazy plan feeding a bucketed write:
    # counted, not cached, so the store's file layout stays as untraced
    tracer.wrap(pipeline, "transform_transcript_features", "pipeline.transform", materialize="count")
    tracer.wrap(RecursiveFeatureExtractor, "extract_features", "operators.extract", after=lineage)
    tracer.wrap(asof, "asof_join", "temporal.asof", materialize="persist", after=served)
    tracer.wrap(RoleExtractor, "extract_role_factors", "roles.fit")
    tracer.wrap(rolx, "nmf", "oracle.nmf",
                after=lambda rec, _o, a, _k: rec.update(rows=int(np.shape(a[0])[0])))
    tracer.wrap(rolx, "encode", "oracle.quantize",
                after=lambda rec, _o, a, _k: rec.update(distinct=int(np.unique(a[0]).size)))
    tracer.wrap(maintenance, "bootstrap_feature_store", "streaming.bootstrap")
    tracer.wrap(maintenance, "apply_delta", "streaming.apply_delta", after=delta)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("write_amp"):
        return "ratio"
    return "count"


def per_layer(tracer, wl, log_dir: str) -> Dict[str, dict]:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    counters = spark_counters(log_dir, spans)
    reps = sorted({s["rep"] for s in spans if s["rep"].startswith("rep")}) or ["none"]

    def sel(rep, name, parent=None):
        return [s for s in spans if s["rep"] == rep and s["name"] == name
                and (parent is None or by_id.get(s["parent"], {}).get("name") == parent)]

    def dur(rep, name, parent=None):
        return sum(s["end"] - s["start"] for s in sel(rep, name, parent))

    def total(rep, name, key):
        return sum(s.get(key, 0) for s in sel(rep, name))

    def median_over_reps(fn):
        return statistics.median(fn(r) for r in reps)

    def median_over(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    batches = [s for s in spans if s["rep"] in reps and s["name"] == "streaming.apply_delta"]
    m = {
        "session.start_s": dur("setup", "session.start"),
        "sources.synthesize_s": dur("setup", "sources.synthesize"),
        "sources.turns": wl.inp.n_turns,
        "pipeline.features_s": median_over_reps(lambda r: dur(r, "pipeline.features")),
        "pipeline.entity_rows": median_over_reps(lambda r: total(r, "pipeline.features", "rows")),
        "pipeline.transform_s": median_over_reps(
            lambda r: dur(r, "pipeline.transform", parent="streaming.bootstrap")),
        "operators.generations": median_over_reps(lambda r: total(r, "operators.extract", "generations")),
        "operators.features_generated": median_over_reps(
            lambda r: total(r, "operators.extract", "generated")),
        "operators.features_retained": median_over_reps(
            lambda r: total(r, "operators.extract", "retained")),
        "operators.retained_frac": median_over_reps(
            lambda r: total(r, "operators.extract", "retained")
            / max(1, total(r, "operators.extract", "generated"))),
        "operators.histogram_s": median_over_reps(lambda r: total(r, "operators.extract", "histogram_s")),
        "operators.chebyshev_s": median_over_reps(lambda r: total(r, "operators.extract", "chebyshev_s")),
        "temporal.asof_s": median_over_reps(lambda r: dur(r, "temporal.asof")),
        "temporal.asof_served_frac": median_over_reps(
            lambda r: total(r, "temporal.asof", "served") / max(1, total(r, "temporal.asof", "rows"))),
        "roles.fit_s": median_over_reps(lambda r: dur(r, "roles.fit")),
        "roles.rows": median_over_reps(lambda r: total(r, "oracle.nmf", "rows")),
        "oracle.nmf_s": median_over_reps(lambda r: dur(r, "oracle.nmf")),
        "oracle.quantize_s": median_over_reps(lambda r: dur(r, "oracle.quantize")),
        "oracle.quantize_distinct": median_over_reps(lambda r: total(r, "oracle.quantize", "distinct")),
        "streaming.bootstrap_s": median_over_reps(lambda r: dur(r, "streaming.bootstrap")),
        "streaming.batches": median_over_reps(lambda r: len(sel(r, "streaming.apply_delta"))),
        "streaming.add_batch_p50_s": median_over(
            b for st in wl.rep_stats for b in st.get("add_batch_s", [])),
        "streaming.dirty_bucket_frac": median_over(b["dirty_bucket_frac"] for b in batches),
        "streaming.write_amp": median_over(b["write_amp"] for b in batches),
        "streaming.store_files": median_over(st["store_files"] for st in wl.rep_stats
                                             if "store_files" in st),
    }
    for layer in COUNTED_LAYERS:
        for c in COUNTERS:
            m[f"{layer}.{c}"] = median_over_reps(
                lambda r: sum(counters[s["id"]][c] for s in spans
                              if s["rep"] == r and s["name"].split(".")[0] == layer
                              and s["id"] in counters))
    return {k: {"value": v, "unit": _unit(k)} for k, v in m.items()}
