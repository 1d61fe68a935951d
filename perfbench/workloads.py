"""The workloads: setup, one rep, and the output checks.

Every call into the program goes through a module or class attribute
(``pipeline.extract_features_at_cutoffs``, ``maintenance.apply_delta``,
...) so that the traced run can wrap it from outside.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Dict, List, Tuple

import check
from inputs import Inputs, Shape, build

DEPTH = 4          # ReFeX generations
N_ROLES = 3

# Input sizes. A run is set-up (JVM start, inputs, a warm-up rep) plus
# one timed rep of 15-20 s on a 4-core host, about a minute in all, so
# that 48 runs of the two workloads fit in under an hour; Spark's fixed
# per-job costs are a large share of a rep at these sizes.
SHAPES = {
    "fit_pit": Shape(pool=1200, light=400, heavy=2, heavy_len=600, label_frac=0.5,
                     slice_light=30, slice_heavy_len=150),
    "serve_stream": Shape(pool=1000, light=320, heavy=1, heavy_len=600,
                          append_convs=80, append_files=2),
}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Workload:
    name = ""

    def __init__(self, spark, seed: int, scratch: str) -> None:
        self.spark = spark
        self.seed = seed
        self.scratch = scratch
        self.inp: Inputs = None
        self.rep_stats: List[dict] = []
        self.last = None   # label of the rep whose outputs the checks read

    def build_inputs(self) -> None:
        self.inp = build(self.spark, SHAPES[self.name], self.seed,
                         os.path.join(self.scratch, "inputs"))

    def setup(self) -> None:
        pass

    def rep(self, label: str) -> dict:
        raise NotImplementedError

    def checks(self) -> List[Tuple[str, List[str]]]:
        raise NotImplementedError

    def end_to_end(self) -> Dict[str, float]:
        """job_s: median rep wall time. turns_per_s: turns a rep reads
        over job_s. batch_p50_s: median time from an input batch to its
        committed output (here the whole table is one batch). output_mb:
        bytes one rep leaves on disk."""
        job = statistics.median(r["wall_s"] for r in self.rep_stats)
        return {
            "job_s": job,
            "turns_per_s": self.inp.n_turns / job,
            "batch_p50_s": job,
            "output_mb": statistics.median(r["output_bytes"] for r in self.rep_stats) / 1e6,
        }

    def _out(self, label: str, what: str) -> str:
        return os.path.join(self.scratch, "out", label, what)


class FitPit(Workload):
    """Nightly build: point-in-time features at three cutoffs over the
    heavy-tail table (shared scan, pruning, depth 4), written; the label
    table as-of joined to them, written; and role memberships per
    entity×cutoff (fixed role count, soft) over a small slice, written.
    Only this workload runs pruning, the as-of join and the roles layer."""

    name = "fit_pit"

    def rep(self, label: str) -> dict:
        from graphrole_spark import pipeline

        spark, inp = self.spark, self.inp
        # the warm-up rep runs every step on the small slice: the same
        # plans and code paths, so class loading, JIT and codegen are paid
        # before the timed rep
        table, cutoffs = ((inp.slice_dir, inp.slice_cutoffs) if label == "warmup"
                          else (inp.transcripts_dir, inp.cutoffs))
        feats = pipeline.extract_features_at_cutoffs(
            spark.read.parquet(table), cutoffs, share_scan=True, max_generations=DEPTH
        )
        feats.write.parquet(self._out(label, "features"))
        train = pipeline.assemble_training_set(
            spark.read.parquet(inp.labels_dir), feats, ["conv_id", "turn_idx"], "label_ts"
        )
        train.write.parquet(self._out(label, "train"))
        mem = pipeline.extract_roles_at_cutoffs(
            spark.read.parquet(inp.slice_dir), inp.slice_cutoffs,
            n_roles=N_ROLES, soft=True, max_generations=DEPTH,
        )
        mem.write.parquet(self._out(label, "memberships"))
        self.last = label
        return {"output_bytes": dir_bytes(self._out(label, ""))}

    def checks(self):
        spark, inp = self.spark, self.inp
        feats = spark.read.parquet(self._out(self.last, "features"))
        keys = feats.select("conv_id", "turn_idx", "cutoff_ts").toPandas()
        sample = feats.where(feats.conv_id.isin(inp.sample_convs)).toPandas()
        train = spark.read.parquet(self._out(self.last, "train")).toPandas()
        mem = spark.read.parquet(self._out(self.last, "memberships")).toPandas()
        cuts = list(check.seconds(inp.cutoffs))
        return [
            ("features", check.check_features(sample, inp.turns, cuts, inp.sample_convs)),
            ("coverage", check.check_coverage(keys, inp.turns, cuts)),
            ("asof", check.check_asof(train, inp.labels, inp.turns, cuts, inp.sample_convs)),
            ("memberships", check.check_memberships(mem)),
            ("roles coverage", check.check_coverage(
                mem, inp.slice_turns, list(check.seconds(inp.slice_cutoffs)))),
        ]


class ServeStream(Workload):
    """Serving: a frozen model (fitted in setup) bootstraps the bucketed
    feature store, then the append files drain one micro-batch per file,
    each batch starting after the previous one commits."""

    name = "serve_stream"

    def setup(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from graphrole_spark import pipeline

        base = self.spark.read.parquet(self.inp.transcripts_dir)
        _, self.model = pipeline.fit_transcript_features(base, max_generations=DEPTH)
        self.spark.catalog.clearCache()

        progress = self.progress = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    progress.append(dict(p.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    def rep(self, label: str) -> dict:
        from graphrole_spark.streaming import maintenance

        spark, inp = self.spark, self.inp
        if self.last:  # keep one store on disk at a time
            shutil.rmtree(self._out(self.last, ""))
        store = self._out(label, "store")
        base = spark.read.parquet(inp.transcripts_dir)
        # the warm-up rep drains one append file: bootstrap and one
        # micro-batch already run every code path of a rep
        source, n_files = (
            (inp.warmup_dir, 1) if label == "warmup" else (inp.appends_dir, len(inp.append_turns))
        )
        n_before = len(self.progress)
        maintenance.bootstrap_feature_store(spark, base, self.model, store)
        n = maintenance.maintain_available_now(
            spark, source, self.model, store,
            max_files_per_trigger=1, checkpoint_dir=self._out(label, "checkpoint"),
        )
        # progress events reach the listener asynchronously
        deadline = time.time() + 30
        while len(self.progress) < n_before + n and time.time() < deadline:
            time.sleep(0.05)
        batches = self.progress[n_before:]
        if n != n_files or len(batches) != n:
            raise RuntimeError(f"{n} micro-batches, {len(batches)} progress events "
                               f"for {n_files} append files")
        self.last = label
        return {
            "batch_s": [b["triggerExecution"] / 1000.0 for b in batches],
            "add_batch_s": [b.get("addBatch", 0) / 1000.0 for b in batches],
            "output_bytes": dir_bytes(store),
            "store_files": sum(
                f.endswith(".parquet")
                for _d, _s, fs in os.walk(os.path.join(store, "features")) for f in fs
            ),
        }

    def end_to_end(self):
        out = super().end_to_end()
        out["batch_p50_s"] = statistics.median(b for r in self.rep_stats for b in r["batch_s"])
        return out

    def checks(self):
        from graphrole_spark.streaming import maintenance

        store = self._out(self.last, "store")
        feats = maintenance.read_features(self.spark, store).toPandas()
        turns = self.spark.read.parquet(os.path.join(store, "turns")).toPandas()
        return [("store", check.check_store(feats, turns, self.inp.turns, self.inp.sample_convs))]


WORKLOADS = {w.name: w for w in (FitPit, ServeStream)}
