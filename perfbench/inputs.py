"""Seeded benchmark inputs.

Every table is built from ``--seed`` alone: the package's own
``synthesize_transcripts`` makes a pool of conversations, and a seeded
plan keeps light conversations in equal numbers of each length 2..41
plus a fixed number of heavy-tail conversations cut to a fixed length.
The seed picks which conversations (their session gaps and start times
differ), while the turn count stays the same for every seed; the cutoffs
sit at fixed quantiles of the turn timestamps, so the entity×cutoff row
count stays nearly the same as well.

All inputs are written as parquet; the program only ever reads those
files. The same plan (``Inputs.turns``, a pandas frame) feeds the
independent checker.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
from dataclasses import dataclass, field
from typing import List, Optional

import numpy as np
import pandas as pd

from check import seconds

HEAVY_MIN = 42    # synthesize_transcripts: light conversations have 2..41 turns
HEAVY_EVERY = 50  # one conversation in ~50 is heavy (50x its base length)
LIGHT_LENS = HEAVY_MIN - 2  # light lengths 2..41, kept in equal numbers
CUT_Q = (0.6, 0.8, 1.0)     # cutoffs: quantiles of the turn timestamps


@dataclass(frozen=True)
class Shape:
    pool: int            # conversations synthesized
    light: int           # light conversations kept
    heavy: int           # heavy-tail conversations kept
    heavy_len: int       # turns each heavy conversation is cut to
    label_frac: float = 0.0          # share of turns that get a label row
    append_convs: int = 0            # conversations with withheld tails
    append_files: int = 0            # append files they are split into
    slice_light: int = 0             # roles slice: light conversations
    slice_heavy_len: int = 0         # roles slice: turns of its heavy conversation


@dataclass
class Inputs:
    turns: pd.DataFrame              # every turn, all columns, ts as float s
    transcripts_dir: str             # base table (all turns minus appends)
    cutoffs: List[dt.datetime]
    labels_dir: Optional[str] = None
    labels: Optional[pd.DataFrame] = None
    appends_dir: Optional[str] = None
    warmup_dir: Optional[str] = None
    slice_dir: Optional[str] = None
    slice_turns: Optional[pd.DataFrame] = None
    slice_cutoffs: List[dt.datetime] = field(default_factory=list)
    append_turns: List[pd.DataFrame] = field(default_factory=list)
    sample_convs: List[str] = field(default_factory=list)

    @property
    def n_turns(self) -> int:
        return len(self.turns)


def _from_seconds(x: float) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(round(x * 1e6)))


def _stratified(rng, by_len, lens) -> List[str]:
    """One distinct conversation per entry of ``lens``, drawn from the
    conversations of that length: the seed picks which conversations,
    the length profile (and so the turn count) stays the same."""
    out = []
    for n in sorted(set(lens)):
        out += list(rng.choice(list(by_len[n]), lens.count(n), replace=False))
    return out


def build(spark, shape: Shape, seed: int, out_dir: str) -> Inputs:
    """Synthesize, shape and write the inputs of one workload."""
    from graphrole_spark.sources.transcripts import synthesize_transcripts

    rng = np.random.default_rng(seed)
    pool = shape.pool
    light_lens = [2 + i % LIGHT_LENS for i in range(shape.light)]
    while True:  # a seed with too few conversations of some length doubles the pool
        raw = synthesize_transcripts(spark, pool, seed=seed, heavy_tail_every=HEAVY_EVERY)
        schema = raw.schema
        raw = raw.toPandas()
        lengths = raw.groupby("conv_id").size()
        heavy = lengths.index[lengths >= shape.heavy_len].to_numpy()
        light = lengths[lengths < HEAVY_MIN]
        by_len = light.groupby(light).groups
        if len(heavy) >= shape.heavy and all(
            len(by_len.get(n, [])) >= light_lens.count(n) for n in set(light_lens)
        ):
            break
        pool *= 2
    light_kept = _stratified(rng, by_len, light_lens)
    heavy_kept = list(rng.choice(heavy, shape.heavy, replace=False))
    keep = light_kept + heavy_kept
    turns = raw[raw["conv_id"].isin(keep) & (raw["turn_idx"] < shape.heavy_len)]
    turns = turns.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    turns["ts_s"] = seconds(turns["ts"])

    # tails withheld from a seeded subset of light conversations become
    # the append files (each conversation's whole tail lands in one file)
    append_turns: List[pd.DataFrame] = []
    is_append = np.zeros(len(turns), dtype=bool)
    if shape.append_files:
        n_per = turns.groupby("conv_id")["turn_idx"].transform("size").to_numpy()
        eligible = np.array(
            sorted(set(turns.loc[n_per >= 6, "conv_id"]) & set(light_kept))
        )
        chosen = rng.choice(eligible, shape.append_convs, replace=False)
        tail = {c: int(rng.integers(2, 5)) for c in chosen}
        which = {c: i % shape.append_files for i, c in enumerate(chosen)}
        t_len = turns["conv_id"].map(tail).fillna(0).to_numpy()
        is_append = turns["turn_idx"].to_numpy() >= n_per - t_len
        for k in range(shape.append_files):
            sel = is_append & (turns["conv_id"].map(which).to_numpy() == k)
            append_turns.append(turns[sel])

    def cutoffs_of(ts):
        return [_from_seconds(np.floor(np.quantile(ts, q))) for q in CUT_Q]

    base_ts = turns.loc[~is_append, "ts_s"].to_numpy()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    tx_dir = os.path.join(out_dir, "transcripts")
    spark.createDataFrame(turns.loc[~is_append, cols], schema).write.parquet(tx_dir)

    inp = Inputs(turns=turns, transcripts_dir=tx_dir, cutoffs=cutoffs_of(base_ts),
                 append_turns=append_turns)

    if shape.slice_light:
        # the roles slice: a few of the kept light conversations and the
        # head of one heavy conversation, with cutoffs of its own
        kept_by_len = {n: [c for c in light_kept if lengths[c] == n] for n in set(light_lens)}
        slice_lens = [2 + round(i * (LIGHT_LENS - 1) / max(1, shape.slice_light - 1))
                      for i in range(shape.slice_light)]
        convs = _stratified(rng, kept_by_len, slice_lens) + heavy_kept[:1]
        sl = turns[turns["conv_id"].isin(convs) & (turns["turn_idx"] < shape.slice_heavy_len)]
        inp.slice_turns = sl.reset_index(drop=True)
        inp.slice_cutoffs = cutoffs_of(sl["ts_s"].to_numpy())
        inp.slice_dir = os.path.join(out_dir, "slice")
        spark.createDataFrame(sl[cols], schema).write.parquet(inp.slice_dir)

    if shape.label_frac:
        lab = turns[rng.random(len(turns)) < shape.label_frac][["conv_id", "turn_idx", "ts_s"]]
        span = base_ts.max() - base_ts.min()
        label_s = np.floor(lab["ts_s"].to_numpy() + rng.uniform(0, 0.5 * span, len(lab)))
        labels = pd.DataFrame(
            {
                "conv_id": lab["conv_id"].to_numpy(),
                "turn_idx": lab["turn_idx"].to_numpy().astype("int32"),
                "label_ts": pd.to_datetime(label_s, unit="s"),
                "label": rng.integers(0, 2, len(lab)).astype("int32"),
            }
        )
        inp.labels_dir = os.path.join(out_dir, "labels")
        spark.createDataFrame(
            labels, "conv_id string, turn_idx int, label_ts timestamp, label int"
        ).write.parquet(inp.labels_dir)
        inp.labels = labels.assign(label_s=label_s)

    if append_turns:
        inp.appends_dir = os.path.join(out_dir, "appends")
        os.makedirs(inp.appends_dir)
        for k, part in enumerate(append_turns):
            stage = os.path.join(out_dir, f"stage{k}")
            spark.createDataFrame(part[cols], schema).coalesce(1).write.parquet(stage)
            (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            dst = os.path.join(inp.appends_dir, f"append{k:03d}.parquet")
            shutil.move(src, dst)
            # the file source orders by modification time: pin file order
            os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
            shutil.rmtree(stage)
        # the untimed warm-up rep drains the first file only
        inp.warmup_dir = os.path.join(out_dir, "appends_warmup")
        os.makedirs(inp.warmup_dir)
        shutil.copy2(os.path.join(inp.appends_dir, "append000.parquet"), inp.warmup_dir)

    # checker sample: seeded light conversations (some with appended
    # tails when there are appends) plus one heavy-tail conversation
    appended = [c for part in append_turns for c in part["conv_id"].unique()]
    sample = list(rng.choice(light_kept, min(12, len(light_kept)), replace=False))
    if appended:
        sample += list(rng.choice(appended, min(8, len(appended)), replace=False))
    inp.sample_convs = sorted(set(sample)) + heavy_kept[:1]
    return inp
