"""Independent output checks, in numpy, from the raw turns.

Nothing here imports the package: every expected value is recomputed
from the generated turns and the cutoff list with the closed forms of
the lag-1 chain graph, so a fault in the engine cannot hide in a shared
helper. Each ``check_*`` function returns a list of problems; an empty
list is a pass.

Feature columns are checked by name, whatever pruning kept: a name such
as ``attribute_turn_pos(sum)(mean)`` is parsed from the right and
evaluated as the mean over the lag/lead neighbours of
``attribute_turn_pos(sum)``, down to a generation-0 seed.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Optional, Sequence

import numpy as np
import pandas as pd

SESSION_GAP_S = 1800.0
KEYS = ["conv_id", "turn_idx"]
_AGG = re.compile(r"^(.*)\((sum|mean)\)$")


def seconds(values) -> np.ndarray:
    """Timestamps (pandas datetimes, naive UTC, or datetime objects) as
    float seconds since the epoch."""
    s = pd.Series(pd.to_datetime(pd.Series(values))).astype("datetime64[us]")
    out = s.astype("int64").to_numpy() / 1e6
    out[s.isna().to_numpy()] = np.nan   # no cutoff served
    return out


def _neighbours(v: np.ndarray):
    prev = np.concatenate([[np.nan], v[:-1]])
    nxt = np.concatenate([v[1:], [np.nan]])
    return prev, nxt


def _seeds(conv: pd.DataFrame) -> Dict[str, np.ndarray]:
    """Generation-0 features of one conversation prefix, sorted by turn."""
    n = len(conv)
    i = np.arange(n, dtype=float)
    last = n - 1
    has_prev, has_next = (i > 0).astype(float), (i < last).astype(float)
    ts = conv["ts_s"].to_numpy()
    new_session = np.concatenate([[0], (np.diff(ts) > SESSION_GAP_S).astype(int)])
    session = np.cumsum(new_session)
    tool = conv["tool"].fillna("").to_numpy()
    role = conv["role"].to_numpy()
    return {
        "degree": has_prev + has_next,
        "internal_edges": has_prev + has_next,
        "external_edges": (i > 1).astype(float) + (i < last - 1).astype(float),
        "attribute_text_len": conv["text"].str.len().to_numpy(dtype=float),
        "attribute_is_tool": (tool != "").astype(float),
        "attribute_is_user": (role == "user").astype(float),
        "attribute_is_assistant": (role == "assistant").astype(float),
        "attribute_session_size": np.bincount(session)[session].astype(float),
        "attribute_turn_pos": conv["turn_idx"].to_numpy(dtype=float),
    }


def feature_values(name: str, seeds: Dict[str, np.ndarray], memo: Dict) -> np.ndarray:
    """Evaluate one feature name over a conversation prefix."""
    if name in memo:
        return memo[name]
    if name in seeds:
        return seeds[name]
    m = _AGG.match(name)
    if not m:
        raise KeyError(f"unknown feature '{name}'")
    prev, nxt = _neighbours(feature_values(m.group(1), seeds, memo))
    total = np.nan_to_num(prev) + np.nan_to_num(nxt)
    if m.group(2) == "sum":
        out = total
    else:
        cnt = (~np.isnan(prev)).astype(float) + (~np.isnan(nxt)).astype(float)
        out = np.divide(total, cnt, out=np.zeros_like(total), where=cnt > 0)
    memo[name] = out
    return out


def expected_frame(
    turns: pd.DataFrame, names: Sequence[str], cutoff_s: Optional[float] = None
) -> pd.DataFrame:
    """Expected feature rows for ``turns`` (any set of whole conversations)
    as of ``cutoff_s`` (None: every turn)."""
    parts = []
    t = turns if cutoff_s is None else turns[turns["ts_s"] <= cutoff_s]
    for conv_id, conv in t.sort_values(KEYS).groupby("conv_id", sort=False):
        seeds, memo = _seeds(conv), {}
        part = {"conv_id": conv_id, "turn_idx": conv["turn_idx"].to_numpy()}
        for name in names:
            part[name] = feature_values(name, seeds, memo)
        parts.append(pd.DataFrame(part))
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=KEYS + list(names))


def _compare(label: str, got: pd.DataFrame, exp: pd.DataFrame, names) -> List[str]:
    got = got.sort_values(KEYS).reset_index(drop=True)
    exp = exp.sort_values(KEYS).reset_index(drop=True)
    if len(got) != len(exp) or not (
        (got["conv_id"].to_numpy() == exp["conv_id"].to_numpy()).all()
        and (got["turn_idx"].to_numpy() == exp["turn_idx"].to_numpy()).all()
    ):
        return [f"{label}: {len(got)} rows, expected {len(exp)} (key sets differ)"]
    bad = []
    for name in names:
        g = got[name].to_numpy(dtype=float)
        e = exp[name].to_numpy(dtype=float)
        if not np.allclose(g, e, rtol=1e-9, atol=1e-9):
            k = int(np.argmax(~np.isclose(g, e, rtol=1e-9, atol=1e-9)))
            bad.append(
                f"{label}: {name} at {got.loc[k, 'conv_id']}#{got.loc[k, 'turn_idx']}"
                f" is {g[k]!r}, expected {e[k]!r}"
            )
    return bad


def feature_names(columns: Iterable[str], suffix: str = "") -> List[str]:
    skip = set(KEYS) | {"cutoff_ts", "label_ts", "label", "__bucket"}
    return [c[: len(c) - len(suffix)] for c in columns
            if c not in skip and c.endswith(suffix) and not c.startswith("cutoff_ts")]


def check_features(
    feats: pd.DataFrame, turns: pd.DataFrame, cutoffs_s: Sequence[float], sample: Sequence[str]
) -> List[str]:
    """Every feature column of the sampled conversations, per cutoff."""
    names = feature_names(feats.columns)
    if not names:
        return ["features: no feature columns"]
    feats = feats[feats["conv_id"].isin(sample)]
    got_cut = seconds(feats["cutoff_ts"])
    raw = turns[turns["conv_id"].isin(sample)]
    bad = []
    for c in cutoffs_s:
        bad += _compare(
            f"features@{c:.0f}", feats[got_cut == c], expected_frame(raw, names, c), names
        )
    return bad


def check_coverage(
    keys: pd.DataFrame, turns: pd.DataFrame, cutoffs_s: Sequence[float]
) -> List[str]:
    """Per cutoff, the entity set is exactly the turns with ts <= cutoff,
    once each; no row carries a cutoff outside the list."""
    got_cut = seconds(keys["cutoff_ts"])
    bad = []
    stray = ~np.isin(got_cut, np.asarray(cutoffs_s))
    if stray.any():
        bad.append(f"coverage: {int(stray.sum())} rows at a cutoff not in the list")
    for c in cutoffs_s:
        got = keys[got_cut == c]
        exp = turns[turns["ts_s"] <= c]
        if got.duplicated(KEYS).any():
            bad.append(f"coverage@{c:.0f}: duplicate entity rows")
        g = set(zip(got["conv_id"], got["turn_idx"].astype(int)))
        e = set(zip(exp["conv_id"], exp["turn_idx"].astype(int)))
        if g != e:
            bad.append(
                f"coverage@{c:.0f}: {len(g - e)} rows beyond the cutoff or unknown, "
                f"{len(e - g)} turns missing"
            )
    return bad


def served_cutoff(turn_s: np.ndarray, label_s: np.ndarray, cutoffs_s) -> np.ndarray:
    """Latest cutoff in [turn ts, label ts] per label row (NaN if none)."""
    cuts = np.sort(np.asarray(cutoffs_s, dtype=float))
    out = np.full(len(turn_s), np.nan)
    for c in cuts:  # ascending: the last qualifying cutoff wins
        ok = (c >= turn_s) & (c <= label_s)
        out[ok] = c
    return out


def check_asof(
    train: pd.DataFrame, labels: pd.DataFrame, turns: pd.DataFrame,
    cutoffs_s: Sequence[float], sample: Sequence[str],
) -> List[str]:
    """One output row per label; each served the latest cutoff in
    [turn ts, label ts]; sampled rows carry that cutoff's features."""
    bad = []
    if len(train) != len(labels):
        bad.append(f"asof: {len(train)} rows for {len(labels)} labels")
    lab = labels.merge(turns[KEYS + ["ts_s"]], on=KEYS, how="left")
    exp = lab.assign(exp_s=served_cutoff(lab["ts_s"].to_numpy(), lab["label_s"].to_numpy(), cutoffs_s))
    got = train.assign(label_s=seconds(train["label_ts"]), got_s=seconds(train["cutoff_ts_asof"]))
    m = got.merge(exp[KEYS + ["label_s", "exp_s"]], on=KEYS + ["label_s"], how="outer", indicator=True)
    if (m["_merge"] != "both").any():
        bad.append(f"asof: {int((m['_merge'] != 'both').sum())} label rows unmatched")
    both = m[m["_merge"] == "both"]
    g, e = both["got_s"].to_numpy(dtype=float), both["exp_s"].to_numpy(dtype=float)
    wrong = ~((np.isnan(g) & np.isnan(e)) | (g == e))
    if wrong.any():
        bad.append(f"asof: {int(wrong.sum())} label rows served the wrong cutoff")
    names = feature_names(train.columns, "_asof")
    samp = both[both["conv_id"].isin(sample) & ~np.isnan(e)]
    raw = turns[turns["conv_id"].isin(sample)]
    for c in cutoffs_s:
        rows = samp[samp["exp_s"] == c]
        if len(rows):
            ref = expected_frame(raw, names, c).merge(rows[KEYS], on=KEYS)
            got_rows = rows[KEYS + [f"{n}_asof" for n in names]].rename(
                columns={f"{n}_asof": n for n in names})
            bad += _compare(f"asof@{c:.0f}", got_rows.drop_duplicates(KEYS), ref, names)
    return bad


def check_memberships(mem: pd.DataFrame) -> List[str]:
    """Role memberships are finite, >= 0 and sum to 1 per row."""
    roles = [c for c in mem.columns if c.startswith("role_")]
    if not roles:
        return ["roles: no role columns"]
    v = mem[roles].to_numpy(dtype=float)
    bad = []
    if not np.isfinite(v).all():
        bad.append(f"roles: {int((~np.isfinite(v)).any(axis=1).sum())} rows not finite")
    if (v < 0).any():
        bad.append(f"roles: {int((v < 0).any(axis=1).sum())} rows with a negative membership")
    sums = np.nansum(v, axis=1)
    if not np.allclose(sums, 1.0, atol=1e-9):
        bad.append(f"roles: {int((~np.isclose(sums, 1.0, atol=1e-9)).sum())} rows do not sum to 1")
    return bad


def check_store(
    features: pd.DataFrame, turns_store: pd.DataFrame, turns: pd.DataFrame,
    sample: Sequence[str],
) -> List[str]:
    """The serving store after all appends: one feature row and one turn
    row per turn of base plus appends, identical text, and sampled
    conversations equal to a recomputation over all their turns."""
    bad = []
    all_keys = set(zip(turns["conv_id"], turns["turn_idx"].astype(int)))
    for label, frame in (("store features", features), ("store turns", turns_store)):
        if frame.duplicated(KEYS).any():
            bad.append(f"{label}: {int(frame.duplicated(KEYS).sum())} duplicate (conv_id, turn_idx)")
        keys = set(zip(frame["conv_id"], frame["turn_idx"].astype(int)))
        if keys != all_keys:
            bad.append(f"{label}: {len(keys - all_keys)} unknown turns, "
                       f"{len(all_keys - keys)} turns missing")
    text = turns_store.drop_duplicates(KEYS).merge(
        turns[KEYS + ["text"]], on=KEYS, how="inner", suffixes=("", "_in"))
    if (text["text"] != text["text_in"]).any():
        bad.append(f"store turns: {int((text['text'] != text['text_in']).sum())} texts differ")
    names = feature_names(features.columns)
    got = features[features["conv_id"].isin(sample)]
    raw = turns[turns["conv_id"].isin(sample)]
    bad += _compare("store", got.drop_duplicates(KEYS), expected_frame(raw, names), names)
    return bad
