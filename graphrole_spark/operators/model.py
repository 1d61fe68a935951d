"""Frozen feature model: the fit/transform split for ReFeX recursion.

A fitted extraction run makes data-dependent decisions — which generated
features survive redundancy pruning each generation (and, internally,
the log-bin boundaries those decisions were measured with; reference
semantics: /root/reference/graphrole/features/extract.py:146-192 +
prune.py:13-56). ``FeatureModel`` records those decisions so they can be
REPLAYED on new data without recomputing any statistics:

* **transform** — apply the frozen retained-feature plan to a table.
  With chain-mode recursion this is a single lazy plan: window selects
  over one conversation partitioning, ZERO driver actions and zero
  extra exchanges regardless of generation depth. This is the serve
  path for a 10^12-turn table: fit on yesterday's data (or a sample),
  transform the full table in one pipelined pass.
* **incremental update** — new turns only affect their own
  conversation's features (all windows partition by ``conv_id``), so an
  append touching K conversations recomputes exactly those K under the
  frozen model and reuses the checkpointed features for the rest;
  output is bit-identical to transforming the whole updated table
  (property-tested in tests/test_model.py).

Freezing also removes train/serve skew: the serve path can never make a
different pruning choice than the fitted one.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional


def _lineage_boundaries(lineage: List[dict]) -> Dict[str, List[float]]:
    """Union of the lineage entries' boundaries: each measured generation
    records those of the columns it generated, so the union covers
    exactly the generated (retained ∪ dropped) columns."""
    out: Dict[str, List[float]] = {}
    for entry in lineage:
        for c, b in (entry.get("boundaries") or {}).items():
            out[c] = list(b)
    return out


@dataclass
class FeatureModel:
    """Per-generation retained-feature plan of a fitted extraction.

    :param generations: ``{generation: [retained feature names]}`` —
        exactly ``RecursiveFeatureExtractor.retained_by_generation()``.
    :param aggs: neighbor-aggregation names the fit used (the transform
        must expand features with the same operators for the recorded
        names to exist).
    :param boundaries: optional audit record — the log-bin boundaries
        per feature the pruning decisions were measured with.
    """

    generations: Dict[int, List[str]]
    aggs: List[str]
    boundaries: Dict[str, List[float]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.generations = {int(g): list(v) for g, v in self.generations.items()}
        if not self.generations:
            raise ValueError("FeatureModel needs at least generation 0")

    @property
    def max_generation(self) -> int:
        return max(self.generations)

    def retained_order(self) -> List[str]:
        out: List[str] = []
        for g in sorted(self.generations):
            out.extend(self.generations[g])
        return out

    # -- persistence ----------------------------------------------------

    def to_dict(self) -> dict:
        return {
            "generations": {str(g): v for g, v in sorted(self.generations.items())},
            "aggs": list(self.aggs),
            "boundaries": self.boundaries,
        }

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.to_dict(), fh, indent=2)

    @classmethod
    def load(cls, path: str) -> "FeatureModel":
        with open(path) as fh:
            d = json.load(fh)
        return cls(
            generations=d["generations"],
            aggs=d["aggs"],
            boundaries=d.get("boundaries", {}),
        )

    @classmethod
    def from_checkpoint(cls, checkpoint_dir: str) -> "FeatureModel":
        """Build the model from a fit's ``_lineage.json`` — every
        checkpointed run is already a reusable model."""
        with open(os.path.join(checkpoint_dir, "_lineage.json")) as fh:
            manifest = json.load(fh)
        return cls(
            generations=manifest["generation_dict"],
            aggs=manifest["aggs"],
            boundaries=_lineage_boundaries(manifest.get("generations", [])),
        )

    @classmethod
    def from_extractor(cls, extractor) -> "FeatureModel":
        return cls(
            generations=extractor.retained_by_generation(),
            aggs=list(extractor.aggs),
            boundaries=_lineage_boundaries(extractor.lineage),
        )

    # -- validation ------------------------------------------------------

    def check_generation(self, gen: int, generated: List[str]) -> Optional[List[str]]:
        """Retained columns for ``gen``, or None if the model stops here.
        Raises if the model names a feature the plan did not generate
        (config drift between fit and transform)."""
        if gen not in self.generations:
            return None
        retained = self.generations[gen]
        missing = set(retained) - set(generated)
        if missing:
            raise ValueError(
                f"model/plan drift at generation {gen}: model retains "
                f"{sorted(missing)} but the transform generated only "
                f"{sorted(generated)[:8]}... — fit and transform must use "
                "the same seed features and aggs"
            )
        return list(retained)
