"""ReFeX recursive feature extraction as a Spark driver loop.

Each generation is a fixed, small pipeline of Spark jobs (SURVEY.md §2.3):

1. neighbor aggregation — two physical strategies:
   * **edges mode** (general graphs): ONE join of the neighbor relation
     against the previous generation's wide frame + ONE hash aggregation
     with every ``agg(col)`` expression fused (map-side partial agg,
     whole-stage codegen; AQE skew-splits this shuffle);
   * **chain mode** (lag-1 temporal adjacency, the transcript case):
     neighbor aggregates are just ``lag``/``lead`` window expressions
     over ``(conv_id, turn_idx)`` — NO join, NO new shuffle; every
     generation reuses the conversation partitioning, so the whole
     recursion costs one shuffle total at any scale;
2. horizontal concat — outer join + ``na.fill(0)`` in edges mode
   (reference NaN→0 invariant, extract.py:112,128-133); a plain column
   append in chain mode (neighborless rows get the same 0s the
   reference's concat+fillna would give them);
3. pruning — one melt+histogram aggregation (also yields the row count,
   no separate count job), driver binning, one Chebyshev aggregation
   pass, driver component grouping;
4. bookkeeping — retained names per generation on the driver; every
   retained column is CARRIED FORWARD through each generation's combined
   frame (a pure column re-select, zero extra compute), so a feature
   dropped by a LATER generation still reaches the final output exactly
   like the reference's ``_final_features`` dict — and finalize is a
   single column projection of the last generation's frame, with NO
   multi-join.

A measured generation runs exactly TWO actions (histogram + Chebyshev)
plus optional checkpoint writes — no per-generation count() or
intermediate kept-frame materialization. Cross-generation caches keep
the per-generation driver constant flat: a feature column is immutable
once computed, so its histogram/bin boundaries AND its pairwise
Chebyshev distances to other old columns are computed exactly once;
each generation only melts/compares the columns it introduced.

One-generation lookahead (pruned chain mode): generation g+1's columns
are ``agg(c)`` over g's retained columns, a subset of ``agg(c)`` over
all of g's new columns. A measured generation g appends that superset
as candidates to its persisted frame, and its two actions measure
histograms and Chebyshev pairs over ``value_cols ∪ candidates``.
Generation g+1 then reads its columns from that frame and finds every
statistic in the caches: it runs no Spark job, so the recursion costs
TWO actions per TWO generations. The result is exact — a column's
values depend only on its name, and a pair's distance does not depend
on what was pruned. Edges mode, ``prune=False`` and frozen-model replay
measure nothing ahead.
"""

from __future__ import annotations

import itertools as it
import json
import os
import time
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphrole_spark.operators.aggregate import neighbor_aggregate, normalize_aggs
from graphrole_spark.operators.binning import capped_melt, chunked_bin_boundaries
from graphrole_spark.operators.pruning import chebyshev_distances_arrow
from graphrole_spark.operators.seeds import seed_features, symmetrize
from graphrole_spark.operators.model import FeatureModel
from graphrole_spark.oracle.prune import group_feature_names, select_features_to_drop

_CHAIN_AGGS = {"sum", "mean", "avg", "max", "min"}
# bounded-driver guarantee: never collect more than this many histogram
# rows per feature in one chunk (SURVEY §7 risk 2)
HISTOGRAM_CAP = 1_000_000
# blocked chain mode: a seed frame carrying both columns (see
# pipeline.with_chain_blocks) partitions every window by (conv, block)
CHAIN_BLOCK_COL = "__blk"
CHAIN_OWN_COL = "__own"


class RecursiveFeatureExtractor:
    """Distributed ReFeX over an edge DataFrame (src, dst, weight) or a
    lag-1 conversation chain.

    :param edges: edge relation; for undirected graphs pass each edge
        once (symmetrization is internal, matching networkx degree
        semantics). May be None in chain mode.
    :param directed: out-neighbor recursion + directed egonets when True
    :param nodes: optional DataFrame with a ``node`` column to keep
        isolated nodes in the output (reference keeps them, 0-filled)
    :param node_attributes: optional DataFrame (node, attr...) whose
        numeric columns become ``attribute_<name>`` seed features
    :param seed_frame: precomputed generation-0 features (node, f...);
        may carry extra passthrough key columns named in ``chain_keys``
    :param chain_keys: (conv_col, idx_col) — activates chain mode:
        neighbor aggregation via lag/lead windows instead of a join.
        Requires ``seed_frame`` containing those columns. A seed frame
        that also carries ``CHAIN_BLOCK_COL`` and ``CHAIN_OWN_COL`` runs
        SKEW-BOUNDED chain windows: every window partitions by (conv,
        block) instead of the whole conversation, so one pathological
        10^8-turn conversation never pins a single task. Its rows include
        halo copies of block-edge rows (see ``pipeline.with_chain_blocks``;
        halo depth ≥ max_generations - 1 makes blocked results
        bit-identical to whole-conversation windows), and the boolean
        ``CHAIN_OWN_COL`` marks owner rows — pruning statistics and the
        final output use owner rows only.
    :param checkpoint_dir: when set, per-generation parquet checkpoints +
        ``_lineage.json`` are written there and extraction can resume
    :param prune: when False, skip redundancy pruning entirely — every
        generated feature is retained. In chain mode this makes the whole
        recursion ONE lazy plan (window selects over a single
        conversation partitioning, zero driver actions), which is both
        the fastest fixed-depth configuration and the SQL-expressible one
        (the ``refex_gen2`` DuckDB oracle checks its values)
    """

    def __init__(
        self,
        edges: Optional[DataFrame] = None,
        directed: bool = False,
        max_generations: int = 10,
        aggs: Sequence[str] = ("sum", "mean"),
        nodes: Optional[DataFrame] = None,
        node_attributes: Optional[DataFrame] = None,
        attributes_include: Optional[Sequence[str]] = None,
        attributes_exclude: Optional[Sequence[str]] = None,
        checkpoint_dir: Optional[str] = None,
        seed_frame: Optional[DataFrame] = None,
        chain_keys: Optional[Tuple[str, str]] = None,
        prune: bool = True,
        model: Optional[FeatureModel] = None,
    ) -> None:
        # transform mode: a frozen FeatureModel replays a fitted run's
        # pruning decisions — no histogram, no Chebyshev, no driver
        # actions; aggs and depth come from the model so the generated
        # feature names line up with the recorded ones
        if model is not None:
            aggs = list(model.aggs)
            max_generations = min(max_generations, model.max_generation + 1)
        # reference front door: a networkx/igraph object is accepted in
        # place of an edge DataFrame and converted once on the driver
        # (reference dispatch: graph/interface/__init__.py:39-53)
        if edges is not None and not isinstance(edges, DataFrame):
            from graphrole_spark.sources.graphs import get_interface

            convert = get_interface(edges)
            if convert is None:
                raise TypeError(f"unsupported graph type: {type(edges)!r}")
            g_edges, g_nodes, g_attrs, g_directed = convert(edges)
            edges = g_edges
            directed = g_directed
            if nodes is None:
                nodes = g_nodes
            if node_attributes is None:
                node_attributes = g_attrs

        agg_pairs = normalize_aggs(aggs)  # validates names/callables
        aggs = [name for name, _ in agg_pairs]
        self._agg_pairs = agg_pairs
        self.chain_keys = tuple(chain_keys) if chain_keys else None
        self._blocked = False
        if self.chain_keys:
            if seed_frame is None:
                raise ValueError("chain mode requires seed_frame with the key columns")
            missing = set(self.chain_keys) - set(seed_frame.columns)
            if missing:
                raise ValueError(f"seed_frame lacks chain key columns {missing}")
            marks = {CHAIN_BLOCK_COL, CHAIN_OWN_COL} & set(seed_frame.columns)
            if len(marks) == 1:
                raise ValueError(
                    f"blocked chain mode needs both {CHAIN_BLOCK_COL} and "
                    f"{CHAIN_OWN_COL} in seed_frame; got only {marks}"
                )
            self._blocked = bool(marks)
            bad = set(aggs) - _CHAIN_AGGS
            if bad:
                raise ValueError(f"chain mode supports aggs {_CHAIN_AGGS}; got {bad}")
            self.edges = None
            self.spark = seed_frame.sparkSession
        else:
            if edges is None:
                raise ValueError("either edges or chain_keys must be provided")
            if "weight" not in edges.columns:
                edges = edges.withColumn("weight", F.lit(1.0))
            self.edges = edges.select("src", "dst", "weight")
            self.spark = edges.sparkSession
            if self.edges.limit(1).count() == 0:
                raise ValueError("input edge DataFrame must contain at least one edge")
            nbrs = self.edges if directed else symmetrize(self.edges)
            self.neighbor_rel = nbrs.select("src", "dst").distinct()

        self.directed = directed
        self.max_generations = max_generations
        self.aggs = list(aggs)
        self.nodes = nodes
        self.node_attributes = node_attributes
        self.attributes_include = attributes_include
        self.attributes_exclude = attributes_exclude
        self.checkpoint_dir = checkpoint_dir
        self.seed_frame = seed_frame
        self.prune = prune
        self.model = model

        self.generation_count = 0
        self._generation_dict: Dict[int, Dict[str, None]] = {}
        # feature columns are immutable and the node set is fixed after
        # gen 0, so a column's bin boundaries (and row count) never
        # change — cache them and melt only columns first seen this
        # generation
        self._bounds_cache: Dict[str, tuple] = {}
        # ... and for the same reason a (col_i, col_j) Chebyshev distance
        # never changes — each generation only measures pairs that touch
        # a newly introduced column
        self._dist_cache: Dict[frozenset, float] = {}
        self._state: Optional[DataFrame] = None      # cached combined frame
        # persisted frame that already carries (and has measured) the
        # next generation's chain columns — set by a lookahead generation
        self._ahead: Optional[DataFrame] = None
        self._active_cols: List[str] = []            # surviving feature names
        self._retained_order: List[str] = []         # all retained, gen order
        self._lineage: List[dict] = []
        self._final: Optional[DataFrame] = None

    # -- public ---------------------------------------------------------

    def extract_features(self) -> DataFrame:
        """Run the recursion (idempotent; memoized like the reference)."""
        if self._final is not None:
            return self._final
        self._update(self._seed_features(), 0)
        for gen in range(1, self.max_generations):
            self.generation_count = gen
            if not self._update(self._next_features(), gen):
                break
        self._final = self._finalize()
        if self.checkpoint_dir:
            self._write_lineage(done=True)
        return self._final

    def retained_by_generation(self) -> Dict[int, List[str]]:
        return {g: list(d.keys()) for g, d in self._generation_dict.items()}

    def fitted_model(self) -> FeatureModel:
        """Frozen model of this run's pruning decisions (fit/transform
        split): replay it on new data via the ``model=`` constructor
        argument or :func:`pipeline.transform_transcript_features` —
        zero per-generation driver actions, no train/serve skew."""
        if not self._generation_dict:
            raise ValueError("extract_features() has not run yet")
        return FeatureModel.from_extractor(self)

    @property
    def lineage(self) -> List[dict]:
        return list(self._lineage)

    # -- generation steps ----------------------------------------------------

    def _seed_features(self) -> DataFrame:
        if self.seed_frame is not None:
            return self.seed_frame
        return seed_features(
            self.edges,
            directed=self.directed,
            nodes=self.nodes,
            node_attributes=self.node_attributes,
            attributes_include=self.attributes_include,
            attributes_exclude=self.attributes_exclude,
        )

    def _prev_cols(self) -> List[str]:
        return list(self._generation_dict[self.generation_count - 1].keys())

    def _next_features(self) -> Optional[DataFrame]:
        """New-generation columns. In edges mode: a (node, cols) frame to
        outer-join. In chain mode: None — columns are appended in-place
        by :meth:`_combine` via window expressions."""
        if self.chain_keys:
            return None
        return neighbor_aggregate(
            self.neighbor_rel, self._state, self._prev_cols(), self._agg_pairs
        )

    @property
    def _chain_extra(self) -> List[str]:
        """Internal passthrough columns in blocked-chain mode."""
        return [CHAIN_BLOCK_COL, CHAIN_OWN_COL] if self._blocked else []

    def _own_rows(self, frame: DataFrame) -> DataFrame:
        """Owner-row view (drops halo copies) for statistics/output."""
        if self._blocked:
            return frame.where(F.col(CHAIN_OWN_COL))
        return frame

    def _chain_names(self, cols: Sequence[str]) -> List[str]:
        """Names of the chain aggregates over ``cols``, agg-major."""
        return [f"{c}({agg})" for agg in self.aggs for c in cols]

    def _chain_exprs(self, cols: Sequence[str]) -> List:
        """lag/lead neighbor aggregates of ``cols`` for the chain graph —
        appended as columns; neighborless rows evaluate to the 0 the
        reference's concat+fillna(0) assigns them (mean: 0/0 → null →
        filled). The lag/lead pair of a column is built once and shared
        by every agg (each Column is a driver-side py4j round trip)."""
        conv, idx = self.chain_keys
        parts = [conv, CHAIN_BLOCK_COL] if self._blocked else [conv]
        w = Window.partitionBy(*parts).orderBy(idx)
        nbrs = {}
        for c in cols:
            l, r = F.lag(c).over(w), F.lead(c).over(w)
            nbrs[c] = (l, r, F.coalesce(l, F.lit(0.0)) + F.coalesce(r, F.lit(0.0)))
        exprs = []
        for agg in self.aggs:
            for c in cols:
                l, r, tot = nbrs[c]
                if agg == "sum":
                    e = tot
                elif agg in ("mean", "avg"):
                    cnt = l.isNotNull().cast("double") + r.isNotNull().cast("double")
                    # guard cnt=0 (ANSI mode would raise on x/0)
                    e = F.when(cnt > 0, tot / cnt).otherwise(F.lit(0.0))
                elif agg == "max":
                    e = F.coalesce(F.greatest(l, r), F.lit(0.0))
                else:  # min — least() ignores nulls like greatest()
                    e = F.coalesce(F.least(l, r), F.lit(0.0))
                exprs.append(e)
        return [e.alias(n) for e, n in zip(exprs, self._chain_names(cols))]

    def _combine(
        self, new_frame: Optional[DataFrame], gen: int, lookahead: bool
    ) -> Tuple[DataFrame, List[str]]:
        """This generation's frame and new column names; with
        ``lookahead`` the next generation's candidate chain columns (over
        every new column) are appended too."""
        keys = (
            list(self.chain_keys) + self._chain_extra if self.chain_keys else []
        )
        if gen == 0:
            new_cols = [c for c in new_frame.columns if c != "node" and c not in keys]
            combined = new_frame.na.fill(0.0, new_cols)
        else:
            # carry every retained column forward (active ⊆ retained):
            # pure column re-select from the cached previous state, so
            # finalize needs no joins and a later-dropped feature keeps
            # its values
            base = self._state.select("node", *keys, *self._retained_order)
            if self.chain_keys:
                new_cols = self._chain_names(self._prev_cols())
                combined = base.select("*", *self._chain_exprs(self._prev_cols()))
            else:
                combined = base.join(new_frame, "node", "left")
                new_cols = [c for c in new_frame.columns if c != "node"]
                combined = combined.na.fill(0.0, new_cols)
        if lookahead:
            combined = combined.select("*", *self._chain_exprs(new_cols))
        return combined, new_cols

    def _tiny_query_conf(self):
        """Context: disable AQE for the per-generation mini-actions.

        The histogram and Chebyshev collects move a few KB — AQE's
        per-stage re-optimization adds fixed latency × 2 actions ×
        generations with nothing to adapt. The big shuffles (neighbor
        join in edges mode) run outside this scope with AQE on.
        """
        import contextlib

        spark = self.spark

        @contextlib.contextmanager
        def ctx():
            prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                yield
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", prev)

        return ctx()

    def _update(self, new_frame: Optional[DataFrame], gen: int) -> List[str]:
        """One generation: aggregate, decide what to keep, carry forward.

        The retained set comes from the frozen model (replay), from
        :meth:`_measure` (pruned fit) or is everything (``prune=False``);
        the bookkeeping, caching and lineage below are shared by all
        three."""
        t0 = time.time()
        measured = self.model is None and self.prune
        ahead, self._ahead = self._ahead, None
        lookahead = False
        if ahead is not None:
            # built and measured one round early: the persisted frame
            # already carries this generation's columns and statistics
            combined, new_cols = ahead, self._chain_names(self._prev_cols())
        else:
            lookahead = bool(
                measured and self.chain_keys and gen + 1 < self.max_generations
            )
            combined, new_cols = self._combine(new_frame, gen, lookahead)
            # one cache rule: persist a generation that is measured (its
            # statistics actions read it twice and materialize it), any
            # edges-mode generation (the state is referenced twice per
            # generation — concat base + neighbor agg — so persisting
            # stops the lazy plan doubling) and any checkpointed one.
            # Otherwise chain-mode replay and prune=False stay pure column
            # selects: the whole recursion is one lazy plan with zero
            # driver actions.
            if measured or self.checkpoint_dir or not self.chain_keys:
                combined = combined.persist()
        value_cols = self._active_cols + [c for c in new_cols if c not in self._active_cols] \
            if gen > 0 else new_cols
        entry = {"generation": gen, "row_count": None}
        if self.model is not None:
            # frozen-model replay: retained set comes from the fit, the
            # generation stays a lazy projection
            retained = self.model.check_generation(gen, new_cols)
            if retained is None:
                combined.unpersist()
                return []
            to_drop = sorted(set(new_cols) - set(retained))
            entry["mode"] = "transform"
        elif not self.prune:
            # no pruning: nothing to measure, nothing to collect — the
            # generation is a lazy projection (chain mode: pure window
            # expressions, still zero exchanges); retain everything
            retained, to_drop = sorted(new_cols), []
        else:
            to_drop = self._measure(combined, value_cols, new_cols, lookahead, gen, entry)
            retained = sorted(set(new_cols) - set(to_drop))
            if lookahead and retained:  # an empty generation ends the run
                self._ahead = combined

        self._generation_dict[gen] = dict.fromkeys(retained)
        self._active_cols = [c for c in value_cols if c not in to_drop]
        self._retained_order.extend(retained)

        prev_state = self._state
        if self.checkpoint_dir:
            self._state = self._checkpoint(combined, gen)
            entry["checkpoint_partitions"] = len(self._last_ckpt_partitions)
            entry["partition_rows"] = self._last_ckpt_partitions
        else:
            self._state = combined
            # finalize reads only the LAST state (carry-forward columns),
            # so the previous cache can go — but only once this
            # generation's actions have materialized the new one (an
            # unmeasured generation is still lazy: its earlier caches
            # stay registered and Spark's LRU evicts as needed; a
            # generation served by lookahead keeps the previous frame as
            # its own state)
            if measured and prev_state is not None and prev_state is not combined:
                prev_state.unpersist()

        elapsed = time.time() - t0
        row_count = entry["row_count"]
        entry.update(
            retained=retained,
            dropped=sorted(to_drop),
            n_features=len(value_cols),
            seconds=round(elapsed, 3),
            rows_per_sec=None if row_count is None
            else round(row_count / max(elapsed, 1e-9), 1),
        )
        self._lineage.append(entry)
        if self.checkpoint_dir:
            self._write_lineage(done=False)
        return retained

    def _measure(
        self,
        combined: DataFrame,
        value_cols: List[str],
        new_cols: List[str],
        lookahead: bool,
        gen: int,
        entry: dict,
    ) -> List[str]:
        """Pruning statistics of one generation over the persisted
        ``combined`` frame: log-bin boundaries, pairwise Chebyshev
        distances, feature groups. With ``lookahead`` the same two actions
        also measure the next generation's candidate columns (appended to
        ``combined`` by :meth:`_combine`) and their pairs. Returns
        the names to drop and records the row count, action timings and
        the boundaries of ``new_cols`` in ``entry``.

        ``capped_melt`` is the first action on the freshly persisted
        ``combined`` frame, so ``histogram_sec`` also covers computing the
        generation itself — for generation 0 the input scan and the seed
        features (in the point-in-time transcript pipeline: the
        shared-scan explode, sessionize and the seeds); the Chebyshev
        action then reads the cache."""
        # one melt+histogram pass over the columns not measured yet: bin
        # boundaries AND the row count (old columns come from the cache).
        # The collect is CAPPED at HISTOGRAM_CAP rows per feature; a
        # high-cardinality feature finishes its exact boundary search in
        # further chunks (driver memory stays bounded at any scale)
        cols = value_cols + (self._chain_names(new_cols) if lookahead else [])
        to_melt = [c for c in cols if c not in self._bounds_cache]
        stats_frame = self._own_rows(combined)
        t_hist = 0.0
        if to_melt:
            t_hist = time.time()
            with self._tiny_query_conf():
                hists = capped_melt(stats_frame, to_melt, HISTOGRAM_CAP)
            for c, hist in hists.items():
                self._bounds_cache[c] = (
                    chunked_bin_boundaries(stats_frame, c, hist, HISTOGRAM_CAP),
                    hist[2],
                )
            t_hist = time.time() - t_hist
        row_count = self._bounds_cache[value_cols[0]][1]
        bounds = {c: self._bounds_cache[c][0] for c in cols}
        # distances between two OLD columns are cached (bins immutable);
        # only pairs touching a column not measured yet run — with
        # lookahead, every pair the next generation can need
        todo = [
            p for p in it.combinations(cols, 2) if frozenset(p) not in self._dist_cache
        ]
        t_cheb = 0.0
        if todo:
            t_cheb = time.time()
            # binning + pairwise max fused into one Arrow reduction pass
            # over the cached frame (no second cache, no per-generation
            # expression-tree compile)
            fresh_dists = chebyshev_distances_arrow(stats_frame, bounds, todo)
            self._dist_cache.update(
                {frozenset(p): d for p, d in fresh_dists.items()}
            )
            t_cheb = time.time() - t_cheb
        dists = {
            p: self._dist_cache[frozenset(p)] for p in it.combinations(value_cols, 2)
        }
        groups = group_feature_names(value_cols, dists, gen)
        entry.update(
            row_count=row_count,
            histogram_sec=round(t_hist, 3),
            chebyshev_sec=round(t_cheb, 3),
            # audit record: the frozen log-bin boundaries the pruning
            # decisions for first-seen columns were measured with (lets
            # FeatureModel.from_checkpoint reconstruct the full model)
            boundaries={
                c: [float(x) for x in self._bounds_cache[c][0]] for c in new_cols
            },
        )
        return select_features_to_drop(groups, self._generation_dict)

    def _finalize(self) -> DataFrame:
        """Final frame = ONE column projection of the last generation's
        state — every retained column was carried forward, so there is no
        multi-join (the reference's ChainMap concat, for free). Blocked
        chain mode keeps owner rows only (halo copies drop out here)."""
        keys = list(self.chain_keys) if self.chain_keys else []
        return self._own_rows(self._state).select(
            "node", *keys, *self._retained_order
        )

    # -- persistence ----------------------------------------------------------

    def _checkpoint(self, combined: DataFrame, gen: int) -> DataFrame:
        """Parquet the generation state (node + keys + every retained
        column so far) and re-read — truncates lineage AND provides the
        resume point; earlier cached state is then released."""
        keys = (
            list(self.chain_keys) + self._chain_extra if self.chain_keys else []
        )
        state_path = os.path.join(self.checkpoint_dir, f"gen={gen}", "state")
        combined.select("node", *keys, *self._retained_order).write.mode(
            "overwrite"
        ).parquet(state_path)
        state = self.spark.read.parquet(state_path)
        # per-partition lineage (north_rule): row count per checkpoint
        # file — a metadata-light scan over the files just written
        per_file = (
            state.groupBy(F.input_file_name().alias("f")).count().collect()
        )
        self._last_ckpt_partitions = sorted(
            (int(r["count"]) for r in per_file), reverse=True
        )
        # a lookahead frame stays cached: the next generation reads its
        # columns from it (the checkpoint holds only retained ones)
        if combined is not self._ahead:
            combined.unpersist()
        if self._state is not None:
            self._state.unpersist()
        return state

    def _write_lineage(self, done: bool) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        with open(os.path.join(self.checkpoint_dir, "_lineage.json"), "w") as fh:
            json.dump(
                {
                    "generations": self._lineage,
                    "generation_dict": self.retained_by_generation(),
                    "active_cols": self._active_cols,
                    "retained_order": self._retained_order,
                    "aggs": self.aggs,
                    "directed": self.directed,
                    "max_generations": self.max_generations,
                    "chain_keys": list(self.chain_keys) if self.chain_keys else None,
                    "done": done,
                },
                fh,
                indent=2,
            )

    @classmethod
    def resume(cls, spark, checkpoint_dir: str, edges: Optional[DataFrame] = None, **kwargs):
        """Rebuild extractor state from a checkpoint directory and continue.

        Reads ``_lineage.json`` + per-generation parquet, so a killed run
        restarts at the first incomplete generation instead of recomputing
        from the scan (north_rule resumability). A FINISHED run resumed
        with ``max_generations`` larger than the fitted depth is extended
        deeper from its last checkpoint (same recursion state); with an
        equal or smaller depth it reproduces the checkpointed output.
        """
        with open(os.path.join(checkpoint_dir, "_lineage.json")) as fh:
            manifest = json.load(fh)
        # the manifest is self-describing: a bare resume(spark, dir)
        # continues with the fitted run's own settings (built-in agg
        # names round-trip; custom callables must be re-passed and will
        # fail normalize_aggs loudly if forgotten)
        kwargs.setdefault("aggs", manifest["aggs"])
        kwargs.setdefault("directed", manifest.get("directed", False))
        if manifest.get("max_generations") is not None:
            kwargs.setdefault("max_generations", manifest["max_generations"])
        if manifest.get("chain_keys"):
            kwargs.setdefault("chain_keys", tuple(manifest["chain_keys"]))
            # placeholder seed frame, replaced by checkpointed state below;
            # its block/owner columns (if any) switch on blocked mode
            kwargs.setdefault(
                "seed_frame",
                spark.read.parquet(os.path.join(checkpoint_dir, "gen=0", "state")),
            )
        inst = cls(edges=edges, checkpoint_dir=checkpoint_dir, **kwargs)
        gens = sorted(int(g) for g in manifest["generation_dict"])
        last = gens[-1]
        inst._generation_dict = {
            int(g): dict.fromkeys(names)
            for g, names in manifest["generation_dict"].items()
        }
        inst._lineage = manifest["generations"]
        inst._active_cols = manifest["active_cols"]
        inst._retained_order = manifest.get(
            "retained_order",
            [n for g in gens for n in manifest["generation_dict"][str(g)]],
        )
        inst.generation_count = last
        inst._state = spark.read.parquet(
            os.path.join(checkpoint_dir, f"gen={last}", "state")
        )
        # extension applies only to manifests that RECORD their fitted
        # depth (older ones keep the original done == stop semantics)
        stored_max = manifest.get("max_generations")
        extend = stored_max is not None and inst.max_generations > stored_max
        if manifest["generation_dict"].get(str(last)) and (
            not manifest.get("done") or extend
        ):
            for gen in range(last + 1, inst.max_generations):
                inst.generation_count = gen
                if not inst._update(inst._next_features(), gen):
                    break
        inst._final = inst._finalize()
        inst._write_lineage(done=True)
        return inst
