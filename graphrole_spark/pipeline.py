"""End-to-end transcript feature pipeline (the flagship workload).

Reimagines ReFeX's graph neighborhoods as temporal neighborhoods over
multi-turn transcripts (BASELINE.json north_star): each turn is an
entity, its neighbors are the adjacent turns within the conversation
(lag-1), and every feature is computed point-in-time — a cutoff
timestamp bounds the scan itself, so no feature can see a later turn
(zero temporal leakage by construction, property-tested).

Scale design:

* the lag-1 chain seed features have CLOSED FORMS in window functions —
  degree/internal/external drop out of per-conversation position
  arithmetic, so generation 0 costs one window pass instead of the
  generic 2-hop egonet join;
* all windows partition by ``conv_id``; the recursion's neighbor
  aggregates are ``lag``/``lead`` windows over the same partitioning
  (no join); with lag-1 adjacency every entity has ≤ 2 neighbors, so no
  skew amplification regardless of conversation length;
* attribute seeds (text length, tool/role indicators, session position)
  ride along as ``attribute_*`` columns through the standard pruning.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphrole_spark.operators.recursion import (
    CHAIN_BLOCK_COL,
    CHAIN_OWN_COL,
    RecursiveFeatureExtractor,
)
from graphrole_spark.sources.transcripts import entity_col
from graphrole_spark.temporal.ops import sessionize

DEFAULT_SESSION_GAP = 1800.0


def _attribute_exprs() -> list:
    """Per-turn numeric attribute expressions as (name, expr) pairs (the
    transcript analog of node attributes, reference:
    networkx.py:87-113): text length, tool-use and role indicators,
    session-relative position. Requires a frame that already carries
    ``session_seq`` (sessionized) and a 0-based contiguous ``turn_idx``."""
    ws = Window.partitionBy("conv_id", "session_seq")
    pairs = [
        ("text_len", F.length("text").cast("double")),
        (
            "is_tool",
            F.when(F.col("tool").isNotNull() & (F.col("tool") != ""), 1.0).otherwise(0.0),
        ),
        ("is_user", F.when(F.col("role") == "user", 1.0).otherwise(0.0)),
        ("is_assistant", F.when(F.col("role") == "assistant", 1.0).otherwise(0.0)),
        # conv-hash partitioning satisfies the (conv, session) clustering,
        # so this window re-sorts within partitions but adds NO exchange
        ("session_size", F.count("*").over(ws).cast("double")),
        ("turn_pos", F.col("turn_idx").cast("double")),
    ]
    return [(name, expr.alias(f"attribute_{name}")) for name, expr in pairs]


def chain_seed_features(
    transcripts: DataFrame,
    with_attributes: bool = True,
    attributes_include: Optional[Sequence[str]] = None,
    attributes_exclude: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Generation-0 features for the lag-1 chain graph, in closed form.

    For the undirected chain, position i of an n-turn conversation has:

    * ``degree(i)      = [i > 0] + [i < n-1]``
    * ``internal_edges(i)`` = chain edges between members of ego(i) =
      positions [i-1, i+1] — equal to degree(i);
    * ``external_edges(i)`` = edges with exactly one endpoint in ego(i)
      = ``[i > 1] + [i < n-2]``.

    Exact (validated against the generic join-based seeds in tests);
    wider adjacency goes through ``operators.seeds.seed_features`` over
    ``sources.transcripts.derive_edges``.
    """
    n = Window.partitionBy("conv_id")
    t = transcripts
    attr_exprs: list = []
    if with_attributes:
        # ONE pass: sessionize + every attribute + every closed form ride
        # the same conv-hash partitioning — no join, no second shuffle
        t = sessionize(t, ["conv_id"], "ts", DEFAULT_SESSION_GAP)
        pairs = _attribute_exprs()
        # include/exclude by bare attribute name; exclude wins
        # (reference contract: README.md:90, base.py:28-48)
        if attributes_include is not None:
            inc = set(attributes_include)
            pairs = [(n, e) for n, e in pairs if n in inc]
        if attributes_exclude:
            exc = set(attributes_exclude)
            pairs = [(n, e) for n, e in pairs if n not in exc]
        attr_exprs = [e for _, e in pairs]
    base = t.withColumn("n_turns", F.count("*").over(n))
    i = F.col("turn_idx").cast("double")
    last = F.col("n_turns").cast("double") - 1
    has_prev = (i > 0).cast("double")
    has_next = (i < last).cast("double")
    has_prev2 = (i > 1).cast("double")
    has_next2 = (i < last - 1).cast("double")
    # reference column order: local, attributes, egonet (base.py:18-26)
    return base.select(
        entity_col().alias("node"),
        "conv_id",
        "turn_idx",
        (has_prev + has_next).alias("degree"),
        *attr_exprs,
        (has_prev + has_next).alias("internal_edges"),
        (has_prev2 + has_next2).alias("external_edges"),
    )


def with_chain_blocks(seeds: DataFrame, block_size: int, halo: int) -> DataFrame:
    """Skew-bounding halo explode for blocked chain windows.

    Splits each conversation into ``block_size``-turn blocks (column
    ``CHAIN_BLOCK_COL``, owner rows flagged in ``CHAIN_OWN_COL``; a
    seed frame carrying both runs the extractor in blocked mode) and
    duplicates each block's first/last ``halo`` rows into the
    neighboring block's group. Every window partition is then at most
    ``block_size + 2*halo`` rows, regardless of conversation length —
    one 10^8-turn conversation becomes 10^8/block_size independent
    tasks. With lag-1 adjacency, a depth-G recursion needs halo = G-1
    for owner rows to see exactly the values whole-conversation windows
    would give them (stencil halo-depth argument: the owner row at a
    block edge depends on neighbor features of generation G-1, which
    depend on seeds at distance G-1 — all present). Seeds must be
    computed BEFORE this explode (gen-0 values ride on the halo copies).
    """
    if halo < 0:
        raise ValueError("halo must be >= 0")
    if block_size <= halo:
        raise ValueError(
            f"block_size ({block_size}) must exceed halo ({halo}): a halo "
            "may only span one neighboring block"
        )
    blk = (F.col("turn_idx") / block_size).cast("long")
    pos = F.col("turn_idx") % block_size
    copies = F.array(
        F.struct(blk.alias("b"), F.lit(True).alias("own")),
        # head rows serve the PREVIOUS block's lead frontier
        F.when(
            (pos < halo) & (blk > 0),
            F.struct((blk - 1).alias("b"), F.lit(False).alias("own")),
        ),
        # tail rows serve the NEXT block's lag frontier
        F.when(
            pos >= block_size - halo,
            F.struct((blk + 1).alias("b"), F.lit(False).alias("own")),
        ),
    )
    exploded = seeds.select(
        "*", F.explode(F.filter(copies, lambda c: c.isNotNull())).alias("__copy")
    )
    return exploded.select(
        *seeds.columns,
        F.col("__copy.b").alias(CHAIN_BLOCK_COL),
        F.col("__copy.own").alias(CHAIN_OWN_COL),
    )


def extract_features_at_cutoffs(
    transcripts: DataFrame,
    cutoffs,
    share_scan: bool = True,
    **kwargs,
) -> DataFrame:
    """Feature vectors per entity × timestamp (north_star: role/feature
    memberships per entity×timestamp, zero leakage at each cutoff).

    ``share_scan=True`` (default, the scale path): ONE recursion over
    cutoff-qualified conversation keys — each (cutoff, conv) group holds
    only rows with ``ts <= cutoff``, so leakage is impossible by
    construction, and the sessionize/seed scan, the conversation
    shuffle, and every per-generation driver action are paid ONCE for
    all cutoffs instead of once per cutoff. Pruning decisions are shared
    across cutoffs, which also yields a uniform feature schema per
    cutoff (what a training pipeline wants); retained features common
    with a standalone run carry identical values (property-tested).

    ``share_scan=False``: one independent point-in-time run per cutoff
    (per-cutoff pruning exactly as a standalone run), union-aligned by
    name with 0-fill — the reference's fillna(0) convention.
    """
    cutoffs = list(cutoffs)
    if share_scan:
        ts_type = transcripts.schema["ts"].dataType
        cut_arr = F.array(*[F.lit(c).cast(ts_type) for c in cutoffs])
        expanded = transcripts.select(
            F.posexplode(cut_arr).alias("__ci", "__cutoff"), "*"
        ).where(F.col("ts") <= F.col("__cutoff"))
        qualified = expanded.select(
            F.concat_ws("|", F.col("__ci").cast("string"), "conv_id").alias("conv_id"),
            "turn_idx", "role", "text", "tool", "ts",
        )
        feats = extract_transcript_features(qualified, **kwargs)
        parts = F.split(F.col("conv_id"), "\\|", 2)
        feature_names = [c for c in feats.columns if c not in ("conv_id", "turn_idx")]
        return feats.select(
            parts.getItem(1).alias("conv_id"),
            "turn_idx",
            F.element_at(cut_arr, parts.getItem(0).cast("int") + 1)
            .cast("timestamp")
            .alias("cutoff_ts"),
            *feature_names,
        )

    runs = []
    for cutoff in cutoffs:
        feats = extract_transcript_features(transcripts, cutoff_ts=cutoff, **kwargs)
        runs.append(feats.withColumn("cutoff_ts", F.lit(cutoff).cast("timestamp")))
    all_cols = ["conv_id", "turn_idx", "cutoff_ts"]
    feature_names = sorted(
        {c for df in runs for c in df.columns if c not in all_cols}
    )
    aligned = [
        df.select(
            *all_cols,
            *[
                (F.col(c) if c in df.columns else F.lit(0.0)).alias(c)
                for c in feature_names
            ],
        )
        for df in runs
    ]
    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df)
    return out


def assemble_training_set(
    labels: DataFrame,
    features: DataFrame,
    entity_cols,
    label_ts_col: str,
    feature_ts_col: str = "cutoff_ts",
    feature_cols=None,
) -> DataFrame:
    """Zero-leakage training-set assembly — the feature-store serving
    join: each label row gets the entity's feature vector at the LATEST
    ``feature_ts <= label_ts`` (never a later one, so a feature computed
    after the label's observation time can never leak in).

    One backward as-of join per entity (union+window, a single
    shuffle); at 10^12 turns the label side is tiny relative to the
    feature store and rides the same conversation-hash partitioning.
    Returns all label columns plus ``<feature>_asof`` columns and
    ``<feature_ts_col>_asof`` (which cutoff served the row; null when
    no cutoff qualifies).
    """
    from graphrole_spark.temporal.asof import asof_join

    entity_cols = list(entity_cols)
    if feature_cols is None:
        feature_cols = [
            c for c in features.columns
            if c not in entity_cols + [feature_ts_col]
        ]
    return asof_join(
        labels,
        features,
        entity_cols,
        label_ts_col,
        feature_ts_col,
        list(feature_cols) + [feature_ts_col],
    )


def extract_roles_at_cutoffs(
    transcripts: DataFrame,
    cutoffs,
    n_roles: Optional[int] = None,
    soft: bool = False,
    share_scan: bool = True,
    **kwargs,
) -> DataFrame:
    """Role memberships per entity × timestamp (the north_star output):
    ``(conv_id, turn_idx, cutoff_ts, role...)`` with zero temporal
    leakage — every underlying feature uses only turns with
    ``ts <= cutoff`` (structural property of
    :func:`extract_features_at_cutoffs`).

    ONE role model (NMF, reference RolX semantics) is fitted jointly
    over all (entity, cutoff) feature rows, so role labels are
    comparable across cutoffs and the factorization is paid once — the
    scale path for "how did this entity's role evolve over time"
    queries. ``soft=True`` returns role percentages instead of the hard
    argmax assignment.
    """
    from graphrole_spark.roles.extract import RoleExtractor

    feats = extract_features_at_cutoffs(
        transcripts, cutoffs, share_scan=share_scan, **kwargs
    )
    key_cols = ("conv_id", "turn_idx", "cutoff_ts")
    value_cols = [c for c in feats.columns if c not in key_cols]
    nodeframe = feats.select(
        F.concat_ws(
            "#", "conv_id", "turn_idx", F.col("cutoff_ts").cast("string")
        ).alias("node"),
        *value_cols,
    )
    ext = RoleExtractor(n_roles=n_roles)
    ext.extract_role_factors(nodeframe)
    roles = ext.role_percentage if soft else ext.roles
    # decode from the right: turn_idx and cutoff_ts hold no '#', while
    # conv_id may (a left split would cast part of it to int)
    key = r"(?s)^(.*)#(-?\d+)#([^#]*)$"
    return roles.select(
        F.regexp_extract("node", key, 1).alias("conv_id"),
        F.regexp_extract("node", key, 2).cast("int").alias("turn_idx"),
        F.regexp_extract("node", key, 3).cast("timestamp").alias("cutoff_ts"),
        *[c for c in roles.columns if c != "node"],
    )


def extract_transcript_features(
    transcripts: DataFrame,
    cutoff_ts=None,
    max_generations: int = 10,
    with_attributes: bool = True,
    aggs: Sequence[str] = ("sum", "mean"),
    checkpoint_dir: Optional[str] = None,
    chain_block_size: Optional[int] = None,
    prune: bool = True,
    model=None,
    return_extractor: bool = False,
):
    """Point-in-time ReFeX features per turn.

    ``cutoff_ts`` restricts the input to turns with ``ts <= cutoff``
    BEFORE any feature computation — the predicate pushes down to the
    scan, making temporal leakage structurally impossible: features at
    cutoff t computed on the full table are identical to recomputing on
    the physical prefix (property-tested in tests/test_pipeline.py).

    ``model`` (a :class:`~graphrole_spark.operators.model.FeatureModel`)
    switches to transform mode: the frozen pruning decisions are
    replayed, depth/aggs come from the model, and in chain mode the
    whole recursion is one lazy plan with zero driver actions.

    Returns (conv_id, turn_idx, <feature columns...>); with
    ``return_extractor=True``, a ``(frame, extractor)`` pair.
    """
    t = transcripts
    if cutoff_ts is not None:
        t = t.where(F.col("ts") <= F.lit(cutoff_ts))

    # chain mode: the recursion is pure window functions over
    # (conv_id, turn_idx) — no neighbor join, one shuffle total
    seeds = chain_seed_features(t, with_attributes=with_attributes)
    if chain_block_size:
        # skew bound: no window partition ever exceeds
        # block_size + 2*(max_generations-1) rows (heavy-tail
        # conversations stop pinning single tasks); halo depth
        # max_generations-1 keeps results identical (see
        # with_chain_blocks)
        seeds = with_chain_blocks(
            seeds, chain_block_size, halo=max(0, max_generations - 1)
        )
    rfe = RecursiveFeatureExtractor(
        max_generations=max_generations,
        aggs=aggs,
        seed_frame=seeds,
        chain_keys=("conv_id", "turn_idx"),
        checkpoint_dir=checkpoint_dir,
        prune=prune,
        model=model,
    )
    out = rfe.extract_features().drop("node")
    return (out, rfe) if return_extractor else out


def fit_transcript_features(transcripts: DataFrame, **kwargs):
    """Fit pass: extract features AND return the frozen
    :class:`FeatureModel` of the pruning decisions, for later
    :func:`transform_transcript_features` / incremental updates."""
    feats, rfe = extract_transcript_features(
        transcripts, return_extractor=True, **kwargs
    )
    return feats, rfe.fitted_model()


def transform_transcript_features(
    transcripts: DataFrame, model, **kwargs
) -> DataFrame:
    """Serve pass: replay a fitted model on (new) data.

    No histogram or Chebyshev statistics are recomputed — in chain mode
    the entire multi-generation recursion compiles to ONE lazy plan
    (window selects over a single conversation partitioning, zero
    driver actions, no extra exchanges), the configuration to use when
    transforming the 10^12-turn table with a model fitted on a sample
    or on yesterday's run. Output is bit-identical to the fit on the
    same input (tests/test_model.py).
    """
    return extract_transcript_features(transcripts, model=model, **kwargs)


def update_transcript_features(
    transcripts: DataFrame,
    delta: DataFrame,
    prev_features: DataFrame,
    model,
    **kwargs,
) -> DataFrame:
    """Incremental feature maintenance after an append of new turns.

    Every feature window partitions by ``conv_id``, so appended turns
    can only change features of their own conversations. Given the full
    updated table, the appended rows (``delta``), the previous feature
    frame and the frozen model, this recomputes exactly the dirty
    conversations and reuses the rest:

    * dirty set = distinct ``conv_id`` of ``delta`` — a daily append on
      a 10^12-turn corpus touches a small fraction of conversations, so
      the semi/anti joins broadcast the dirty list (AQE);
    * result is bit-identical to ``transform_transcript_features`` of
      the whole updated table under the same model (property-tested),
      at the cost of only the dirty conversations' recompute.
    """
    dirty = delta.select("conv_id").distinct()
    recomputed = transform_transcript_features(
        transcripts.join(dirty, "conv_id", "left_semi"), model, **kwargs
    )
    kept = prev_features.join(dirty, "conv_id", "left_anti")
    return kept.unionByName(recomputed.select(*kept.columns))
