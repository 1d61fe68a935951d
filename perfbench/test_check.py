"""The independent checker must flag broken outputs.

    python3 -m pytest perfbench/test_check.py -q

Each test produces real program outputs on a small seeded input, shows
the checker passes them, then breaks them the way a fault would and
shows the checker fails them: a perturbed feature value, a leaked row
past its cutoff, and a store that missed one append file.
"""

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import inputs  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = ROOT
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("local"))
    from graphrole_spark.session import get_spark

    s = get_spark("perfbench_check_tests", cores=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def fit_outputs(spark, tmp_path_factory):
    from graphrole_spark import pipeline

    out = tmp_path_factory.mktemp("fit")
    shape = inputs.Shape(pool=200, light=20, heavy=1, heavy_len=120, label_frac=0.5)
    inp = inputs.build(spark, shape, 7, str(out / "inputs"))
    feats = pipeline.extract_features_at_cutoffs(
        spark.read.parquet(inp.transcripts_dir), inp.cutoffs, max_generations=3
    ).toPandas()
    return inp, feats, list(check.seconds(inp.cutoffs))


def test_perturbed_feature_value_is_flagged(fit_outputs):
    inp, feats, cuts = fit_outputs
    assert check.check_features(feats, inp.turns, cuts, inp.sample_convs) == []
    bad = feats.copy()
    row = bad.index[bad["conv_id"] == inp.sample_convs[-1]][5]  # heavy-tail conversation
    col = check.feature_names(bad.columns)[-1]
    bad.loc[row, col] += 1e-3
    problems = check.check_features(bad, inp.turns, cuts, inp.sample_convs)
    assert len(problems) == 1 and col in problems[0]


def test_leaked_row_past_cutoff_is_flagged(fit_outputs):
    inp, feats, cuts = fit_outputs
    keys = feats[["conv_id", "turn_idx", "cutoff_ts"]]
    assert check.check_coverage(keys, inp.turns, cuts) == []
    first = feats["cutoff_ts"].min()
    late = inp.turns[inp.turns["ts_s"] > cuts[0]].iloc[0]
    leaked = pd.DataFrame({"conv_id": [late["conv_id"]], "turn_idx": [late["turn_idx"]],
                           "cutoff_ts": [first]})
    problems = check.check_coverage(pd.concat([keys, leaked]), inp.turns, cuts)
    assert len(problems) == 1 and "1 rows beyond the cutoff" in problems[0]


def test_dropped_append_file_is_flagged(spark, tmp_path):
    from graphrole_spark import pipeline
    from graphrole_spark.streaming import maintenance

    shape = inputs.Shape(pool=200, light=30, heavy=1, heavy_len=100,
                         append_convs=8, append_files=2)
    inp = inputs.build(spark, shape, 11, str(tmp_path / "inputs"))
    base = spark.read.parquet(inp.transcripts_dir)
    _, model = pipeline.fit_transcript_features(base, max_generations=3)

    def drained_store(name, files):
        src = tmp_path / f"src_{name}"
        src.mkdir()
        for f in files:
            shutil.copy2(os.path.join(inp.appends_dir, f), src)
        store = str(tmp_path / f"store_{name}")
        maintenance.bootstrap_feature_store(spark, base, model, store, n_buckets=8)
        maintenance.maintain_available_now(spark, str(src), model, store, n_buckets=8,
                                           checkpoint_dir=str(tmp_path / f"ckpt_{name}"))
        return (maintenance.read_features(spark, store).toPandas(),
                spark.read.parquet(os.path.join(store, "turns")).toPandas())

    files = sorted(os.listdir(inp.appends_dir))
    feats, turns = drained_store("all", files)
    assert check.check_store(feats, turns, inp.turns, inp.sample_convs) == []
    feats, turns = drained_store("dropped", files[1:])
    problems = check.check_store(feats, turns, inp.turns, inp.sample_convs)
    missing = len(inp.append_turns[0])
    assert f"store features: 0 unknown turns, {missing} turns missing" in problems
    assert f"store turns: 0 unknown turns, {missing} turns missing" in problems


def test_served_cutoff_is_latest_in_window():
    cuts = [10.0, 20.0, 30.0]
    got = check.served_cutoff(np.array([5.0, 15.0, 25.0, 31.0]),
                              np.array([25.0, 15.0, 40.0, 50.0]), cuts)
    assert np.array_equal(got, [20.0, np.nan, 30.0, np.nan], equal_nan=True)
