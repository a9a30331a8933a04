"""The benchmark's own tests (not part of the repository's tier-1 suite).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

A toy-size traced run of every workload in one Spark session must emit
every metric BENCHMARK.json declares, with its unit, and judge itself
correct; a corrupted oracle row or a withheld epoch must be caught. The
vectorized validity rule and the incremental replay the judge uses are
checked against the generator's own oracle, and so is the judge's
vectorized copy of that oracle.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from bitcoin_etl_spark.changelog import ChangeLogSpec, generate_scenario  # noqa: E402
from bitcoin_etl_spark.changelog.generator import (  # noqa: E402
    compute_oracle, is_valid_event,
)
from perfbench import judge as J  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END, Session, run_one  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]},
            [w["name"] for w in b["workloads"]])


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    s = Session(work, trace=True)
    yield s, work
    s.close()


def test_declared_metrics_match_the_code():
    e2e, per_layer, workloads = _declared()
    assert e2e == END_TO_END
    assert per_layer == PER_LAYER
    assert tuple(workloads) == WORKLOADS


@pytest.mark.parametrize("workload", WORKLOADS)
def test_toy_run_emits_every_metric(session, workload):
    sess, work = session
    e2e, per_layer, _ = _declared()
    rec = run_one(sess, workload, seed=3, seconds=1, trace=True, scale="toy", work=work)
    assert rec["failed"] == 0, rec["errors"]
    assert rec["attempted"] > 0
    assert set(rec["end_to_end"]) == set(e2e)
    assert set(rec["per_layer"]) == set(per_layer)
    assert rec["end_to_end"]["ok_ops_frac"] == 1.0
    assert rec["per_layer"]["trace.unattributed_frac"] < 0.05


@pytest.mark.parametrize("workload,fault", [("backfill", "oracle"), ("tail", "withhold")])
def test_judge_catches_faults(session, workload, fault):
    sess, work = session
    rec = run_one(sess, workload, seed=4, seconds=1, trace=False, scale="toy",
                  work=work, fault=fault)
    assert rec["failed"] > 0
    assert rec["end_to_end"]["ok_ops_frac"] < 1.0


def test_valid_mask_and_replay_match_the_generator_oracle(tmp_path):
    spec = ChangeLogSpec(n_epochs=4, events_per_epoch=400, n_keys=300, seed=7,
                         zipf_a=1.2, bad_row_frac=0.05, reorgs=[(2, 3)],
                         evolution_epoch=2, replay_epochs=[1])
    generate_scenario(str(tmp_path), spec)
    frames = [pd.concat([pd.read_parquet(p) for p in sorted(glob.glob(f"{d}/*.parquet"))],
                        ignore_index=True)
              for d in sorted(glob.glob(f"{tmp_path}/changes/epoch=*"))]
    for f in frames:
        assert (J.valid_mask(f) == is_valid_event(f)).all()
    replay = J.Replay()
    for f in frames:
        replay.apply(f)
    expected = J.images(compute_oracle(frames))
    assert J.diff_states(replay.live_images(), expected) == []
    assert J.diff_states(J.images(J.oracle(frames)), expected) == []
