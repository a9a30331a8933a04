"""The two workloads, ``backfill`` and ``tail``.

Each run has an ingest phase, which differs per workload, and a serving
phase, which is the same code on both, run on the table the ingest phase
left behind:

* ``backfill`` ingests by bulk replay: large groups of epochs applied
  back to back with ``bench.py``'s scale-path settings, then a full
  ``compact`` and a ``read_final().count()`` (closed loop).
* ``tail`` ingests by streaming: ``ChangeLogTailer`` drains a pre-landed
  backlog one file per micro-batch (closed loop) and the table is read
  back once; then a new query on the same checkpoint follows a
  lander thread that renames one small epoch into the log at a fixed
  interval, ``INTERVAL_FACTOR`` times the catch-up's wall per epoch (open
  loop; it yields freshness, which is reported per layer only).
* serving rounds (closed loop, one client): two small-epoch commits,
  one change-feed increment, point lookups over a seeded key mix,
  maintenance from ``plan_compaction`` (minor fold, bucket compaction,
  ``vacuum``) and two ``read_final().count()``. The first round is judged
  but records no latency: it warms the serving calls at the table's
  real size, so the sampled rounds that follow are alike.

Inputs come from the repository's change-log generator, seeded from
``--seed``; ``prepare_*`` builds them and the judge's expectations with
pandas only, before Spark starts. The amount of work is fixed per run
and sized from ``--seconds`` (live epochs and serving rounds), so every
epoch the generator wrote is applied and the final state is judged
against ``compute_oracle``'s rule over the whole log.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time

import numpy as np
import pandas as pd

from bitcoin_etl_spark.changelog import ChangeLogSpec
from bitcoin_etl_spark.operators import EpochApplier
from bitcoin_etl_spark.schemas import CHANGES_SCHEMA, CHANGES_SCHEMA_EVOLVED
from bitcoin_etl_spark.streaming import ChangeLogTailer

from . import judge as J
from .harness import (
    INF, Run, dir_bytes, epoch_df, epoch_dirs, epoch_of, expected_final,
    feed_once, feed_tailer, instrument_applier, judge_final, key_mix, lookups,
    new_table, read_events, setup_reps,
)

WORKLOADS = ("backfill", "tail")
SCALE_PATH = dict(pre_reduce=False, quarantine_mode="lazy")

SIZES = {
    "full": {
        "backfill": dict(epoch_events=2_500, bulk_epochs=32, bulk_groups=8,
                         keys=50_000, buckets=16, lookups=1,
                         keep_versions=4, round_s=7),
        "tail": dict(epoch_events=500, backlog=6, keys=20_000, buckets=16,
                     compact_every=3, lookups=1, keep_versions=4, round_s=7),
    },
    "toy": {
        "backfill": dict(epoch_events=300, bulk_epochs=4, bulk_groups=2,
                         keys=800, buckets=4, lookups=3,
                         keep_versions=4, round_s=60, min_rounds=1,
                         setup_reps=1),
        "tail": dict(epoch_events=200, backlog=3, keys=800, buckets=4,
                     compact_every=3, lookups=3, keep_versions=4,
                     round_s=60, min_rounds=1, setup_reps=1),
    },
}
# tail's live phase: one epoch per LIVE_S seconds of the run, landed
# every INTERVAL_FACTOR times the catch-up's wall per backlog epoch, kept
# within INTERVAL_S (seconds)
LIVE_S = 5
# small-epoch commits per serving round; the round's feed increment
# covers them all
ROUND_COMMITS = 2
INTERVAL_FACTOR = 1.5
INTERVAL_S = (0.1, 4.0)


def n_rounds(seconds: int, p: dict) -> int:
    """Serving rounds: the unsampled first one, then one per ``round_s``
    seconds of the run."""
    return 1 + max(p.get("min_rounds", 2), seconds // p["round_s"])


def n_round_epochs(seconds: int, p: dict) -> int:
    return n_rounds(seconds, p) * ROUND_COMMITS


def n_live(seconds: int) -> int:
    return max(3, seconds // LIVE_S)


def input_spec(workload: str, seed: int, seconds: int, p: dict) -> ChangeLogSpec:
    """Zipf(1.2) hot keys, 30% updates, 5% deletes, one reorg, bad rows;
    ``tail`` adds a replayed epoch file and a schema-evolution epoch."""
    common = dict(seed=seed, zipf_a=1.2, update_frac=0.3, delete_frac=0.05,
                  events_per_epoch=p["epoch_events"], n_keys=p["keys"])
    if workload == "backfill":
        return ChangeLogSpec(n_epochs=p["bulk_epochs"] + n_round_epochs(seconds, p),
                             bad_row_frac=0.001, reorgs=[(p["bulk_epochs"] // 2, 5)],
                             **common)
    streamed = p["backlog"] + n_live(seconds)
    return ChangeLogSpec(
        n_epochs=streamed + n_round_epochs(seconds, p), bad_row_frac=0.01,
        reorgs=[(p["backlog"] // 2 + 1, 5)], replay_epochs=[p["backlog"] // 2],
        evolution_epoch=streamed // 2, **common)


def _replay_of(dirs: list[str]) -> J.Replay:
    replay = J.Replay()
    replay.apply(pd.concat([read_events(d) for d in dirs], ignore_index=True))
    replay.pending = {}
    return replay


def _rounds_prep(dirs: list[str], per_round: int, fault: str | None) -> dict:
    return {"rounds": [dirs[i:i + per_round] for i in range(0, len(dirs), per_round)],
            "round_events": {epoch_of(d): read_events(d) for d in dirs},
            "withheld": {epoch_of(dirs[0])} if fault == "withhold" else set()}


# ----------------------------------------------------------------- serving
def serve_rounds(run: Run, table, prep: dict) -> None:
    """The serving phase: one closed-loop client, ``len(prep["rounds"])``
    rounds, every answer judged against the incremental replay; round 0
    records no latency samples."""
    p, spark, replay = run.p, run.spark, prep["replay"]
    applier = EpochApplier(table, pipeline_id="serve", **SCALE_PATH)
    instrument_applier(run, applier)
    got: list = []
    cursor = os.path.join(os.path.dirname(table.path), "feed-cursor.json")
    if os.path.exists(cursor):
        os.unlink(cursor)
    ft = feed_tailer(run, table, cursor, got)
    ft.run_available()  # with no cursor yet, this pins it at the head
    rng = np.random.default_rng(run.seed)
    run.extras["t_serve"] = time.time()
    for r, dirs in enumerate(prep["rounds"]):
        sampled = r > 0
        run.tracer.trace_id = f"round-{r}"
        t0 = time.time()
        recent: list = []
        for d in dirs:
            e = epoch_of(d)
            events = prep["round_events"][e]
            if e not in prep["withheld"]:
                df = epoch_df(run, d, prep["schema"])
                with run.op("commit", record=sampled):
                    applier.apply_epoch(spark, df, e)
            with run.judging():
                replay.apply(events)
            recent += events["doc_id"].tolist()
        feed_once(run, ft, got, replay.expected_feed(), record=sampled)
        if sampled:
            keys = key_mix(rng, recent, p["keys"], p["lookups"])
            lookups(run, table, lambda k: replay.state.get(k, (0, None))[1], keys)
        with run.op("maintain", record=False):
            # the engine's default thresholds (32 unbucketed files, 8
            # delta files per bucket): nothing comes due within a run, so
            # every sampled round meets the layout of the one before plus
            # its delta commits, and the rounds' samples are alike
            plan = table.plan_compaction()
            if plan["minor"]:
                table.compact_deltas(spark)
            if plan["buckets"]:
                table.compact(spark, buckets=set(plan["buckets"]))
            # the feed cursor lags the head by at most the versions
            # maintenance publishes, so four keeps it retained
            table.vacuum(keep_versions=p["keep_versions"])
        # two reads per sampled round: one slow read (a GC pause, a host
        # burst) then moves the run's median by a quarter of its excess
        for _ in range(2 if sampled else 1):
            read_back(run, table, len(replay.state), record=sampled)
        run.windows.append((t0, time.time()))


def read_back(run: Run, table, rows: int, record: bool) -> bool:
    """One judged ``read_final().count()``; whether it succeeded.
    ``record`` makes its wall a ``read_final_s`` sample."""
    with run.op("read_final", record=record) as h:
        n = table.read_final(run.spark).count()
    if h.ok and n != rows:
        run.fail(h, f"read_final count {n} != {rows}")
    return h.ok


def finish(run: Run, table, prep: dict) -> None:
    """Judge the final state against the oracle and measure the
    bytes stored per live row: the current snapshot's data files, every
    manifest and the quarantine, after a last ``vacuum`` drops the files
    only older snapshots reference (their count depends on the
    retention window, not on the workload)."""
    run.extras["t_finish"] = time.time()
    judge_final(run, table, prep["expected"])
    with run.judging():
        table.vacuum(keep_versions=1)
        run.sample("stored_bytes_per_row",
                   dir_bytes(table.path) / max(1, len(prep["expected"])))


# ---------------------------------------------------------------- backfill
def prepare_backfill(inputs: dict, p: dict, seconds: int, fault: str | None,
                     work: str) -> dict:
    dirs = epoch_dirs(os.path.join(inputs["dir"], "changes"))
    bulk = dirs[:p["bulk_epochs"]]
    return {"changes": os.path.dirname(dirs[0]),
            "groups": [list(g) for g in np.array_split(np.array(bulk), p["bulk_groups"])],
            "first": dirs[0], "replay": _replay_of(bulk),
            "expected": expected_final(inputs, fault), "schema": CHANGES_SCHEMA,
            **_rounds_prep(dirs[len(bulk):], ROUND_COMMITS, fault)}


def run_backfill(run: Run, prep: dict) -> None:
    p, spark = run.p, run.spark
    setup_reps(run, prep["first"], SCALE_PATH, stream=False, reps=p.get("setup_reps", 3))
    run.t_timed = time.time()
    table = new_table(run, os.path.join(run.work, "tables", "backfill", "t"),
                      assume_unique_rev=True)
    applier = EpochApplier(table, pipeline_id="bench", **SCALE_PATH)
    instrument_applier(run, applier)
    run.tracer.trace_id = "bulk"
    events, ok = 0, True
    t0 = time.time()
    for gi, group in enumerate(prep["groups"]):
        t_call = time.time()
        with run.op("bulk_commit", record=False) as h:
            df = (spark.read.schema(CHANGES_SCHEMA).option("basePath", prep["changes"])
                  .parquet(*group))
            res = applier.apply_epoch(spark, df, gi)
            n = res.get("upserts", 0) + res.get("deletes", 0)
            events += n
        now = time.time()
        run.sample("catchup_events_per_s", n / (now - t_call) if h.ok else 0.0)
        # every bulk epoch is available when the replay starts
        run.sample("freshness", now - t0 if h.ok else INF)
        ok &= h.ok
    with run.op("compact", record=False) as h:
        table.compact(spark)
    ok &= h.ok
    # the read closes the replay wall (the bench.py shape)
    ok &= read_back(run, table, len(prep["replay"].state), record=False)
    wall = time.time() - t0
    run.windows.append((t0, time.time()))
    run.sample("events_per_s", events / wall if ok else 0.0)
    serve_rounds(run, table, prep)
    finish(run, table, prep)


# -------------------------------------------------------------------- tail
def prepare_tail(inputs: dict, p: dict, seconds: int, fault: str | None,
                 work: str) -> dict:
    """Copy the backlog into the change-log dir and the live epochs into a
    staging dir, and note each streamed epoch's event count and last
    valid ``seq`` (the freshness end point)."""
    src = epoch_dirs(os.path.join(inputs["dir"], "changes"))
    streamed = p["backlog"] + n_live(seconds)
    backlog, live, rounds = src[:p["backlog"]], src[p["backlog"]:streamed], src[streamed:]
    landed = live
    if fault == "withhold":
        landed = live[:len(live) // 2] + live[len(live) // 2 + 1:]
    base = os.path.join(work, "tables", "tail")
    shutil.rmtree(base, ignore_errors=True)
    changes, staging = os.path.join(base, "changes"), os.path.join(base, "staging")
    # the file source orders files by mtime (millisecond resolution):
    # space them a second apart so one-file micro-batches follow the log
    t_file = time.time() - 3600
    for dst, group in ((changes, backlog), (staging, landed)):
        for d in group:
            os.makedirs(os.path.join(dst, os.path.basename(d)))
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                out = os.path.join(dst, os.path.basename(d), os.path.basename(f))
                shutil.copyfile(f, out)
                t_file += 1
                os.utime(out, (t_file, t_file))
    last_seq, n_events = {}, {}
    for d in src[:streamed]:
        ev = read_events(d)
        last_seq[epoch_of(d)] = int(ev["seq"][J.valid_mask(ev)].max())
        n_events[epoch_of(d)] = len(ev)
    return {"base": base, "changes": changes, "staging": staging,
            "backlog": [epoch_of(d) for d in backlog],
            "live": [epoch_of(d) for d in landed], "first": backlog[0],
            "last_seq": last_seq, "n_events": n_events,
            "replay": _replay_of(src[:streamed]),
            "backlog_rows": len(_replay_of(backlog).state),
            "expected": expected_final(inputs, fault), "schema": CHANGES_SCHEMA_EVOLVED,
            **_rounds_prep(rounds, ROUND_COMMITS, fault=None)}


def run_tail(run: Run, prep: dict) -> None:
    p, spark = run.p, run.spark
    last_seq, n_events = prep["last_seq"], prep["n_events"]
    setup_reps(run, prep["first"], {}, stream=True, reps=p.get("setup_reps", 3))
    table = new_table(run, os.path.join(prep["base"], "table"))
    applier = EpochApplier(table, pipeline_id="tail", compact_every=p["compact_every"])
    commits: list[tuple[float, float, int]] = []
    instrument_applier(run, applier, commits)
    ckpt = os.path.join(prep["base"], "ckpt")

    def committed() -> int:
        return max((c[2] for c in commits), default=-1)

    run.t_timed = time.time()
    tailer = ChangeLogTailer(spark, prep["changes"], applier, ckpt,
                             schema=CHANGES_SCHEMA_EVOLVED, max_files_per_trigger=1)
    run.tracer.wrap(tailer, "run_available", "tail.run_available")
    run.tracer.wrap(tailer, "start", "tail.start")
    run.tracer.trace_id = "catchup"
    t0 = time.time()
    with run.op("catchup", record=False) as h:
        tailer.run_available(timeout_s=60)
    wall = time.time() - t0
    # run_available returns silently on timeout: a partial drain is
    # counted here, one failed op per backlog epoch left behind
    undrained = [e for e in prep["backlog"] if last_seq[e] > committed()]
    if undrained:
        run.fail(h, f"partial drain: {len(undrained)} backlog epochs not committed")
        run.fail(None, "partial drain", count=len(undrained) - 1)
    # the read closes the ingest wall, as on backfill
    ok = read_back(run, table, prep["backlog_rows"], record=False) and h.ok
    read_wall = time.time() - t0
    run.windows.append((t0, time.time()))
    ev_backlog = sum(n_events[e] for e in prep["backlog"])
    run.sample("catchup_events_per_s", ev_backlog / wall if ok else 0.0)
    run.sample("events_per_s", ev_backlog / read_wall if ok else 0.0)

    # open loop: land one epoch every ``interval`` seconds, a fixed
    # multiple of the catch-up's per-epoch cost, whatever the engine does
    lo, hi = INTERVAL_S
    interval = min(hi, max(lo, INTERVAL_FACTOR * wall / len(prep["backlog"])))
    run.extras["interval_s"] = interval
    landed: dict[int, float] = {}
    late, depth = [], []

    def lander(t_start: float) -> None:
        for i, e in enumerate(prep["live"]):
            due = t_start + i * interval
            time.sleep(max(0.0, due - time.time()))
            os.rename(os.path.join(prep["staging"], f"epoch={e}"),
                      os.path.join(prep["changes"], f"epoch={e}"))
            now = time.time()
            landed[e] = now
            late.append(now - due)
            c = committed()
            depth.append(sum(1 for x in landed if last_seq[x] > c))

    tailer2 = ChangeLogTailer(spark, prep["changes"], applier, ckpt,
                              schema=CHANGES_SCHEMA_EVOLVED)
    run.tracer.wrap(tailer2, "start", "tail.start")
    run.tracer.trace_id = "live"
    last_live = max(last_seq[e] for e in prep["live"])
    with run.tracer.span("tail.live"):
        q = tailer2.start()
        t_live = time.time()
        th = threading.Thread(target=lander, args=(t_live,), name="lander", daemon=True)
        th.start()
        th.join(timeout=len(prep["live"]) * interval + 10)
        drain_deadline = time.time() + 40
        while committed() < last_live and time.time() < drain_deadline and q.isActive:
            time.sleep(0.01)
        q.stop()
    if th.is_alive():
        run.fail(None, "lander did not finish")
    if q.exception() is not None:
        run.fail(None, f"live query failed: {q.exception()}"[:300])
    run.extras.update(late_s=late, backlog_depth=depth)
    for e in prep["live"]:
        done = next((t1 for _t0, t1, s in commits if s >= last_seq[e]), None)
        if e not in landed or done is None:
            run.fail(None, f"live epoch {e} not committed within the drain timeout")
            run.sample("freshness", INF)
        else:
            run.attempted += 1
            run.sample("freshness", done - landed[e])
    serve_rounds(run, table, prep)
    finish(run, table, prep)


PREPARE = {"backfill": prepare_backfill, "tail": prepare_tail}
RUN = {"backfill": run_backfill, "tail": run_tail}
