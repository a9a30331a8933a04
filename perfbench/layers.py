"""Per-layer metrics of a traced run, and its human-readable report.

Inputs: the spans the benchmark recorded around each engine call, the
jobs and tasks of Spark's event log (mapped onto spans by job group, see
``spans.Attribution``) and a few numbers the workloads keep. Only spans
that start inside the timed part of the run count, and nothing under a
``bench.judge`` span (the oracle's own reads) counts anywhere.

A metric whose layer a workload does not exercise reads 0 (for example
``tail.*`` on ``backfill``); README.md maps each layer to its workloads.
"""

from __future__ import annotations

import glob
import os
import statistics

from .spans import Attribution, covered

# name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "proc.jvm_peak_rss_mb": "MB",
    "proc.py_peak_rss_mb": "MB",
    "spark.gc_s": "s",
    "tail.batches": "count",
    "tail.between_batches_s_p50": "s",
    "tail.between_batches_s_p90": "s",
    "tail.backlog_epochs_max": "count",
    "tail.generator_late_frac_max": "ratio",
    "tail.freshness_s_p50": "s",
    "tail.freshness_s_p90": "s",
    "apply.epoch_s_p50": "s",
    "apply.epoch_s_p90": "s",
    "apply.self_s": "s",
    "apply.jobs_per_epoch": "count",
    "apply.task_s": "s",
    "apply.shuffle_write_bytes": "bytes",
    "apply.events": "count",
    "apply.quarantined_rows": "count",
    "apply.skipped_epochs": "count",
    "apply.useful_ratio": "ratio",
    "lake.append_delta_s_p50": "s",
    "lake.append_delta_s_p90": "s",
    "lake.commit_driver_s_p50": "s",
    "lake.manifest_bytes_last": "bytes",
    "lake.manifest_versions": "count",
    "lake.files_written": "count",
    "lake.bytes_written": "bytes",
    "lake.compact_s": "s",
    "lake.compact_task_s": "s",
    "lake.compact_shuffle_bytes": "bytes",
    "lake.compact_spill_bytes": "bytes",
    "lake.compact_task_skew": "ratio",
    "lake.compact_files_out": "count",
    "lake.compact_rows_out_per_in": "ratio",
    "lake.keys_bound_over_actual": "ratio",
    "lake.compact_deltas_s": "s",
    "lake.vacuum_s": "s",
    "lake.vacuum_files_removed": "count",
    "lake.read_final_files": "count",
    "lake.read_final_task_s": "s",
    "lake.read_final_input_bytes": "bytes",
    "lake.point_lookup_input_bytes": "bytes",
    "lake.point_lookup_rows_read_per_result": "ratio",
    "lake.point_lookup_ms_p50": "ms",
    "lake.point_lookup_ms_p90": "ms",
    "lake.read_changes_s_p50": "s",
    "lake.read_changes_rows_read_per_row": "ratio",
    "feed.batch_s_p50": "s",
    "feed.sink_s_p50": "s",
    "feed.rows_per_batch": "count",
    "spark.jobs": "count",
    "spark.task_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.unattributed_frac": "ratio",
    "trace.unattributed_jobs": "count",
}

# spans that own the Spark jobs run beneath them (nearest one wins)
OWNERS = {
    "apply.apply_epoch", "lake.compact", "lake.compact_deltas", "lake.vacuum",
    "op.read_final", "op.lookup", "feed.run_available",
    "feed.sink", "bench.judge", "bench.input", "tail.run_available",
    "tail.live", "op.maintain",
}
COMPACTION = {"lake.compact", "lake.compact_deltas"}
INGEST_TRACES = {"bulk", "catchup", "live"}
WRITES = {"lake.append_delta", "lake.compact", "lake.compact_deltas"}


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1]); +inf propagates."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == float("inf"):
        return float("inf") if pos > lo or xs[lo] == float("inf") else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _judged(attr: Attribution, s) -> bool:
    """Whether the span is (under) the judge's own work."""
    while s is not None:
        if s.name == "bench.judge":
            return True
        s = attr.by_id.get(s.parent_id)
    return False


def timed_spans(run, attr: Attribution) -> list:
    """Spans that start in the timed part of the run, judge excluded."""
    return [s for s in attr.spans if s.t0 >= run.t_timed and not _judged(attr, s)]


def per_layer(run, attr: Attribution, session: dict) -> tuple[dict, dict]:
    """(metrics, bases): every PER_LAYER metric, and the numerator and
    denominator of each ratio."""
    spans = timed_spans(run, attr)
    named: dict[str, list] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)

    def durs(name):
        return [s.dur for s in named.get(name, [])]

    owned = attr.jobs_owned(OWNERS, OWNERS - {"bench.judge"})
    owned = {sid: js for sid, js in owned.items()
             if attr.by_id[sid].t0 >= run.t_timed}

    def tasks_for(names):
        return attr.tasks_of(j for sid, js in owned.items()
                             if attr.by_id[sid].name in names for j in js)

    def tsum(tasks, key):
        return sum(t[key] for t in tasks)

    m, bases = {}, {}
    m["session.start_s"] = session["start_s"]
    m["session.warmup_s"] = run.setup_reps[0] if run.setup_reps else 0.0
    m["proc.jvm_peak_rss_mb"] = session["jvm_rss_mb"]
    m["proc.py_peak_rss_mb"] = session["py_rss_mb"]
    all_jobs = [j for js in owned.values() for j in js]
    all_tasks = attr.tasks_of(all_jobs)
    m["spark.gc_s"] = tsum(all_tasks, "gc_s")

    # ingest batches: micro-batches on the streaming query's thread
    # (tail), the bulk applies (backfill); gaps are the time between one
    # batch's commit and the next batch's start within one ingest phase
    batches = [s for s in named.get("apply.apply_epoch", [])
               if s.trace_id in INGEST_TRACES]
    gaps = []
    by_phase: dict[str, list] = {}
    for s in batches:
        by_phase.setdefault(s.trace_id, []).append(s)
    for group in by_phase.values():
        group.sort(key=lambda s: s.t0)
        gaps += [b.t0 - a.t1 for a, b in zip(group, group[1:])]
    m["tail.batches"] = len(batches)
    m["tail.between_batches_s_p50"] = pct(gaps, 0.5)
    m["tail.between_batches_s_p90"] = pct(gaps, 0.9)
    m["tail.backlog_epochs_max"] = max(run.extras.get("backlog_depth", []), default=0)
    late = max(run.extras.get("late_s", []), default=0.0)
    interval = run.extras.get("interval_s", 0.0)
    m["tail.generator_late_frac_max"] = _ratio(late, interval)
    bases["tail.generator_late_frac_max"] = (late, interval)
    m["tail.freshness_s_p50"] = pct(run.samples.get("freshness", []), 0.5)
    m["tail.freshness_s_p90"] = pct(run.samples.get("freshness", []), 0.9)

    applies = named.get("apply.apply_epoch", [])
    applied = [s for s in applies if not s.attrs.get("skipped")]
    apply_jobs = [j for sid, js in owned.items()
                  if attr.by_id[sid].name == "apply.apply_epoch" for j in js]
    apply_tasks = attr.tasks_of(apply_jobs)
    m["apply.epoch_s_p50"] = pct(durs("apply.apply_epoch"), 0.5)
    m["apply.epoch_s_p90"] = pct(durs("apply.apply_epoch"), 0.9)
    m["apply.self_s"] = sum(attr.self_time(s) for s in applies)
    m["apply.jobs_per_epoch"] = _ratio(len(apply_jobs), len(applied))
    bases["apply.jobs_per_epoch"] = (len(apply_jobs), len(applied))
    m["apply.task_s"] = tsum(apply_tasks, "run_s")
    m["apply.shuffle_write_bytes"] = tsum(apply_tasks, "shuffle_write")
    m["apply.events"] = sum((s.attrs.get("upserts") or 0) + (s.attrs.get("deletes") or 0)
                            + (s.attrs.get("quarantined") or 0) for s in applied)
    m["apply.quarantined_rows"] = sum(s.attrs.get("quarantined") or 0 for s in applied)
    m["apply.skipped_epochs"] = len(applies) - len(applied)
    m["apply.useful_ratio"] = _ratio(len(applied), len(applies))
    bases["apply.useful_ratio"] = (len(applied), len(applies))

    appends = named.get("lake.append_delta", [])
    m["lake.append_delta_s_p50"] = pct(durs("lake.append_delta"), 0.5)
    m["lake.append_delta_s_p90"] = pct(durs("lake.append_delta"), 0.9)
    m["lake.commit_driver_s_p50"] = pct(
        [s.dur - attr.job_time_in(s, [j for j, sid in attr.job_span.items()
                                      if sid == s.span_id]) for s in appends], 0.5)
    mdir = os.path.join(run.extras.get("table", ""), "manifest")
    versions = sorted(glob.glob(os.path.join(mdir, "v*.json")),
                      key=lambda p: int(os.path.basename(p)[1:-5]))
    m["lake.manifest_bytes_last"] = os.path.getsize(versions[-1]) if versions else 0
    m["lake.manifest_versions"] = len(versions)

    def top(names):
        """Spans named in ``names`` with no ancestor named in ``names``."""
        out = []
        for s in spans:
            if s.name not in names:
                continue
            p = attr.by_id.get(s.parent_id)
            while p is not None and p.name not in names:
                p = attr.by_id.get(p.parent_id)
            if p is None:
                out.append(s)
        return out

    writes = top(WRITES)
    m["lake.files_written"] = sum(s.attrs.get("files_added", 0) for s in writes)
    m["lake.bytes_written"] = sum(s.attrs.get("bytes_added", 0) for s in writes)

    comp = top(COMPACTION)
    comp_tasks = tasks_for(COMPACTION)
    m["lake.compact_s"] = sum(durs("lake.compact"))
    m["lake.compact_task_s"] = tsum(comp_tasks, "run_s")
    m["lake.compact_shuffle_bytes"] = tsum(comp_tasks, "shuffle_write")
    m["lake.compact_spill_bytes"] = tsum(comp_tasks, "spill")
    skews = []
    for sid, js in owned.items():
        if attr.by_id[sid].name not in COMPACTION:
            continue
        by_stage: dict[int, list] = {}
        for t in attr.tasks_of(js):
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        runs = max(by_stage.values(), key=sum, default=[])
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    m["lake.compact_task_skew"] = pct(skews, 0.5)
    m["lake.compact_files_out"] = sum(s.attrs.get("files_added", 0) for s in comp)
    rows_in = sum(s.attrs.get("rows_removed", 0) for s in comp)
    rows_out = sum(s.attrs.get("rows_added", 0) for s in comp)
    m["lake.compact_rows_out_per_in"] = _ratio(rows_out, rows_in)
    bases["lake.compact_rows_out_per_in"] = (rows_out, rows_in)
    kb = [(s.attrs["keys_bound_before"], s.attrs["keys_bound_after"])
          for s in named.get("lake.compact", []) if s.attrs.get("full")
          and s.attrs.get("keys_bound_before") and s.attrs.get("keys_bound_after")]
    m["lake.keys_bound_over_actual"] = pct([a / b for a, b in kb], 0.5)
    bases["lake.keys_bound_over_actual"] = kb
    m["lake.compact_deltas_s"] = sum(durs("lake.compact_deltas"))
    m["lake.vacuum_s"] = sum(durs("lake.vacuum"))
    m["lake.vacuum_files_removed"] = sum(s.attrs.get("files_removed", 0)
                                         for s in named.get("lake.vacuum", []))

    reads = named.get("op.read_final", [])
    rf_tasks = tasks_for({"op.read_final"})
    m["lake.read_final_files"] = pct([s.attrs.get("files", 0)
                                      for s in named.get("lake.read_final", [])], 0.5)
    m["lake.read_final_task_s"] = _ratio(tsum(rf_tasks, "run_s"), len(reads))
    m["lake.read_final_input_bytes"] = _ratio(tsum(rf_tasks, "in_bytes"), len(reads))

    lk = named.get("op.lookup", [])
    lk_tasks = tasks_for({"op.lookup"})
    results = sum(run.samples.get("lookup_rows", []))
    m["lake.point_lookup_input_bytes"] = _ratio(tsum(lk_tasks, "in_bytes"), len(lk))
    m["lake.point_lookup_rows_read_per_result"] = _ratio(tsum(lk_tasks, "in_rows"), results)
    bases["lake.point_lookup_rows_read_per_result"] = (tsum(lk_tasks, "in_rows"), results)
    m["lake.point_lookup_ms_p50"] = 1000.0 * pct(run.samples.get("lookup", []), 0.5)
    m["lake.point_lookup_ms_p90"] = 1000.0 * pct(run.samples.get("lookup", []), 0.9)

    per_feed = []
    for f in named.get("feed.run_available", []):
        kids = attr.children.get(f.span_id, [])
        per_feed.append(sum(k.dur for k in kids
                            if k.name in ("lake.read_changes", "feed.sink")))
    feed_rows = sum(run.samples.get("feed_rows", []))
    feed_in = tsum(tasks_for({"feed.sink", "feed.run_available"}), "in_rows")
    m["lake.read_changes_s_p50"] = pct(per_feed, 0.5)
    m["lake.read_changes_rows_read_per_row"] = _ratio(feed_in, feed_rows)
    bases["lake.read_changes_rows_read_per_row"] = (feed_in, feed_rows)
    m["feed.batch_s_p50"] = pct(durs("feed.run_available"), 0.5)
    m["feed.sink_s_p50"] = pct(durs("feed.sink"), 0.5)
    m["feed.rows_per_batch"] = _ratio(feed_rows, len(run.samples.get("feed_rows", [])))

    m["spark.jobs"] = len(all_jobs)
    m["spark.task_s"] = tsum(all_tasks, "run_s")
    m["spark.shuffle_bytes"] = tsum(all_tasks, "shuffle_write")
    m["spark.spill_bytes"] = tsum(all_tasks, "spill")

    wall = run.timed_wall()
    in_windows = [(max(s.t0, w0), min(s.t1, w1)) for s in spans
                  for w0, w1 in run.windows]
    unattributed = max(0.0, wall - covered(in_windows))
    m["trace.unattributed_frac"] = _ratio(unattributed, wall)
    bases["trace.unattributed_frac"] = (unattributed, wall)
    m["trace.unattributed_jobs"] = attr.unattributed_jobs
    return {k: float(m[k]) for k in PER_LAYER}, bases


def report(run, attr: Attribution, bases: dict) -> list[str]:
    """Self time per span name inside the timed windows, the
    unattributed share of the closed-loop wall, and every ratio with its
    base."""
    lines = [f"[{run.workload}] self time per span (timed part, judge excluded)",
             f"  {'span':28s} {'n':>5s} {'wall_s':>9s} {'self_s':>9s}"]
    rows: dict[str, list] = {}
    for s in timed_spans(run, attr):
        r = rows.setdefault(s.name, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s.dur
        r[2] += attr.self_time(s)
    for name, (n, wall, self_s) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"  {name:28s} {n:5d} {wall:9.3f} {self_s:9.3f}")
    for k, v in bases.items():
        lines.append(f"  base {k}: {v}")
    return lines
