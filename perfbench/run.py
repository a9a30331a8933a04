#!/usr/bin/env python3
"""CDC engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with the engine unwrapped; ``--trace 1`` wraps the engine's
public methods in spans, turns on Spark's event log and reports the
per-layer metrics instead. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The full record (host
environment, input fingerprint, every metric, the traced report) goes to
``.perfbench_work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# name -> unit; every run reports all of them (README.md defines each
# per workload)
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "catchup_events_per_s": "events/s",
    "read_final_s": "s",
    "commit_p50_s": "s",
    "feed_p50_s": "s",
    "ok_ops_frac": "ratio",
    "stored_bytes_per_row": "bytes/row",
}
# a failed op enters percentiles as +inf; JSON carries it as this value
FAILED_SENTINEL = 1e9


def process_start() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


class Session:
    """One SparkSession sized to the host, with every scratch path inside
    ``work``; ``close`` stops Spark and waits for the JVM to exit."""

    def __init__(self, work: str, trace: bool):
        from perfbench import hostenv

        from bitcoin_etl_spark.session import get_spark

        self.cores = hostenv.spark_cores()
        heap = hostenv.driver_heap_mb(hostenv.mem_total_mb())
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        self.event_dir = os.path.join(work, "eventlog")
        for d in (tmp, local, self.event_dir):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        conf = {
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            })
        self.spark = get_spark(app_name="perfbench", cores=self.cores,
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.t_ready = time.time()
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def event_log(self) -> str:
        """Path of this application's event log, once every event posted
        so far has reached it (job ends flush the writer)."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return glob.glob(os.path.join(self.event_dir, sc.applicationId + "*"))[0]

    def close(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        # the event log has been read into the run's record; drop it
        for f in glob.glob(os.path.join(self.event_dir, app + "*")):
            os.unlink(f)
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — make sure it is gone
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def prepare(workload: str, seed: int, seconds: int, scale: str,
            fault: str | None, work: str) -> tuple[dict, dict]:
    from perfbench import harness, workloads as W

    p = W.SIZES[scale][workload]
    inputs = harness.ensure_inputs(work, workload, W.input_spec(workload, seed, seconds, p))
    return inputs, W.PREPARE[workload](inputs, p, seconds, fault, work)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(run, session_start_s: float) -> dict:
    from perfbench.layers import pct

    s = run.samples
    return {
        "setup_s": session_start_s + _median(run.setup_reps),
        "events_per_s": _median(s.get("events_per_s", [])),
        "catchup_events_per_s": _median(s.get("catchup_events_per_s", [])),
        "read_final_s": _median(s.get("read_final", [])),
        "commit_p50_s": pct(s.get("commit", []), 0.5),
        "feed_p50_s": pct(s.get("feed", []), 0.5),
        "ok_ops_frac": 1.0 - run.failed / max(1, run.attempted),
        "stored_bytes_per_row": _median(s.get("stored_bytes_per_row", [])),
    }


def run_one(sess: Session, workload: str, seed: int, seconds: int, trace: bool,
            scale: str = "full", fault: str | None = None, work: str = WORK,
            prepared=None, session_start_s: float = 0.0) -> dict:
    """Run one workload on an open session; returns the full record."""
    from perfbench import harness, hostenv, layers, workloads as W
    from perfbench.spans import Attribution, Tracer, read_event_log

    inputs, prep = prepared or prepare(workload, seed, seconds, scale, fault, work)
    tracer = Tracer(trace)
    if trace:
        tracer.sc = sess.spark.sparkContext
    run = harness.Run(workload, seed, W.SIZES[scale][workload], work, sess.spark, tracer)
    ticks0 = hostenv.cpu_ticks()
    t_env = time.time()
    env = hostenv.environment(sess.spark)
    env["probe_before"] = hostenv.probe_ceiling(sess.spark, sess.cores)
    t_run = time.time()
    W.RUN[workload](run, prep)
    t_end = time.time()
    env["probe_after"] = hostenv.probe_ceiling(sess.spark, sess.cores)
    env["steal_pct"] = hostenv.steal_pct(ticks0, hostenv.cpu_ticks())
    e2e = end_to_end(run, session_start_s)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "scale": scale,
        "trace": int(trace), "fault": fault, "env": env,
        "input": {k: inputs[k] for k in ("sha256", "events", "spec")},
        "attempted": run.attempted, "failed": run.failed,
        "errors": run.errors[:20], "end_to_end": e2e,
        "setup_reps_s": run.setup_reps,
        "samples": {k: [round(x, 4) for x in v] for k, v in run.samples.items()},
        "timed_wall_s": run.timed_wall(),
        # wall of each phase of the run, judge included
        "phases_s": {"probe_before": t_run - t_env, "setup": run.t_timed - t_run,
                     "ingest": run.extras["t_serve"] - run.t_timed,
                     "serve": run.extras["t_finish"] - run.extras["t_serve"],
                     "finish": t_end - run.extras["t_finish"]},
    }
    if trace:
        jobs, tasks = read_event_log(sess.event_log())
        attr = Attribution(tracer.spans, jobs, tasks, run.t_timed, t_end)
        session = {"start_s": session_start_s,
                   "jvm_rss_mb": hostenv.vm_hwm_mb(sess.jvm_pid),
                   "py_rss_mb": hostenv.vm_hwm_mb()}
        record["per_layer"], bases = layers.per_layer(run, attr, session)
        record["report"] = layers.report(run, attr, bases)
        os.makedirs(os.path.join(work, "results"), exist_ok=True)
        tracer.dump(os.path.join(work, "results", f"{workload}-s{seed}-spans.jsonl"))
    return record


def _finite(v: float) -> float:
    return v if math.isfinite(v) else FAILED_SENTINEL


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "tail"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bitcoin_etl_spark", "__init__.py")):
        print(f"perfbench: no bitcoin_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the package, not the script dir, is importable
    os.makedirs(WORK, exist_ok=True)

    t0 = time.perf_counter()
    prepared = prepare(args.workload, args.seed, args.seconds, "full", None, WORK)
    prep_s = time.perf_counter() - t0
    sess = Session(WORK, bool(args.trace))
    session_start_s = sess.t_ready - t_proc - prep_s
    try:
        rec = run_one(sess, args.workload, args.seed, args.seconds, bool(args.trace),
                      prepared=prepared, session_start_s=session_start_s)
    finally:
        sess.close()
    rec["prep_s"] = prep_s
    rec["wall_s"] = time.time() - t_proc
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(rec, f, indent=1, default=str)

    for line in rec.get("report", []):
        print(line)
    print(f"[{args.workload}] env {json.dumps(rec['env'])}")
    print(f"[{args.workload}] input sha256 {rec['input']['sha256']} "
          f"events {rec['input']['events']}; errors {rec['errors'][:3]}")
    metrics = rec["per_layer"] if args.trace else rec["end_to_end"]
    if args.trace:
        from perfbench.layers import PER_LAYER as units
    else:
        units = END_TO_END
    for k, v in metrics.items():
        print(f"[{args.workload}] {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": _finite(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
