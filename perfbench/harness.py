"""Benchmark harness: inputs, the run record, instrumentation, judged ops.

``Run`` holds one run's op counts, latency samples and timed windows.
Engine instances a run creates are wrapped in spans by
``instrument_table`` / ``instrument_applier`` (only when tracing). The
judged ops (point lookups, feed increments, final state) compare every
answer with the pandas oracle in ``judge.py``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from bitcoin_etl_spark.changelog import ChangeLogSpec, generate_scenario
from bitcoin_etl_spark.lake import LakeTable
from bitcoin_etl_spark.operators import EpochApplier
from bitcoin_etl_spark.schemas import CHANGES_SCHEMA, DOCS_SCHEMA
from bitcoin_etl_spark.streaming import ChangeFeedTailer, ChangeLogTailer

from . import judge as J
from .spans import covered

INF = float("inf")
# bump when the input layout changes: cached inputs are keyed on it
INPUT_VERSION = 3
PAYLOAD = T.StructType([f for f in DOCS_SCHEMA.fields if f.name != "_rev"])


# ------------------------------------------------------------------ inputs
def fingerprint(d: str) -> str:
    """sha256 over the relative path and bytes of every change-log file."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(d, "changes", "**", "*.parquet"),
                                 recursive=True)):
        h.update(os.path.relpath(path, d).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_inputs(work: str, workload: str, spec: ChangeLogSpec,
                  keep: int = 36) -> dict:
    """Generate (or reuse) the change log for ``spec``; cached per spec
    under ``work/inputs``, the newest ``keep`` entries kept."""
    key = hashlib.sha1(json.dumps([INPUT_VERSION, asdict(spec)], sort_keys=True,
                                  default=str).encode()).hexdigest()[:12]
    root = os.path.join(work, "inputs")
    d = os.path.join(root, f"{workload}-{key}")
    meta = os.path.join(d, "fingerprint.json")
    if not os.path.exists(meta):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        man = generate_scenario(tmp, spec, oracle=False)
        J.oracle([read_events(d) for d in epoch_dirs(os.path.join(tmp, "changes"))]
                 ).to_parquet(os.path.join(tmp, "expected_docs.parquet"), index=False)
        with open(os.path.join(tmp, "fingerprint.json"), "w") as f:
            json.dump({"sha256": fingerprint(tmp),
                       "total_events": man["total_events"]}, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    old = sorted(glob.glob(os.path.join(root, "*-*")), key=os.path.getmtime)
    for stale in old[:-keep]:
        if stale != d:
            shutil.rmtree(stale, ignore_errors=True)
    with open(meta) as f:
        fp = json.load(f)
    return {"dir": d, "sha256": fp["sha256"], "events": fp["total_events"],
            "spec": asdict(spec)}


def epoch_dirs(changes: str) -> list[str]:
    return sorted(glob.glob(os.path.join(changes, "epoch=*")), key=epoch_of)


def epoch_of(d: str) -> int:
    return int(d.rsplit("=", 1)[1])


def read_events(d: str) -> pd.DataFrame:
    """All events delivered in one epoch directory (replayed files
    included)."""
    return pd.concat([pd.read_parquet(p) for p in
                      sorted(glob.glob(os.path.join(d, "*.parquet")))],
                     ignore_index=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _dirs, names in os.walk(path) for n in names)


def expected_final(inputs: dict, fault: str | None) -> dict:
    """doc_id -> image of the oracle's final state (``judge.oracle``). The
    ``oracle`` fault corrupts one expected row (negative test)."""
    exp = J.images(pd.read_parquet(
        os.path.join(inputs["dir"], "expected_docs.parquet")))
    if fault == "oracle":
        k = sorted(exp)[0]
        tok, n, src, meta = exp[k]
        exp[k] = ((tok[0] + 1,) + tok[1:], n, src, meta)
    return exp


# ---------------------------------------------------------------- the run
@dataclass
class Op:
    kind: str
    ok: bool = True
    idx: int | None = None


@dataclass
class Run:
    """One benchmark run: op counts, latency samples, the closed-loop
    windows the traced report accounts for, and the judge's intervals
    (excluded from every timed wall)."""

    workload: str
    seed: int
    p: dict
    work: str
    spark: object
    tracer: object
    attempted: int = 0
    failed: int = 0
    samples: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    windows: list = field(default_factory=list)
    judged: list = field(default_factory=list)
    setup_reps: list = field(default_factory=list)
    extras: dict = field(default_factory=dict)
    t_timed: float = 0.0

    def sample(self, kind: str, v: float) -> int:
        self.samples.setdefault(kind, []).append(v)
        return len(self.samples[kind]) - 1

    def fail(self, op: Op | None, why: str, count: int = 1) -> None:
        """Count a failure: a judged op turns failed (its latency +inf);
        with no op, ``count`` failed ops are added."""
        self.errors.append(f"{op.kind if op else self.workload}: {why}")
        if op is None:
            self.failed += count
            self.attempted += count
        elif op.ok:
            op.ok = False
            self.failed += 1
            if op.idx is not None:
                self.samples[op.kind][op.idx] = INF

    @contextmanager
    def op(self, kind: str, record: bool = True):
        """One attempted operation: timed and spanned as ``op.<kind>``;
        an exception counts it failed and its latency +inf."""
        h = Op(kind)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                yield h
        except Exception as e:  # noqa: BLE001 — a failed op is a measurement
            traceback.print_exc(file=sys.stderr)
            self.fail(h, repr(e)[:300])
        finally:
            if record:
                h.idx = self.sample(
                    kind, time.perf_counter() - t0 if h.ok else INF)

    @contextmanager
    def judging(self):
        t0 = time.time()
        try:
            with self.tracer.span("bench.judge"):
                yield
        finally:
            self.judged.append((t0, time.time()))

    def timed_wall(self, windows=None) -> float:
        """Wall of the given (default: all) windows minus judge time."""
        windows = self.windows if windows is None else windows
        judged = [(max(a, w0), min(b, w1)) for a, b in self.judged
                  for w0, w1 in windows]
        return covered(windows) - covered(judged)


# ---------------------------------------------------------- instrumentation
def instrument_table(run: Run, table: LakeTable) -> None:
    """Wrap the public LakeTable methods on this instance. Write methods
    also record the files the call added and removed (manifest diff)."""
    tr = run.tracer
    if not tr.enabled:
        return

    def head_files(args, kwargs):
        m = table.manifest()
        return {f["path"]: f for f in m["files"]}, m.get("keys_bound"), kwargs

    def diff(sp, state, res):
        before, kb, kwargs = state
        after = {f["path"]: f for f in table.manifest()["files"]}
        added = [f for k, f in after.items() if k not in before]
        removed = [f for k, f in before.items() if k not in after]
        sp.attrs.update(
            files_added=len(added),
            bytes_added=sum(os.path.getsize(os.path.join(table.path, f["path"]))
                            for f in added),
            rows_added=sum(f.get("rows") or 0 for f in added),
            rows_removed=sum(f.get("rows") or 0 for f in removed),
            keys_bound_before=kb,
            keys_bound_after=table.manifest().get("keys_bound"),
            full=kwargs.get("buckets") is None,
        )

    for m in ("append_delta", "compact", "compact_deltas"):
        tr.wrap(table, m, f"lake.{m}", before=head_files, after=diff)

    def n_files(args, kwargs):
        return len(table.manifest()["files"])

    def note_files(sp, state, res):
        sp.attrs["files"] = state

    tr.wrap(table, "read_final", "lake.read_final", before=n_files, after=note_files)
    for m in ("point_lookup", "scan_keys", "read_changes", "plan_compaction"):
        tr.wrap(table, m, f"lake.{m}")

    def vacuumed(sp, state, res):
        sp.attrs["files_removed"] = int(res)

    tr.wrap(table, "vacuum", "lake.vacuum", after=vacuumed)


def instrument_applier(run: Run, applier: EpochApplier,
                       commits: list | None = None) -> None:
    """Span ``apply_epoch``. With ``commits`` given (tail) also record
    (start, return, max_seq) of every call, traced or not: the commit
    wall and the freshness end point."""

    def note(sp, state, res):
        sp.attrs.update({k: res.get(k) for k in (
            "skipped", "upserts", "deletes", "quarantined", "rows")})

    run.tracer.wrap(applier, "apply_epoch", "apply.apply_epoch", after=note)
    if commits is None:
        return
    inner = applier.apply_epoch

    def probed(*args, **kwargs):
        t0 = time.time()
        res = inner(*args, **kwargs)
        if not res.get("skipped"):
            commits.append((t0, time.time(), int(res.get("max_seq", -1))))
        return res

    applier.apply_epoch = probed


def epoch_df(run: Run, d: str, schema=CHANGES_SCHEMA):
    with run.tracer.span("bench.input"):
        return run.spark.read.schema(schema).parquet(d).withColumn(
            "epoch", F.lit(epoch_of(d)).cast("long"))


def new_table(run: Run, path: str, **props) -> LakeTable:
    shutil.rmtree(path, ignore_errors=True)
    t = LakeTable.create(path, PAYLOAD, n_buckets=run.p["buckets"],
                         properties=props or None)
    instrument_table(run, t)
    run.extras["table"] = path
    return t


# -------------------------------------------------------------- set-up reps
def setup_reps(run: Run, first_epoch: str, applier_kw: dict, stream: bool,
               reps: int = 3) -> None:
    """Set up ``reps`` times on throwaway tables: create, commit a slice
    of the first epoch, read it back. The first repetition is also the
    untimed warm-up of every other engine call the workload makes
    (compaction, point lookup, change feed and, for ``tail``,
    a one-epoch streaming drain). ``setup_s`` takes the median wall."""
    spark = run.spark
    for i in range(reps):
        t0 = time.perf_counter()
        d = os.path.join(run.work, "tables", f"setup-{i}")
        shutil.rmtree(d, ignore_errors=True)
        t = LakeTable.create(os.path.join(d, "t"), PAYLOAD, n_buckets=run.p["buckets"])
        a = EpochApplier(t, pipeline_id="setup", **applier_kw)
        df = (spark.read.schema(CHANGES_SCHEMA).parquet(first_epoch)
              .withColumn("epoch", F.lit(0).cast("long")).limit(2_000))
        a.apply_epoch(spark, df, 0)
        t.read_final(spark).count()
        if i == 0:
            t.compact(spark)
            key = t.read_final(spark).first()["doc_id"]
            t.point_lookup(spark, key).collect()
            t.read_changes(spark, 0).toPandas()
            if stream:
                ch = os.path.join(d, "changes", "epoch=0")
                os.makedirs(ch)
                for f in glob.glob(os.path.join(first_epoch, "part-0*.parquet")):
                    shutil.copyfile(f, os.path.join(ch, os.path.basename(f)))
                ChangeLogTailer(spark, os.path.dirname(ch), a, os.path.join(d, "ckpt"),
                                max_files_per_trigger=1).run_available(timeout_s=120)
        shutil.rmtree(d, ignore_errors=True)
        run.setup_reps.append(time.perf_counter() - t0)


# ------------------------------------------------------------ shared ops
def key_mix(rng: np.random.Generator, recent: list, n_keys: int, n: int) -> list[str]:
    """Lookup keys: 40% recently changed (Zipf-hot), 40% uniform over the
    key space (cold; live or not), 20% keys never written."""
    out = []
    for u in rng.random(n):
        if u < 0.4 and recent:
            out.append(recent[int(rng.integers(len(recent)))])
        elif u < 0.8:
            out.append(f"doc_{int(rng.integers(n_keys)):012d}")
        else:
            out.append(f"doc_{n_keys + int(rng.integers(n_keys)):012d}")
    return out


def lookups(run: Run, table: LakeTable, expect, keys: list[str]) -> None:
    """``point_lookup(key).collect()`` per key, each judged against
    ``expect(key)`` (None = must be absent)."""
    answers = []
    for k in keys:
        with run.op("lookup") as h:
            rows = table.point_lookup(run.spark, k).collect()
        answers.append((h, k, rows if h.ok else None))
        run.sample("lookup_rows", len(rows) if h.ok else 0)
    with run.judging():
        for h, k, rows in answers:
            why = h.ok and J.check_lookup(rows, k, expect(k))
            if why:
                run.fail(h, why)


def feed_tailer(run: Run, table: LakeTable, cursor: str, got: list) -> ChangeFeedTailer:
    """A change-feed consumer whose sink materializes each increment to
    pandas (the judge reads it afterwards)."""
    ft = ChangeFeedTailer(run.spark, table,
                          lambda df, a, b: got.append(df.toPandas()),
                          cursor, classify=True)
    run.tracer.wrap(ft, "sink", "feed.sink")
    run.tracer.wrap(ft, "run_available", "feed.run_available")
    return ft


def feed_once(run: Run, ft: ChangeFeedTailer, got: list, expected: dict,
              record: bool = True) -> None:
    """One ``run_available`` that must deliver exactly one increment
    equal to ``expected`` (doc_id -> (type, rev, image))."""
    got.clear()
    with run.op("feed", record=record) as h:
        ft.run_available()
    if not h.ok:
        return
    with run.judging():
        bad = (J.check_feed(got[0], expected) if len(got) == 1
               else [f"{len(got)} increments delivered, expected 1"])
        run.sample("feed_rows", sum(len(g) for g in got))
    if bad:
        run.fail(h, f"feed: {len(bad)} mismatches, first {bad[0]}")


def judge_final(run: Run, table: LakeTable, expected: dict) -> None:
    with run.judging():
        cols = ["doc_id"] + [c for c in J.PAYLOAD if c in table.schema().fieldNames()]
        got = J.images(table.read_final(run.spark).select(*cols).toPandas())
        bad = J.diff_states(got, expected)
    if bad:
        run.fail(None, f"final state: {len(bad)} mismatches, first {bad[0]}")
