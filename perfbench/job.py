"""One benchmark run of one workload, inside ``spark-submit``.

``perfbench/run.py`` launches this file with ``--py-files kgflow.zip``,
the deployment path of ``tools/kg_job.py``. It calls only public
``kgflow`` functions, times every call from outside, checks every
output against the oracle tables made by ``perfbench/inputs.py``, and
writes one JSON object to ``--result``.

A run is: set-up from a fresh process (session, a warm-up job that
starts the Python workers, and for ``kg_batch`` ``prepare_lexicon`` and
one untimed one-shot job); then rounds of the workload's steps that fit in
``--seconds``, at least one. With ``--trace 1`` it then
sets up again with the event log on and runs one traced round, with
every layer call under its own job group, for the per-layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import eventlog
from proctree import descendants

LAYERS = ("session", "lexicon", "extract", "triples", "nodes", "sink", "checkpoint", "canon")
LAYER_FIELDS = (
    "wall_s",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "tasks",
    "jobs",
)
TIMED = ("wall_s", "triples_per_s", "resume_s", "delta_s")
BUCKETS = 32
CRASH_AFTER = 16
# how often the Python workers' high-water marks are read
POLL_S = 0.25


def _identity(batches):
    yield from batches


# --------------------------------------------------------------------------
# memory: VmHWM of the driver JVM and of every Python worker
# --------------------------------------------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakMemory:
    """Polls the Python workers' high-water marks: workers end with
    their SparkContext, so a read at the end of the run would miss the
    ones that did the work."""

    def __init__(self):
        self.jvm = os.getppid()
        self.worker_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        for pid in descendants(self.jvm):
            # only the pyspark daemon and the workers it forks: a process
            # the JVM is forking still carries the JVM's own high-water mark
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"pyspark.daemon" not in fh.read():
                        continue
            except OSError:
                continue
            self.worker_kb = max(self.worker_kb, _status_kb(pid, "VmHWM"))

    def _poll(self) -> None:
        while not self._stop.wait(POLL_S):
            self._sample()

    def close(self) -> tuple[float, float]:
        """(jvm_peak_mb, worker_peak_mb)."""
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5)
        return _status_kb(self.jvm, "VmHWM") / 1024, self.worker_kb / 1024


# --------------------------------------------------------------------------
# tracing: layer spans + job groups
# --------------------------------------------------------------------------
class Tracer:
    """Nested layer spans. Each span sets the job group to its layer,
    so the event log attributes every job to the innermost layer that
    submitted it; a layer's ``wall_s`` is its self time (its span minus
    its child spans)."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[list] = []
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, list] = defaultdict(list)
        sc.setJobGroup("bench", "bench")

    @contextmanager
    def span(self, layer: str):
        self.stack.append([layer, time.perf_counter(), 0.0])
        self.sc.setJobGroup(layer, layer)
        try:
            yield
        finally:
            name, start, child = self.stack.pop()
            dur = time.perf_counter() - start
            self.self_s[name] += dur - child
            if self.stack:
                self.stack[-1][2] += dur
            parent = self.stack[-1][0] if self.stack else "bench"
            self.sc.setJobGroup(parent, parent)

    def covered_s(self) -> float:
        return sum(self.self_s.values())


class NoTracer:
    def span(self, layer: str):
        return nullcontext()


def install_spans(tracer: Tracer) -> list:
    """Route the public kgflow entry points through layer spans.

    Functions that return a DataFrame are materialized inside their
    span (``localCheckpoint``), so the work lands in the layer that
    defined it rather than in whichever caller first runs an action.
    Returns the undo list for ``remove_spans``."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kgflow.operators import canon, extract
    from kgflow.plans import checkpoint, pipeline

    undo = []

    def wrap(mod, name, layer, materialize):
        orig = getattr(mod, name)

        def traced(*args, **kwargs):
            with tracer.span(layer):
                out = orig(*args, **kwargs)
                if materialize:
                    out = out.localCheckpoint(eager=True)
            tracer.calls[name].append((args, kwargs, out))
            return out

        setattr(mod, name, traced)
        undo.append((mod, name, orig))

    wrap(pipeline, "prepare_lexicon", "lexicon", False)
    wrap(canon, "connected_components", "canon", True)
    wrap(extract, "extract_linked_terms_grouped", "extract", True)
    wrap(pipeline, "build_triples", "triples", True)
    wrap(pipeline, "build_nodes", "nodes", True)
    wrap(checkpoint, "run_resumable", "checkpoint", False)
    wrap(checkpoint, "read_triples", "checkpoint", False)
    wrap(checkpoint, "table_fingerprint", "checkpoint", False)

    # the bucketed write inside run_resumable is the sink of kg_resume
    orig_parquet = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        if tracer.stack and tracer.stack[-1][0] == "checkpoint":
            with tracer.span("sink"):
                return orig_parquet(self, *args, **kwargs)
        return orig_parquet(self, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    undo.append((DataFrameWriter, "parquet", orig_parquet))
    return undo


def remove_spans(undo: list) -> None:
    for obj, name, orig in reversed(undo):
        setattr(obj, name, orig)


# --------------------------------------------------------------------------
# verification
# --------------------------------------------------------------------------
class Oracle:
    """Expected results: the fingerprints (``checkpoint.table_fingerprint``)
    of the oracle tables and, as ``delta_buckets``, the number of ledger
    buckets the delta re-runs. Every run computes them with the
    ``kgflow`` under test, before its rounds and outside their timing;
    ``fp`` passes them on to another session of the same run."""

    def __init__(self, spark, input_dir: str, fp: dict[str, str] | None = None):
        self.spark = spark
        self.inputs = input_dir
        self.dir = os.path.join(input_dir, "oracle")
        self.fp = dict(fp or {})

    def prepare(self, names) -> None:
        """Compute the expected results ``names`` not yet known."""
        from kgflow.plans.checkpoint import table_fingerprint

        for name in names:
            if name not in self.fp:
                self.fp[name] = self.delta_buckets() if name == "delta_buckets" else table_fingerprint(self.table(name))

    def delta_buckets(self) -> str:
        """How many ledger buckets the delta input's changed
        conversations fall in, by the ledger's own bucketing
        (``checkpoint.with_bucket``): the buckets a delta re-runs."""
        from kgflow.plans.checkpoint import with_bucket

        with open(os.path.join(self.inputs, "meta.json")) as fh:
            convs = json.load(fh)["changed_convs"]
        df = self.spark.createDataFrame([(c,) for c in convs], "conv_id string")
        return str(with_bucket(df, BUCKETS).select("bucket").distinct().count())

    def table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.dir, name))

    def rows(self, name: str) -> int:
        self.prepare([name])
        return int(self.fp[name].rsplit("-", 1)[1])

    def compare(self, name: str, got_df) -> tuple[bool, tuple[float, float]]:
        """(equal, (precision, recall)) of a distinct table against the
        oracle: fingerprint and row count first; the exact P/R over the
        collected rows only when they differ."""
        from kgflow.plans.checkpoint import table_fingerprint
        from kgflow.reference_oracle import precision_recall

        self.prepare([name])
        if table_fingerprint(got_df) == self.fp[name]:
            return True, (1.0, 1.0)
        got = {tuple(r) for r in got_df.collect()}
        exp = {tuple(r) for r in self.table(name).collect()}
        return False, precision_recall(got, exp)


class Tally:
    """Operations attempted / failed, with the worst P/R seen."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.precision = 1.0
        self.recall = 1.0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str, pr: tuple[float, float] | None = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        if pr is not None:
            self.precision = min(self.precision, pr[0])
            self.recall = min(self.recall, pr[1])

    def exception(self, what: str, pending: int) -> None:
        """An exception ends the round: ``pending`` operations of it
        count as attempted and failed."""
        self.attempted += pending
        self.failed += pending
        self.precision = self.recall = 0.0
        self.errors.append(what + ": " + traceback.format_exc(limit=3))


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------
class Workload:
    def __init__(self, spark, args, tracer):
        self.spark = spark
        self.args = args
        self.tracer = tracer
        self.inputs = args.inputs
        self.out = os.path.join(args.work, "out", args.workload)

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.inputs, name))

    def setup(self) -> None:
        """Read (and for ``kg_batch`` prepare) the lexicon."""
        self.terms = self.read("terms")
        self.isa = self.read("isa")
        self.prepare()

    def prepare(self):
        pass

    def warm(self):
        pass


class KgBatch(Workload):
    """One-shot job (``tools/kg_job.py`` default mode): ``build_triples``,
    write triples, ``build_nodes``, write nodes. A round builds the base
    input, then the delta input (1/16 of conversations rewritten); the
    one-shot path has no ledger, so both are full builds."""

    ops_per_round = 2
    checked = ("base_triples", "base_nodes", "delta_triples", "delta_nodes")

    def prepare(self):
        """The lexicon is prepared once per lexicon version
        (``prepare_lexicon``) and reused by every job, as in ``bench.py``."""
        from kgflow.plans import pipeline as P

        self.lex = P.prepare_lexicon(self.terms)

    def warm(self):
        """One untimed job on the base input: code generation and JIT
        compilation of the job's plans are paid in set-up, so every timed
        job runs warm and a round's two samples are alike."""
        self.job(self.read("base"), os.path.join(self.out, "warm"))

    def job(self, tr, out: str):
        """The one-shot job; returns the written (triples, nodes)."""
        from kgflow.plans import pipeline as P

        span = self.tracer.span
        triples = P.build_triples(tr, self.terms, self.isa, lex=self.lex)
        with span("sink"):
            triples.write.mode("overwrite").parquet(os.path.join(out, "triples"))
        back = self.spark.read.parquet(os.path.join(out, "triples"))
        nodes = P.build_nodes(back.select("subj", "pred", "obj"), self.terms)
        with span("sink"):
            nodes.write.mode("overwrite").parquet(os.path.join(out, "nodes"))
        return back, self.spark.read.parquet(os.path.join(out, "nodes")).select("id", "label", "resolved")

    def build(self, which: str, oracle: Oracle, tally: Tally) -> tuple[float, int]:
        t0 = time.perf_counter()
        back, nodes_back = self.job(self.read(which), os.path.join(self.out, "run"))
        ok_t, pr = oracle.compare(f"{which}_triples", back)
        ok_n, _ = oracle.compare(f"{which}_nodes", nodes_back)
        dt = time.perf_counter() - t0
        tally.check(ok_t and ok_n, f"{which}: triples ok={ok_t} nodes ok={ok_n} P/R={pr}", pr)
        return dt, oracle.rows(f"{which}_triples")

    def round(self, oracle, tally, samples) -> list[float]:
        walls = []
        for which, key in (("base", "resume_s"), ("delta", "delta_s")):
            dt, n = self.build(which, oracle, tally)
            samples["wall_s"].append(dt)
            samples[key].append(dt)
            samples["triples_per_s"].append(n / dt)
            walls.append(dt)
        return walls


class KgResume(Workload):
    """Ledger job (``checkpoint.run_resumable``, 32 buckets): a run that
    crashes after 16 buckets, the re-submit that completes it, then a
    re-submit after 1/16 of the conversations change.
    ``run_resumable`` takes no prepared lexicon and prepares it on every
    call, so its set-up has no ``prepare_lexicon`` of its own."""

    ops_per_round = 3
    checked = ("base_triples", "delta_triples", "delta_buckets")

    def round(self, oracle, tally, samples) -> list[float]:
        from kgflow.plans import checkpoint as cp

        out = os.path.join(self.out, "run")
        shutil.rmtree(out, ignore_errors=True)
        base, delta = self.read("base"), self.read("delta")

        def submit(tr, **kw):
            return cp.run_resumable(self.spark, tr, self.terms, self.isa, out, buckets=BUCKETS, **kw)

        t0 = time.perf_counter()
        crash = submit(base, fail_after_buckets=CRASH_AFTER)
        t1 = time.perf_counter()
        resume = submit(base)
        t2 = time.perf_counter()
        ok_base, pr_base = oracle.compare("base_triples", cp.read_triples(self.spark, out))
        t3 = time.perf_counter()
        changed = submit(delta)
        t4 = time.perf_counter()
        ok_delta, pr_delta = oracle.compare("delta_triples", cp.read_triples(self.spark, out))

        reruns = int(oracle.fp["delta_buckets"])
        tally.check(crash.processed_buckets == CRASH_AFTER, f"crash: {crash}")
        tally.check(
            ok_base
            and resume.processed_buckets == BUCKETS - CRASH_AFTER
            and resume.skipped_buckets == CRASH_AFTER,
            f"resume: {resume} equal={ok_base} P/R={pr_base}",
            pr_base,
        )
        tally.check(
            ok_delta and changed.processed_buckets == reruns,
            f"delta: {changed} equal={ok_delta} P/R={pr_delta}",
            pr_delta,
        )
        samples["wall_s"].append(t3 - t0)
        samples["resume_s"].append(t2 - t1)
        samples["delta_s"].append(t4 - t3)
        samples["triples_per_s"].append(oracle.rows("base_triples") / (t3 - t0))
        return [t3 - t0, t4 - t3]


WORKLOADS = {"kg_batch": KgBatch, "kg_resume": KgResume}


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------
def start_session(args, event_log_dir: str | None = None):
    from kgflow.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(args.work, "warehouse")}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            }
        )
    spark = get_spark(f"perfbench-{args.workload}", master="", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cores: int) -> None:
    """One Arrow job with a task on every core: the Python worker pool
    is up before anything is timed."""
    spark.range(0, cores * 64, 1, cores).mapInPandas(_identity, "id long").count()


def set_up(args, event_log_dir: str | None = None, phases: dict | None = None):
    """(spark, workload, tracer, undo): session, warm-up, lexicon and
    the workload's warm-up job.
    With ``event_log_dir`` the session logs events and every layer call
    runs under a span. ``phases`` receives the wall-clock end of each
    phase."""
    phases = {} if phases is None else phases
    t0 = time.perf_counter()
    spark = start_session(args, event_log_dir)
    session_s = time.perf_counter() - t0
    tracer, undo = NoTracer(), []
    if event_log_dir:
        tracer = Tracer(spark.sparkContext)
        tracer.self_s["session"] += session_s
        undo = install_spans(tracer)
    with tracer.span("session"):
        warm_up(spark, args.cores)
    phases["session"] = time.time()
    wl = WORKLOADS[args.workload](spark, args, tracer)
    wl.setup()
    phases["lexicon"] = time.time()
    if not event_log_dir:  # a traced set-up runs in a JVM already warm
        wl.warm()
        phases["warm"] = time.time()
    return spark, wl, tracer, undo


# --------------------------------------------------------------------------
# traced round -> per-layer table
# --------------------------------------------------------------------------
def layer_counts(spark, wl, tracer: Tracer) -> dict[str, float]:
    """Per-layer work counts, from the traced calls' own outputs
    (computed after the traced round, outside its timing)."""
    from pyspark.sql import functions as F

    from kgflow.plans import pipeline as P

    calls = tracer.calls
    c: dict[str, float] = defaultdict(float)
    if calls["prepare_lexicon"]:
        c["lexicon.surfaces"] = len(calls["prepare_lexicon"][-1][2].surfaces)
    for args, _kw, out in calls["extract_linked_terms_grouped"]:
        c["extract.turns"] += args[0].count()
        row = out.agg(F.count(F.lit(1)), F.sum(F.size("term_ids"))).first()
        c["extract.turns_with_mentions"] += row[0]
        c["extract.mentions"] += row[1] or 0
    useful = 0
    for args, kw, out in calls["build_triples"]:
        tr, terms, isa = args[:3]
        lex = kw.get("lex") or P.prepare_lexicon(terms)
        c["triples.pre_dedup_rows"] += P.build_triples_prov(tr, terms, isa, lex=lex).agg(F.sum("n_obs")).first()[0]
        useful += out.count()
    c["triples.dedup_ratio"] = useful / c["triples.pre_dedup_rows"] if c["triples.pre_dedup_rows"] else 0.0
    for _a, _k, out in calls["build_nodes"]:
        c["nodes.rows"] += out.count()
    for _a, kw, report in calls["run_resumable"]:
        c["checkpoint.buckets_run"] += report.processed_buckets
        c["checkpoint.buckets_skipped"] += report.skipped_buckets
    if calls["connected_components"]:
        mapping = calls["connected_components"][-1][2]
        row = mapping.agg(F.count(F.lit(1)), F.countDistinct("canonical_id")).first()
        c["canon.nodes"], c["canon.components"] = row[0], row[1]
    return c


def traced_round(args, untraced_last_s: float, expected: dict[str, str]) -> dict[str, float]:
    log_dir = os.path.join(args.work, "eventlog", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark, wl, tracer, undo = set_up(args, log_dir)
    try:
        oracle = Oracle(spark, args.inputs, expected)
        samples: dict[str, list] = defaultdict(list)
        tally = Tally()
        covered0 = tracer.covered_s()
        t0 = time.perf_counter()
        walls = wl.round(oracle, tally, samples)
        round_s = time.perf_counter() - t0
        covered = tracer.covered_s() - covered0
    finally:
        remove_spans(undo)
    t0 = time.perf_counter()
    counts = layer_counts(spark, wl, tracer)
    counts_s = time.perf_counter() - t0
    spark.stop()

    groups = eventlog.read_group_metrics(log_dir)
    metrics: dict[str, float] = {}
    for layer in LAYERS:
        g = groups.get(layer, {})
        for field in LAYER_FIELDS:
            metrics[f"{layer}.{field}"] = tracer.self_s.get(layer, 0.0) if field == "wall_s" else g.get(field, 0.0)
    for name in (
        "lexicon.surfaces",
        "extract.turns",
        "extract.turns_with_mentions",
        "extract.mentions",
        "triples.pre_dedup_rows",
        "triples.dedup_ratio",
        "nodes.rows",
        "checkpoint.buckets_run",
        "checkpoint.buckets_skipped",
        "canon.nodes",
        "canon.components",
    ):
        metrics[name] = float(counts.get(name, 0.0))
    metrics["sink.bytes_mb"] = groups.get("sink", {}).get("output_mb", 0.0)
    # the traced round runs in a JVM the untraced rounds already warmed:
    # compare each round's last (warmest) step
    metrics["trace.overhead_s"] = walls[-1] - untraced_last_s
    metrics["trace.uncovered_frac"] = 1.0 - covered / round_s
    metrics["_trace_ok"] = float(tally.failed == 0)
    metrics["_counts_s"] = counts_s
    return metrics


# --------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--t-launch", type=float, required=True, help="wall clock at process launch")
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    phases = {"python": time.time()}
    mem = PeakMemory()
    spark, wl, *_ = set_up(args, phases=phases)
    setup_s = time.time() - args.t_launch

    spark_version = spark.version
    t0 = time.perf_counter()
    oracle = Oracle(spark, args.inputs)
    oracle.prepare(wl.checked)
    oracle_s = time.perf_counter() - t0
    tally = Tally()
    samples: dict[str, list] = defaultdict(list)
    round_walls: list[list[float]] = []
    t_end = time.perf_counter() + args.seconds
    rounds = 0
    while True:
        rounds += 1
        t_round = time.perf_counter()
        try:
            round_walls.append(wl.round(oracle, tally, samples))
        except Exception:  # a failed round is counted, the run goes on
            tally.exception(f"round {rounds}", wl.ops_per_round)
            if rounds >= 3 and tally.failed == tally.attempted:
                break
        # another round only if it would end inside the window: a later
        # round runs warmer, so a round count that flips between runs of
        # one workload would split its timings in two groups
        now = time.perf_counter()
        if now + (now - t_round) > t_end:
            break
    spark.stop()

    result = {
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors[:5],
        "rounds": rounds,
        "setup_s": setup_s,
        "setup_phases_s": {k: v - args.t_launch for k, v in phases.items()},
        "oracle_s": oracle_s,
        "spark": spark_version,
        "samples": samples,
    }
    if args.trace:
        last = statistics.median(w[-1] for w in round_walls) if round_walls else 0.0
        result["layers"] = traced_round(args, last, oracle.fp)
    jvm_mb, worker_mb = mem.close()
    result["metrics"] = {
        "setup_s": setup_s,
        # a step that never succeeded reads 0 beside a failed count
        **{k: statistics.median(samples[k]) if samples[k] else 0.0 for k in TIMED},
        "jvm_peak_rss_mb": jvm_mb,
        "pyworker_peak_rss_mb": worker_mb,
        "triple_precision": tally.precision,
        "triple_recall": tally.recall,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
