"""KG-construction benchmark: one run of one workload.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 12 --trace 0

Run from the root of a source tree. It generates the workload's inputs
from ``--seed`` (``perfbench/inputs.py``; cached under
``.perfbench_work/``), times a fixed-work CPU probe, packages ``kgflow/``
and runs ``perfbench/job.py`` in a fresh
``spark-submit --py-files`` process on ``local[N]`` (N = min(4, nproc // 2)),
one job at a time. It prints a run record, then as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer table with
``--trace 1``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
MAX_CORES = 4
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 170
PROBE_REPS = 5
WORK = ".perfbench_work"
# a JVM writes /tmp/hsperfdata_<user>/ unless told not to
NO_PERF_DATA = "-XX:-UsePerfData"
# settings the program would otherwise take from the environment
_SCRUB_ENV = ("PYTHONPATH", "SPARK_GRAFT_SF_DIR")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "triples_per_s": "1/s",
    "resume_s": "s",
    "delta_s": "s",
    "pyworker_peak_rss_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python workload: a same-window
    control for hypervisor steal beside the run's numbers."""
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return sorted(times)[PROBE_REPS // 2]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def package(root: str, work: str) -> tuple[str, str]:
    """(zip path, sha256 of the sources): kgflow as --py-files ships it."""
    path = os.path.join(work, "kgflow.zip")
    digest = hashlib.sha256()
    with zipfile.ZipFile(path, "w") as zf:
        for d, dirs, files in os.walk(os.path.join(root, "kgflow")):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    rel = os.path.relpath(full, root)
                    zf.write(full, rel)
                    with open(full, "rb") as fh:
                        digest.update(rel.encode() + b"\0" + fh.read())
    return path, digest.hexdigest()


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def run_child(cmd: list[str], env: dict, log_path: str) -> int:
    """Run the spark-submit process in a session of its own; then, or
    on timeout, stop it and everything it started."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            return proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            proctree.stop_descendants()


def main(argv: list[str] | None = None) -> int:
    """One run; whatever way it ends, no process it started outlives it."""
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proctree.become_subreaper()
    try:
        rc = run(argv)
    finally:
        stopped = proctree.stop_descendants()
    if not stopped:
        print("perfbench: could not stop every process the run started", file=sys.stderr)
        return 1
    return rc


def run(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kgflow", "__init__.py")):
        print("perfbench: run from the source root (kgflow/ not found)", file=sys.stderr)
        return 2
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        print("perfbench: spark-submit not on PATH", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]  # the generator and the oracle import kgflow
    import inputs

    if args.workload not in inputs.WORKLOADS:
        ap.error(f"--workload: choose from {sorted(inputs.WORKLOADS)}")

    work = os.path.join(root, WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    input_dir = inputs.ensure_inputs(root, work, args.workload, args.seed)
    inputs_s = time.perf_counter() - t0
    zip_path, source_sha = package(root, work)
    # a running task keeps two processes busy, its JVM thread and its
    # Python worker: half the cores as task slots keeps the busy
    # processes within the machine's cores
    cores = max(1, min(MAX_CORES, (os.cpu_count() or 1) // 2))

    probe_ms = cpu_probe_ms()
    steal0, total0 = cpu_ticks()
    result_path = os.path.join(work, f"result-{os.getpid()}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    env = {k: v for k, v in os.environ.items() if k not in _SCRUB_ENV and not k.startswith("KGFLOW_")}
    env.update(
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        # no hsperfdata files in /tmp from the launcher JVM
        SPARK_LAUNCHER_OPTS=NO_PERF_DATA,
        # the repository's benchmark convention: shuffle partitions
        # sized to the cores (kgflow.session.get_spark)
        SPARK_GRAFT_CPUS=str(cores),
    )
    t_launch = time.time()
    cmd = [
        spark_submit,
        "--master", f"local[{cores}]",
        "--driver-memory", DRIVER_MEMORY,
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {NO_PERF_DATA}",
        "--py-files", zip_path,
        os.path.join(HERE, "job.py"),
        "--workload", args.workload,
        "--inputs", input_dir,
        "--work", work,
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--cores", str(cores),
        "--t-launch", repr(t_launch),
        "--result", result_path,
    ]  # fmt: skip
    rc = run_child(cmd, env, os.path.join(work, f"{args.workload}.log"))
    steal1, total1 = cpu_ticks()
    if rc != 0 or not os.path.exists(result_path):
        print(f"perfbench: job exited with {rc}; see {WORK}/{args.workload}.log", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)
    os.remove(result_path)

    import pyspark

    control = {
        "probe_ms": probe_ms,
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": res["spark"],
        "commit": git_commit(root),
        "kgflow_sha256": source_sha,
        **control,
        "rounds": res["rounds"],
        "inputs_s": inputs_s,
        "oracle_s": res["oracle_s"],
        "setup_s": res["setup_s"],
        "setup_phases_s": res["setup_phases_s"],
        "samples": res["samples"],
        "jvm_peak_rss_mb": res["metrics"]["jvm_peak_rss_mb"],
        "errors": res["errors"],
    }
    if args.trace:
        layers = dict(res["layers"])
        layers["memory.jvm_peak_rss_mb"] = res["metrics"]["jvm_peak_rss_mb"]
        layers["control.probe_ms"] = control["probe_ms"]
        layers["control.steal_frac"] = control["steal_frac"]
        record["counts_s"] = layers.pop("_counts_s")
        trace_ok = layers.pop("_trace_ok") == 1.0
        ok = res["failed"] == 0 and trace_ok
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        ok = res["failed"] == 0
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field.endswith("_ms"):
        return "ms"
    if field.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
