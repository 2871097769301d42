"""Lakehouse benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload olist_full_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run sizes Spark to the host,
keeps every file it writes under ``.perfbench/`` in the checkout,
checks the program's outputs, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it start with ``#``: the inputs' sizes,
the provenance stamp and, for a traced run, the tracing overhead
against an untraced run of the same workload and seed in the same
checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "real_time_e_commerce_analytics_lakehouse_spark"

E2E_UNITS = {
    "setup_s": "s",
    "cycle_p50_s": "s",
    "step_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "ops_ok_share": "ratio",
}


def per_layer_names() -> list[str]:
    from spans import TABLE_OPS
    from workloads import HEADLINE, STAGES

    names = []
    for st in STAGES:
        names += [f"olist.{st}.{m}" for m in (
            "s", "jobs", "tasks", "exec_run_s", "shuffle_mb", "spill_mb",
            "driver_only_s")]
    for layer in ("streaming.run_available_now", "streaming.incremental_runner") + tuple(
        f"tables.{op}" for op in TABLE_OPS
    ):
        names += [f"{layer}.s", f"{layer}.calls"]
    names += ["tables.commits", "tables.bytes_written_mb", "tables.files_written",
              "tables.write_amp"]
    for q in HEADLINE:
        names += [f"plans.{q}.s", f"plans.{q}.jobs"]
    names += [f"plans.suite.{m}" for m in ("jobs", "exec_run_s", "shuffle_mb", "driver_only_s")]
    names += [f"operators.vecindex.build_ivf_index.{m}"
              for m in ("jobs", "exec_run_s", "driver_only_s")]
    names += ["session.get_spark.s"]
    names += ["trace.cycle_p50_s", "trace.step_p50_s"]
    return names


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("write_amp"):
        return "ratio"
    return "count"


def host() -> dict:
    """CPUs this process may run on, and a driver heap sized from
    MemTotal: a quarter of it, 1 to 8 GiB."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "driver_mem_gb": max(1, min(8, mem_kb // 2**20 // 4)),
    }


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


class Session:
    """The run's SparkSession and the JVM behind it, stopped and waited
    for on ``close``."""

    def __init__(self, work: Path, cpus: int, event_log: Path | None):
        self.work, self.cpus, self.event_log = work, cpus, event_log
        self.spark = None
        self.jvm_hwm_mb = 0.0

    def start(self):  # noqa: ANN201
        from real_time_e_commerce_analytics_lakehouse_spark.session import get_spark
        from spans import event_log_conf

        conf = {"spark.sql.warehouse.dir": str(self.work / "warehouse")}
        if self.event_log is not None:
            conf.update(event_log_conf(str(self.event_log)))
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus, extra_conf=conf,
        )
        return self.spark, time.perf_counter() - t

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        self.jvm_hwm_mb = vm_hwm_mb(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def prepare_env(work: Path, h: dict) -> None:
    """Everything the run and its JVM write stays under ``work``."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(h["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{h['driver_mem_gb']}g",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_INDEX_DIR": str(work / "vecindex"),
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        # the Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test runs tiny inputs)")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "tools" / "make_olist_fixtures.py").is_file():
        print(f"perfbench: {ROOT} holds no {PACKAGE} package and tools/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from spans import NullTracer, Tracer, fold_event_log, median
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    h = host()
    state = ROOT / ".perfbench"
    work = state / "work" / f"{args.workload}-{os.getpid()}"
    prepare_env(work, h)
    tracer = Tracer() if args.trace else NullTracer()
    session = Session(work, h["cpus"], work / "eventlog" if args.trace else None)
    run = Run(str(work), args.seed, args.seconds, args.scale, session.start, tracer)
    try:
        res = WORKLOADS[args.workload](run)
        python_hwm = vm_hwm_mb("self")
        session.close()
        jobs = fold_event_log(str(work / "eventlog")) if args.trace else []
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": res.setup_s,
        "cycle_p50_s": median(res.cycles),
        "step_p50_s": median(res.steps),
        "stored_bytes_per_input_byte": res.stored_ratio,
        "peak_rss_mb": python_hwm + session.jvm_hwm_mb,
        "ops_ok_share": 1 - run.failed / run.attempted,
    }
    if args.trace:
        names = per_layer_names()
        values = dict.fromkeys(names, 0.0)
        values.update(res.layers(jobs))
        values["session.get_spark.s"] = run.session_s
        values["trace.cycle_p50_s"] = e2e["cycle_p50_s"]
        values["trace.step_p50_s"] = e2e["step_p50_s"]
        unknown = set(values) - set(names)
        if unknown:
            raise RuntimeError(f"unregistered per-layer metrics: {sorted(unknown)}")
        metrics = {n: {"value": values[n], "unit": unit_of(n)} for n in names}
    else:
        metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in e2e.items()}

    import pyspark

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, **h,
        "spark": pyspark.__version__, "git_sha": git_sha(), "source_digest": source_digest(),
        "cycles": len(res.cycles), "steps": len(res.steps),
        "cycle_s": [round(c, 3) for c in res.cycles], **res.detail,
        "checks": run.checks, "failures": run.failures,
    }
    print("# provenance " + json.dumps(stamp))
    results = state / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    (results / f"{stem}-trace{args.trace}.json").write_text(
        json.dumps({"provenance": stamp, "e2e": e2e}, indent=1)
    )
    untraced = results / f"{stem}-trace0.json"
    if args.trace and untraced.exists():
        base = json.loads(untraced.read_text())["e2e"]
        ratios = {k: round(e2e[k] / base[k], 3) for k in ("cycle_p50_s", "step_p50_s")}
        print("# tracing overhead (traced / untraced, same workload and seed): "
              + json.dumps(ratios))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
