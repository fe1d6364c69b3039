"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload xfr_snapshot --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout (it changes into it): the program's
Python workers import ``spark_dns_spark`` from the working directory and
fail from any other one.

Each run happens in a child process with a hermetic environment:
``SPARK_GRAFT_CPUS`` = the usable cores, ``SPARK_GRAFT_TRACE=0``, and a
fresh per-run directory under ``perfbench/.work`` for the zone stores,
checkpoints, index cache, Spark scratch and temp files, removed afterwards.
``--trace 1`` runs the workload untraced and then traced (Spark event log
plus in-process layer replays), and reports the per-layer metrics; the
tracing overhead is the ratio of the two.

Prints ``name value unit`` per metric, then, as the last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  The full
record of every run, per-layer values and per-op timings included, is
appended to ``perfbench/results/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import tracing  # noqa: E402
from metrics import (  # noqa: E402
    END_TO_END,
    PER_LAYER,
    RECORD_ONLY,
    UNGATED,
    WORKLOADS,
    unit_of,
)

#: Wall budget of one invocation; the child is killed past it.
DEADLINE_S = 170
#: Driver JVM heap: ample for these inputs, small on a shared host.
DRIVER_MEM = "2g"
#: Full record of every run, one JSON object per line.
RECORDS = HERE / "results" / "runs.jsonl"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def child_env(work: Path, traced: bool) -> dict:
    env = dict(os.environ)
    for sub in ("idx", "local", "tmp", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        # no hsperfdata file under /tmp: the run writes only inside its work dir
        "--driver-java-options", f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    ]
    if traced:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={work / 'eventlog'}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
        env["PERFBENCH_EVENTLOG"] = str(work / "eventlog")
    env.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_TRACE="0",
        PYTHONHASHSEED="0",
        SPARK_GRAFT_INDEX_CACHE=str(work / "idx"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        TZ="UTC",
        PERFBENCH_T0=repr(time.time()),
    )
    return env


def _become_subreaper() -> None:
    """Have the processes a child leaves behind re-parented to this one
    (Linux), so that they can be found, stopped and waited for: the
    Python daemon Spark starts puts itself in a process group of its own."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap(proc: subprocess.Popen) -> None:
    """Stop a child and everything under it, and wait for each to end: a
    grace period for the JVM's own shutdown, then SIGTERM, then SIGKILL."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        left = [p for p in [proc.pid, *tracing.descendants(os.getpid())]
                if _alive(p)]
        if not left:
            break
        for pid in left:
            if sig is not None:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        for _ in range(100):
            for pid in left:
                try:  # reap it, when it is (now) a child of this process
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not any(_alive(p) for p in left):
                break
            time.sleep(0.1)


def run_child(workload: str, seed: int, seconds: int, traced: bool,
              work: Path, deadline: float) -> dict:
    work.mkdir(parents=True, exist_ok=True)
    out = work / "result.json"
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(int(traced)),
        "--work", str(work), "--out", str(out),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(work, traced),
        stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap(proc)
    if code != 0 or not out.exists():
        why = "timed out" if code is None else f"exited {code}"
        raise RuntimeError(f"{workload} run {why}")
    with open(out) as f:
        return json.load(f)


def knobs() -> dict:
    return {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_DNS_")}


def run_workload(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    deadline = time.time() + DEADLINE_S
    work = HERE / ".work" / f"{workload}-{seed}-{int(traced)}-{os.getpid()}"
    try:
        if traced:
            # tracing overhead: against an untraced run of the same seed,
            # made just before on the same host
            ref = run_child(workload, seed, seconds, False,
                            work / "untraced", deadline)
            _record(ref)
            rec = run_child(workload, seed, seconds, True, work / "traced", deadline)
            ref_p50 = ref["metrics"]["op_cpu_p50_s"]  # 0 when every op failed
            rec["layers"]["harness.trace_overhead_ratio"] = (
                rec["metrics"]["op_cpu_p50_s"] / ref_p50 if ref_p50 else 0.0
            )
            rec["untraced"] = {k: ref[k] for k in ("metrics", "attempted", "failed")}
        else:
            rec = run_child(workload, seed, seconds, False, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _record(rec)
    return rec


def _record(rec: dict) -> None:
    """Stamp a run's record with its environment; append it."""
    rec["env"] = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_TRACE": "0",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "knobs": knobs(),
        "python": sys.version.split()[0],
    }
    rec["time"] = time.time()
    RECORDS.parent.mkdir(exist_ok=True)
    with open(RECORDS, "a") as f:
        f.write(json.dumps(rec) + "\n")


def result_line(rec: dict, traced: bool) -> dict:
    """The last stdout line.  Every metric on it is measured and non-zero:
    a run that cannot say otherwise fails rather than report a 0."""
    catalog = PER_LAYER if traced else END_TO_END
    values = rec["layers"] if traced else rec["metrics"]
    metrics = {}
    for m in catalog:
        v = values.get(m.name)
        if not v or v <= 0:
            raise RuntimeError(f"{rec['workload']}: {m.name} = {v!r}, not a "
                               "positive measurement")
        metrics[m.name] = {"value": float(v), "unit": m.unit}
    return {
        "correct": bool(rec["correct"]),
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": metrics,
    }


def report(rec: dict, traced: bool) -> None:
    """``workload name value unit`` for every metric the run measured."""
    name = rec["workload"]
    fail_ratio = rec["failed"] / max(rec["attempted"], 1)
    print(f"{name} fail_ratio {fail_ratio:.4f} ratio "
          f"({rec['failed']}/{rec['attempted']} ops)")
    if traced:
        shown = [m.name for m in PER_LAYER]
        shown += [m.name for m in RECORD_ONLY if name in m.on and m.name in rec["layers"]]
        shown += sorted(set(rec["layers"]) - set(shown))
        values = rec["layers"]
    else:
        shown = [m.name for m in END_TO_END + UNGATED]
        values = rec["metrics"]
    for metric in shown:
        if values.get(metric) is not None:
            print(f"{name} {metric} {values[metric]:.6g} {unit_of(metric)}")


def preflight() -> str | None:
    """Why this directory cannot run the benchmark, or None."""
    if not (ROOT / "spark_dns_spark" / "__init__.py").is_file():
        return f"no spark_dns_spark package under {ROOT}"
    if importlib.util.find_spec("pyspark") is None:
        return "pyspark is not importable"
    if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
        return "no java on PATH and JAVA_HOME unset"
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    problem = preflight()
    if problem:
        print(f"perfbench: cannot run here: {problem}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    _become_subreaper()
    traced = bool(args.trace)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    lines = {}
    for name in names:
        try:
            rec = run_workload(name, args.seed, args.seconds, traced)
            report(rec, traced)
            lines[name] = result_line(rec, traced)
        except RuntimeError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
    if len(lines) == 1:
        final = lines[names[0]]
    else:
        final = {
            "correct": all(x["correct"] for x in lines.values()),
            "attempted": sum(x["attempted"] for x in lines.values()),
            "failed": sum(x["failed"] for x in lines.values()),
            "metrics": {f"{w}.{m}": v for w, x in lines.items()
                        for m, v in x["metrics"].items()},
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
