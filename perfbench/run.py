"""Benchmark of the crawl engine: the real crawl round and SERP extraction.

Usage (from the repository root):

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 30 --trace 0

Workloads and metrics are specified in BENCHMARK.json at the root. The
launcher starts one driver process (``worker.py``) with ``local[k]``,
k = the cores this process may use, samples the proportional set size of
that process and all its descendants (driver JVM, driver Python, Python
workers) from /proc while the timed units run, and removes every file the
run wrote once it ends, also after a kill (a later run sweeps what a
killed one left). It prints
one line per metric, a record of the box, and as its last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list, with
``--trace 1`` its ``per_layer`` list. The exit code is 0 only when every
operation succeeded and every output check passed.

Inputs are generated from ``--seed`` (the seed-independent tables are
cached in ``perfbench/.cache``); all scratch space is under
``perfbench/.run``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
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

import metrics  # noqa: E402
import spec  # noqa: E402

# A run that still has to synthesize the seed-independent inputs may take
# longer than the steady-state limit.
TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 850
STOP_WAIT_S = 10


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are space-separated
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            f = _stat_fields(int(p.name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(p.name))
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(children.get(pid, []))
    return tree


def group_members(pgid: int) -> list[int]:
    out = []
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            f = _stat_fields(int(p.name))
            if f is not None and int(f[2]) == pgid and f[0] != "Z":
                out.append(int(p.name))
    return out


def memory(pids) -> int:
    """Summed proportional set size (shared pages split between the
    processes sharing them) of ``pids``, in bytes."""
    out = 0
    for pid in pids:
        try:
            out += next(
                int(ln.split()[1]) * 1024
                for ln in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines()
                if ln.startswith("Pss:")
            )
        except (OSError, IndexError, ValueError, StopIteration):
            continue
    return out


def stop_group(pgid: int) -> None:
    """SIGTERM the worker's process group, SIGKILL what is left (each gets
    STOP_WAIT_S), and wait until no member remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + STOP_WAIT_S
        while time.monotonic() < end:
            if not group_members(pgid):
                return
            time.sleep(0.1)


def sweep_stale(runs: Path) -> None:
    """Remove what killed runs left: their worker group and their files."""
    for d in runs.iterdir():
        try:
            launcher = int(d.name.rsplit("-", 1)[1])
            os.kill(launcher, 0)
            continue  # that launcher still runs
        except (IndexError, ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        pid_file = d / "worker.pid"
        if pid_file.exists():
            stop_group(int(pid_file.read_text()))
        shutil.rmtree(d, ignore_errors=True)


def cpu_times() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]


def box_record(run_dir: Path) -> dict:
    mem = next(
        (ln.split()[1] for ln in Path("/proc/meminfo").read_text().splitlines()
         if ln.startswith("MemTotal:")),
        "0",
    )
    fs = "?"
    best = ""
    for ln in Path("/proc/mounts").read_text().splitlines():
        parts = ln.split()
        if str(run_dir).startswith(parts[1]) and len(parts[1]) > len(best):
            best, fs = parts[1], parts[2]
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        java = "?"
    try:
        from importlib.metadata import version

        spark = version("pyspark")
    except Exception:  # noqa: BLE001 - only recorded, never used
        spark = "?"
    return {
        "nproc": spec.cores(),
        "mem_total_gb": round(int(mem) / 2**20, 1),
        "scratch": {"path": "perfbench/.run", "fs": fs},
        "driver_heap": spec.DRIVER_HEAP,
        "spark": spark,
        "java": java,
        "python": platform.python_version(),
    }


def worker_env(run_dir: Path, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    local = run_dir / "spark-local"
    tmp = run_dir / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
    ]
    if trace:
        (run_dir / "eventlog").mkdir()
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run_dir / 'eventlog'}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env.update({
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "SPARK_GRAFT_DRIVER_MEM": spec.DRIVER_HEAP,
        "SPARK_GRAFT_LOCAL_DIR": str(local),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
    })
    return env


def start_worker(wargs: dict, env: dict, run_dir: Path) -> subprocess.Popen:
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), json.dumps(wargs)],
        env=env, stdout=sys.stderr, start_new_session=True,
    )
    (run_dir / "worker.pid").write_text(str(proc.pid))
    return proc


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(spec.SIZES), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--inject-defect", action="store_true",
                    help="corrupt the output before it is checked (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "archive_query_log_spark" / "crawler" / "pipeline.py").is_file():
        print(f"perfbench: no program source under {ROOT}", file=sys.stderr)
        return 2
    names = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if args.trace else "end_to_end"
    ]
    runs = HERE / ".run"
    runs.mkdir(exist_ok=True)
    sweep_stale(runs)
    run_dir = runs / f"{args.workload}-{os.getpid()}"
    cache = HERE / ".cache"
    cache.mkdir(exist_ok=True)
    cached = all((cache / e).exists() for e in spec.cache_entries(args.workload, args.size))
    result_path = run_dir / "result.json"
    peak = 0
    proc = res = None
    # a SIGTERM to the launcher unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        run_dir.mkdir()
        env = worker_env(run_dir, bool(args.trace))
        wargs = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "spawn_time": time.time(),
            "inject_defect": args.inject_defect,
            "run_dir": str(run_dir), "cache_dir": str(cache),
            "result_path": str(result_path),
        }
        if not cached:
            # seed-independent inputs, in a driver of their own, so that no
            # measured driver starts warmer than another
            proc = start_worker(dict(wargs, synthesize=True), env, run_dir)
            try:
                proc.wait(timeout=FIRST_RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print("perfbench: input synthesis timed out", file=sys.stderr)
            stop_group(proc.pid)
            wargs["spawn_time"] = time.time()
        if proc is None or proc.returncode == 0:
            cpu0 = cpu_times()
            proc = start_worker(wargs, env, run_dir)
        end = time.monotonic() + TIMEOUT_S
        phase = run_dir / "phase"
        while proc.poll() is None:
            # the memory metric covers the timed units only
            if phase.exists() and phase.read_text() == "units":
                peak = max(peak, memory(process_tree(proc.pid)))
            if time.monotonic() > end:
                print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
                break
            time.sleep(0.2)
        if proc.poll() is None:
            stop_group(proc.pid)
        res = json.loads(result_path.read_text()) if result_path.exists() else None
        box = box_record(run_dir)
        if res is not None:
            # CPU time the hypervisor gave other guests while this run ran
            delta = [b - a for a, b in zip(cpu0, cpu_times())]
            box["steal_share"] = round(delta[7] / max(sum(delta), 1), 4)
    finally:
        if proc is not None:
            stop_group(proc.pid)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    if res is None or proc.returncode != 0:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    for p in res["problems"]:
        print(f"perfbench: FAILED: {p}", file=sys.stderr)
    correct = res["failed"] == 0
    values = (
        metrics.per_layer(res) if args.trace
        else metrics.end_to_end(res, peak / 1e6)
    ) if res["units"] else {}
    out = {}
    for m in names:
        if m["name"] in values:
            out[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        else:
            correct = False
    n_rounds = sum(len(u["rounds"]) for u in res["units"])
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(res['units'])} units, {n_rounds} rounds, input derivation"
          f" {res['derive_s']:.2f} s, digest {res['digest']}")
    for name, v in out.items():
        print(f"  {name:44s} {v['value']:>16.6g} {v['unit']}")
    print(f"  {'failed_ratio':44s} {res['failed'] / max(res['attempted'], 1):>16.6g} ratio")
    print("rounds_s " + json.dumps([[round(r["round_s"], 3) for r in u["rounds"]] for u in res["units"]]))
    print("setup_parts_s " + json.dumps({
        "session": round(res["session_s"], 3), "worker_pool": round(res["warm_up_s"], 3),
        "reps": [round(x, 3) for x in res["setup_reps_s"]],
    }))
    print("box " + json.dumps(box))
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": out,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
