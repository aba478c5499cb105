"""Self-test of the benchmark at a tiny input size (a few minutes).

Usage (from the repository root): python3 perfbench/selftest.py

For every workload it checks that
- an untraced and a traced run pass and print exactly the metrics that
  BENCHMARK.json lists for them;
- a run with a defect injected into the program's output fails its output
  checks and exits non-zero;
and that the command, copied into a directory holding only BENCHMARK.json
and the benchmark's files, exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import spec  # noqa: E402


def run(*extra: str, cwd: Path = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout


def last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for w in spec.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = run("--workload", w, "--trace", str(trace))
            res = last_json(out)
            want = {m["name"] for m in bench[key]}
            if code or not res["correct"] or set(res["metrics"]) != want:
                failures.append(f"{w} trace {trace}: exit {code}, {out[-400:]}")
            print(f"{w} trace {trace}: exit {code}, correct {res['correct']}", flush=True)
        code, out = run("--workload", w, "--trace", "0", "--inject-defect")
        res = last_json(out)
        if code == 0 or res["correct"] or not res["failed"]:
            failures.append(f"{w}: injected defect not detected")
        print(f"{w} injected defect: exit {code}, correct {res['correct']}", flush=True)

    bare = HERE / ".run" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        (bare / "perfbench").mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for f in HERE.iterdir():
            if f.is_file():
                shutil.copy(f, bare / "perfbench")
        code, out = run("--workload", spec.WORKLOADS[0], cwd=bare)
        if code == 0 or out.strip():
            failures.append(f"bare directory: exit {code}, stdout {out[-200:]!r}")
        print(f"bare directory: exit {code}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
