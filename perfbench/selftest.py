"""Self-test of the benchmark itself (about two minutes on 4 cores).

1. ``BENCHMARK.json`` names exactly the metrics ``run.py`` reports.
2. At minimum size every workload runs, once untraced and once traced,
   and one deliberately wrong expectation is reported as a failure:
   a flipped byte in the expected ``/events`` page (serve), one shifted
   offset (tail) and one altered oracle row (batch_spine).
3. With only ``BENCHMARK.json`` and this directory present, ``run.py``
   exits non-zero without printing a result.

Usage (from the repository root): python3 perfbench/selftest.py
Exits 0 when every check holds; prints one line per check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

INJECT = {"serve": "body", "tail": "offset", "batch_spine": "oracle"}


def bench(workload: str, trace: int, inject: str, seconds: int = 4):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", str(seconds), "--trace",
           str(trace), "--size", "min", "--inject", inject]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return p.returncode, None, None, p.stderr[-2000:]
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1]), ""


def main() -> int:
    failures = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
          == [tuple(m) for m in run.E2E], "BENCHMARK.json end_to_end == run.E2E")
    check([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
          == run._layer_metrics(), "BENCHMARK.json per_layer == run._layer_metrics()")
    check([w["name"] for w in spec["workloads"]] == list(run.LISTED),
          "BENCHMARK.json workloads == run.LISTED")
    layer_names = {m["name"] for m in spec["per_layer"]}
    e2e_names = {m["name"] for m in spec["end_to_end"]}

    for workload, inject in INJECT.items():
        code, full, line, err = bench(workload, 0, inject)
        check(code == 0, f"{workload}: untraced run exits 0 {err}")
        if line is None:
            continue
        check(set(line["metrics"]) == e2e_names, f"{workload}: every end-to-end metric")
        check(line["failed"] >= 1 and not line["correct"],
              f"{workload}: injected {inject} counted as failed ({line['failed']})")
        if workload == "serve":
            bad = {k for k, (n, f) in full["checks"]["by_kind"].items() if f}
            check(bad == {"events"}, f"serve: only the /events page fails ({bad})")
        if workload == "tail":
            check(full["report"]["inject"].get("caught") is True,
                  f"tail: shifted key caught {full['report']['inject']}")
        if workload == "batch_spine":
            bad = [k for k, (n, f) in full["checks"]["by_kind"].items() if f]
            check(bad == ["oracle:q_last_page"],
                  f"batch_spine: only the query with the altered row fails {bad}")
        code, full, line, err = bench(workload, 1, "none")
        want = layer_names | ({m[0] for m in run.TAIL_LAYER} if workload == "tail" else set())
        check(code == 0 and line is not None and set(line["metrics"]) == want,
              f"{workload}: traced run reports every per-layer metric {err}")

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "serve",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        check(p.returncode != 0 and not p.stdout.strip(),
              f"bare directory: exit {p.returncode}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
