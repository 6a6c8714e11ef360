"""Self-check of the benchmark, in one command (a few minutes):

    python3 perfbench/selfcheck.py

It passes (exit 0) when all of these hold:

1. every workload prints every ``end_to_end`` metric of BENCHMARK.json with
   its unit (``--trace 0``) and every ``per_layer`` metric (``--trace 1``);
2. one corrupted stored row (``--corrupt-store``) makes ``ops_ok_ratio``
   drop below 1 and ``correct`` false;
3. a directory holding only BENCHMARK.json and the benchmark's files (no
   engine sources) makes the run exit non-zero without printing a result;
4. on a copy whose ``rollup/store.py`` lines have moved, the traced
   ``ingest`` run still attributes every ``run_rollup`` job to a phase, and
   phases plus driver time cover each span's wall time.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
SECONDS = "2"


def run(cwd: Path, *args: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", SECONDS, *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and "metrics" not in result:
        result = None
    return p.returncode, result, p.stderr[-2000:]


def expect_metrics(result: dict | None, section: str) -> list[str]:
    if result is None:
        return ["no result"]
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    problems = []
    if set(got) != set(want):
        problems.append(f"{section}: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    problems += [f"{k}: unit {got[k]} != {u}" for k, u in want.items() if k in got and got[k] != u]
    problems += [f"{k}: value {v['value']!r} is not a number" for k, v in result["metrics"].items()
                 if not isinstance(v.get("value"), (int, float))]
    if not result.get("correct") and section == "end_to_end":
        problems.append("correct is false on unmodified code")
    return problems


def copy_checkout(dst: Path, with_engine: bool) -> None:
    dst.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", dst)
    ignore = shutil.ignore_patterns("__pycache__")
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, dst / p, ignore=ignore)
    if with_engine:
        shutil.copytree(ROOT / "pytimetk_spark", dst / "pytimetk_spark", ignore=ignore)


def main() -> int:
    work = ROOT / ".perfbench_scratch" / "selfcheck"
    shutil.rmtree(work, ignore_errors=True)
    failures: list[str] = []

    def report(name: str, problems: list[str]) -> None:
        print(f"{'ok  ' if not problems else 'FAIL'} {name}" + "".join(f"\n     {p}" for p in problems), flush=True)
        failures.extend(problems)

    try:
        for w in BENCH["workloads"]:
            for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
                if w["name"] == "ingest" and trace == "1":
                    continue  # covered by check 4, on the moved copy
                rc, res, err = run(ROOT, "--workload", w["name"], "--trace", trace)
                report(f"{w['name']} --trace {trace} prints every {section} metric",
                       ([f"exit {rc}: {err}"] if rc else []) + expect_metrics(res, section))

        serve = [w["name"] for w in BENCH["workloads"] if w["name"] == "serve"]
        if serve:
            rc, res, err = run(ROOT, "--workload", "serve", "--trace", "0", "--corrupt-store")
            ratio = res["metrics"]["ops_ok_ratio"]["value"] if res else None
            report("a corrupted store row lowers ops_ok_ratio",
                   [] if res and ratio < 1.0 and not res["correct"] else [f"exit {rc}, ops_ok_ratio {ratio}"])

        bare = work / "bare"
        copy_checkout(bare, with_engine=False)
        rc, res, _ = run(bare, "--workload", BENCH["workloads"][0]["name"], "--trace", "0")
        report("without the engine the run fails and prints no result",
               [] if rc != 0 and res is None else [f"exit {rc}, result {res is not None}"])

        moved = work / "moved"
        copy_checkout(moved, with_engine=True)
        store_py = moved / "pytimetk_spark" / "rollup" / "store.py"
        store_py.write_text("# line shift for the self-check\n" * 37 + store_py.read_text())
        rc, res, err = run(moved, "--workload", "ingest", "--trace", "1")
        problems = ([f"exit {rc}: {err}"] if rc else []) + expect_metrics(res, "per_layer")
        if res:
            m = {k: v["value"] for k, v in res["metrics"].items()}
            if m["store.unattributed_jobs"] != 0:
                problems.append(f"{m['store.unattributed_jobs']} run_rollup jobs in no phase")
            if abs(m["store.phase_coverage"] - 1.0) > 1e-9:
                problems.append(f"phases + driver cover {m['store.phase_coverage']:.6f} of wall time")
            for k in ("store.fingerprint_s", "store.fine_s", "store.coarse_s", "store.driver_s"):
                if not m[k] > 0:
                    problems.append(f"{k} is {m[k]}")
        report("run_rollup phase attribution survives moved store.py lines", problems)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()
    print("selfcheck", "passed" if not failures else f"FAILED ({len(failures)} problems)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
