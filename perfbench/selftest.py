#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks that
1. every metric BENCHMARK.json declares is printed by name with its unit
   (untraced: end-to-end; traced: per-layer), with no failed operation;
2. exact counts repeat exactly across two traced runs of one seed (per
   query build/exec jobs, docs decoded/matched, replay match calls, ...),
   and so does the generated input's sha256;
3. a deliberately corrupted output is reported as a failed operation
   (scan and pipelines);
4. without the program (only BENCHMARK.json and perfbench/ present) the
   benchmark exits non-zero without printing a result.
Takes about five minutes; exits 1 if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("_jobs", ".docs_decoded", ".docs_matched", ".replay_match_calls",
         ".replay_matched", ".replay_upserted", ".partitions")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

failures: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("PASS " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload: str, seed: int, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode or len(lines) < 2:
        return out.returncode, None, None
    return out.returncode, json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def declared_ok(result, kind: str) -> bool:
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    missing = {k: u for k, u in want.items() if got.get(k) != u}
    if missing:
        print(f"     missing or wrong unit: {sorted(missing)[:10]}")
    return not missing and all(
        isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def main() -> int:
    code, res, det = run("scan", 7, 0)
    check(res is not None and declared_ok(res, "end_to_end")
          and res["failed"] == 0 and res["attempted"] > 0,
          "scan untraced: every end_to_end metric with its unit, no failed op")

    traced = [run("scan", 7, 1) for _ in range(2)]
    ok = all(r[1] is not None for r in traced)
    check(ok and all(declared_ok(r[1], "per_layer") and r[1]["failed"] == 0
                     for r in traced),
          "traced: every per_layer metric with its unit, no failed op")
    if ok:
        a, b = (r[1]["metrics"] for r in traced)
        exact = sorted(k for k in a if k.endswith(EXACT))
        diff = [(k, a[k]["value"], b.get(k, {}).get("value")) for k in exact
                if a[k]["value"] != b.get(k, {}).get("value")]
        check(len(exact) >= 20 and not diff,
              f"{len(exact)} exact counts repeat across two traced runs {diff[:5]}")
        digests = {r[2]["input_sha256"] for r in traced} | ({det["input_sha256"]} if det else set())
        check(len(digests) == 1, "same seed, same input sha256 across three runs")

    for wl in ("scan", "pipelines"):
        code, res, _ = run(wl, 7, 0, "--corrupt")
        check(res is not None and res["failed"] > 0 and res["correct"] is False,
              f"{wl}: corrupted output counted as failed "
              f"({res and res['failed']} of {res and res['attempted']})")
        if wl == "pipelines" and res is not None:
            check(declared_ok(res, "end_to_end"),
                  "pipelines: every end_to_end metric with its unit")

    bare = os.path.join(HERE, "_work", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "scan",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check(out.returncode != 0 and '"metrics"' not in out.stdout,
          f"without the program: exit {out.returncode}, no result line")

    print(f"{'FAILED' if failures else 'OK'}: {len(failures)} check(s) failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
