#!/usr/bin/env python3
"""Self-test of the benchmark at the smallest input size.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced on the ``tiny`` inputs
(200 documents, 200 vectors, 3,000 ratings, 1,500 orders) and checks that
each run

* exits 0 and ends with one JSON object with exactly the keys ``correct``,
  ``attempted``, ``failed`` and ``metrics``, with ``correct`` true;
* prints exactly the metrics ``BENCHMARK.json`` lists (``end_to_end`` for
  ``--trace 0``, ``per_layer`` for ``--trace 1``), each with the unit listed
  there and a finite number as its value.

Then it checks that the run refuses to report without the engine: in a
directory holding only ``BENCHMARK.json`` and the benchmark's files, the
command must exit non-zero and print no result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, workload: str, trace: int, scale: str = "tiny") -> tuple[int, str]:
    with open(os.path.join(cwd, "BENCHMARK.json")) as fh:
        command = json.load(fh)["command"]
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def check_result(spec: dict, workload: str, trace: int, code: int, stdout: str) -> list[str]:
    where = f"{workload} --trace {trace}"
    if code != 0:
        return [f"{where}: exit code {code}"]
    result = json.loads(stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != RESULT_KEYS:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result.get("correct") is not True:
        errors.append(f"{where}: correct is {result.get('correct')}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        errors.append(f"{where}: attempted is {result.get('attempted')}")
    if not isinstance(result.get("failed"), int):
        errors.append(f"{where}: failed is {result.get('failed')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result.get("metrics", {})
    if set(got) != set(want):
        errors.append(
            f"{where}: missing {sorted(set(want) - set(got))}, unexpected {sorted(set(got) - set(want))}"
        )
    for name, m in got.items():
        if name in want and m.get("unit") != want[name]:
            errors.append(f"{where}: {name} unit {m.get('unit')!r}, BENCHMARK.json says {want[name]!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            errors.append(f"{where}: {name} value {v!r}")
    return errors


def check_refuses_without_engine(spec: dict) -> list[str]:
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path), os.path.join(bare, path),
                ignore=shutil.ignore_patterns(".work", "__pycache__"),
            )
        code, stdout = run(bare, spec["workloads"][0]["name"], 0)
    if code == 0 or stdout.strip():
        return [f"without the engine: exit code {code}, stdout {stdout.strip()[:200]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    errors = check_refuses_without_engine(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            code, stdout = run(ROOT, w["name"], trace)
            errs = check_result(spec, w["name"], trace, code, stdout)
            print(f"{w['name']} --trace {trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
