"""Self-test of the benchmark on small inputs.

    python3 perfbench/selftest.py

Runs every workload at --size tiny, untraced and traced, from a working
directory outside the checkout root, and checks that:
  - each run exits 0 with every output matching its oracle;
  - the printed metric names and units are exactly BENCHMARK.json's;
  - the traced per-layer `.s` sums stay within the traced pass's wall time
    (traced outputs equal untraced ones: run.py counts a difference as a
    failure);
  - an output that disagrees with its oracle makes the command exit
    non-zero: one row of the cached curate oracle is changed, the
    unchanged command is run again, and the file is restored;
  - in a directory holding only BENCHMARK.json and the benchmark's files
    the command exits non-zero without printing a result.
Exit code 0 when all hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT


def _run(cwd: str, root: str, *args: str) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    from perfbench.trace import LAYERS, per_layer_names
    from perfbench.workloads import ALL_QUERIES

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    errors: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            errors.append(what)

    expect(list(layer) == per_layer_names(ALL_QUERIES), "per_layer list matches trace.per_layer_names")

    scratch = os.path.join(ROOT, ".perfbench", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    common = ("--seed", "0", "--seconds", "1", "--size", "tiny")
    oracle = None
    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in (("0", e2e), ("1", layer)):
            code, out = _run(scratch, ROOT, "--workload", w, "--trace", trace, *common)
            res = json.loads(out[-1]) if out else {}
            tag = f"{w} trace={trace}"
            if w == "curate" and trace == "0" and len(out) > 1:
                oracle = os.path.join(ROOT, json.loads(out[-2])["provenance"]["oracle"])
            expect(code == 0 and res.get("correct") is True and res.get("failed") == 0, f"{tag}: exit 0, outputs correct")
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            expect(got == names, f"{tag}: metric names and units match BENCHMARK.json")
            if trace == "1" and got == names:
                m = {k: v["value"] for k, v in res["metrics"].items()}
                spent = sum(m[f"{lay}.s"] for lay in LAYERS if lay != "session")
                expect(spent <= m["trace.pass_s"], f"{tag}: layer .s sum {spent:.3f} <= pass {m['trace.pass_s']:.3f}")

    if oracle is None:
        expect(False, "curate run names its oracle file")
    else:
        with open(oracle) as fh:
            saved = fh.read()
        wrong = json.loads(saved)
        q = next(k for k, v in wrong.items() if v["rows"])
        wrong[q]["rows"][0] = "not an oracle value"
        try:
            with open(oracle, "w") as fh:
                json.dump(wrong, fh)
            code, out = _run(scratch, ROOT, "--workload", "curate", "--trace", "0", *common)
        finally:
            with open(oracle, "w") as fh:
                fh.write(saved)
        res = json.loads(out[-1]) if out else {}
        expect(code == 1 and res.get("correct") is False, f"output disagreeing with its oracle ({q}) exits 1")

    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run(bare, bare, "--workload", "curate", "--seed", "0", "--seconds", "1", "--trace", "0")
    expect(code != 0 and not any(line.startswith('{"correct"') for line in out), "bare directory exits non-zero, no result")
    shutil.rmtree(scratch, ignore_errors=True)

    print("selftest:", "PASS" if not errors else f"FAIL ({len(errors)})")
    return 0 if not errors else 1


if __name__ == "__main__":
    raise SystemExit(main())
