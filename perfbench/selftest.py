#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

1. Every workload at the tiny size, untraced and traced, exits 0 and
   prints exactly the metrics BENCHMARK.json declares, with their units;
   every end-to-end value is above zero.
2. A planted corruption of a landed ingest round (one ``_DONE`` marker
   deleted, or one landed file deleted) is reported as a failed op and
   makes the command exit non-zero.
3. In a directory holding only BENCHMARK.json and the benchmark's own
   files, the command exits non-zero without printing a result.

Takes a few minutes; prints one line per case and exits non-zero if any
case fails.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _run(args: list[str], cwd: Path = ROOT) -> tuple[int, dict | None]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(spec["command"] + args, cwd=cwd, capture_output=True, text=True, timeout=180)
    last = p.stdout.strip().splitlines()[-1:] or [""]
    try:
        out = json.loads(last[0])
    except ValueError:
        out = None
    return p.returncode, out


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []

    def case(name: str, ok: bool, detail: str = "") -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {name} {detail}", flush=True)
        if not ok:
            failures.append(name)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, out = _run(["--workload", w, "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "tiny"])
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in (out or {}).get("metrics", {}).items()}
            ok = code == 0 and out is not None and out["correct"] and got == want
            if ok and trace == 0:
                ok = all(v["value"] > 0 for v in out["metrics"].values())
            case(f"{w} trace={trace}", ok, "" if ok else f"exit {code}, missing {sorted(set(want) - set(got))}, "
                                                     f"extra {sorted(set(got) - set(want))}")

    for what in ("done", "file"):
        code, out = _run(["--workload", "ingest", "--seed", "7", "--seconds", "3", "--trace", "0",
                          "--size", "tiny", "--corrupt", what])
        ok = code != 0 and out is not None and out["failed"] >= 1 and not out["correct"]
        case(f"ingest with one landed {'_DONE marker' if what == 'done' else 'file'} deleted fails", ok)

    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run(["--workload", "ingest", "--seed", "7", "--seconds", "3", "--trace", "0"], cwd=bare)
    case("without the engine it exits non-zero and prints no result", code != 0 and out is None)
    shutil.rmtree(bare, ignore_errors=True)

    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
