"""Self-test of the benchmark at the smallest scale (sf0.001-equivalent).

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced and checks that:
- the last stdout line has exactly correct/attempted/failed/metrics, with
  failed = 0;
- every metric BENCHMARK.json names for that mode is printed, with its unit;
- the traced run's spans nest inside their parents and have self time >= 0.
Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOL_S = 0.002  # batch spans come from millisecond listener timestamps


def expect(ok: bool, msg: str) -> None:
    if not ok:
        sys.exit(f"selftest failed: {msg}")


def check_spans(path: str) -> None:
    with open(path) as fh:
        spans = {s["id"]: s for s in json.load(fh)}
    for s in spans.values():
        expect(s["end"] >= s["start"], f"span {s['name']} ends before it starts")
        expect(s["self"] >= -TOL_S, f"span {s['name']} has self time {s['self']}")
        if s["parent"] is not None:
            p = spans[s["parent"]]
            expect(p["run"] == s["run"], f"span {s['name']} crosses runs")
            expect(p["start"] - TOL_S <= s["start"] and s["end"] <= p["end"] + TOL_S,
                   f"span {s['name']} [{s['start']}, {s['end']}] outside parent "
                   f"{p['name']} [{p['start']}, {p['end']}]")
    roots = [s["name"] for s in spans.values() if s["parent"] is None]
    expect(roots == ["run"], f"root spans {roots}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                   w["name"], "--seed", "7", "--seconds", "1", "--trace",
                   str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            expect(out.returncode == 0, f"{w['name']} trace={trace}: exit "
                   f"{out.returncode}\n{out.stderr[-3000:]}")
            lines = out.stdout.strip().splitlines()
            res, detail = json.loads(lines[-1]), json.loads(lines[-2])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, str(res))
            expect(res["correct"] and res["failed"] == 0, str(detail["detail"]))
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w['name']} trace={trace}: {got} != {want}")
            if trace:
                check_spans(detail["spans"])
            print(f"ok {w['name']} trace={trace}: " + ", ".join(
                f"{k}={v['value']:.4g} {v['unit']}"
                for k, v in res["metrics"].items()), flush=True)


if __name__ == "__main__":
    main()
