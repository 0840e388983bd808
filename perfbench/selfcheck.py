#!/usr/bin/env python3
"""Self-check of the benchmark at tiny input sizes (about a minute per run).

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json untraced and traced with
`--size tiny`, and asserts that each run succeeds, prints exactly the
metrics BENCHMARK.json names for that mode with their units, and ran every
output check (the checks' names are on the run's stderr).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# checks every untraced run of a workload must report
UNTRACED_CHECKS = {
    "flood_day": [
        "plan.day_sinks_keep_columns", "day.summary_rows", "day.detailed_rows",
        "day.digest_recorded", "setup.serving_tables",
        "serve.point_summary_rows", "serve.point_detailed_rows", "serve.bbox_rows",
    ],
    "curate_corpus": [
        "plan.verdict_sink_keeps_columns", "curate.rows", "curate.exact_dup",
        "curate.digest_recorded", "setup.hash_store", "serve.ingest_kept",
    ],
}


def run(bench, workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    assert r.returncode == 0, f"{workload} trace={trace}: exit {r.returncode}\n{r.stderr[-3000:]}"
    res = json.loads(last)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    spec = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metric/unit mismatch\n" \
        f"missing {sorted(set(want) - set(got))}\nextra {sorted(set(got) - set(want))}\n" \
        f"units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    ran = [l for l in r.stderr.splitlines() if l.startswith("checks run:")]
    assert ran, f"{workload} trace={trace}: no checks line"
    names = ran[-1][len("checks run:"):].split(", ")
    if not trace:
        for c in UNTRACED_CHECKS[workload]:
            assert c in (n.strip() for n in names), f"{workload}: check {c} did not run"
    print(f"ok {workload} trace={trace}: {len(got)} metrics, checks {len(names)}")


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace in (0, 1):
            run(bench, w["name"], trace)


if __name__ == "__main__":
    main()
