#!/usr/bin/env python3
"""Repeat benchmark runs and summarise them.

    python3 perfbench/report.py spread --workload search --seeds 1-10
        Runs the untraced benchmark once per seed and prints, for every
        end-to-end metric, the median, the quartiles and the spread: the
        distance between the first and third quartile as a share of the
        median (statistics.quantiles(values, n=4)).

    python3 perfbench/report.py layers --seed 1 --out perfbench/LAYERS.md
        Runs every workload untraced and traced with the same seed and writes
        the per-layer table: span self times, per-layer metrics, the floor
        split of one term's query, and the tracing overhead (traced minus
        untraced end-to-end).

Run from the root of a checkout. The run length defaults to BENCHMARK.json's
run_seconds. Raw result lines go to --raw (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "search")


def _run_seconds() -> float:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; returns its perfbench-report and result lines."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
    lines = out.strip().splitlines()
    report = next(json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-report "))
    return {"report": report, "result": json.loads(lines[-1])}


def _seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def cmd_spread(args, raw) -> None:
    runs = []
    for seed in _seeds(args.seeds):
        r = run(args.workload, seed, args.seconds, 0)
        runs.append(r)
        if raw:
            raw.write(json.dumps(r) + "\n")
            raw.flush()
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items())
              + f" failed={r['result']['failed']}/{r['result']['attempted']}", flush=True)
    print(f"\n{args.workload}: {len(runs)} runs")
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med, q1, q3, sp = spread(vals)
        print(f"  {name:22s} median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {sp:.3f}")


def cmd_layers(args, raw) -> None:
    out = ["# Per-layer table of one traced run per workload", ""]
    out.append(f"Generated by `python3 perfbench/report.py layers --seed {args.seed} --seconds {args.seconds}`.")
    out.append("Each workload ran once untraced (end-to-end) and once traced (spans, job counts, probes),")
    out.append("same seed. Self time = span duration minus its child spans.")
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        if raw:
            raw.write(json.dumps({"untraced": plain, "traced": traced}) + "\n")
        pr, tr = plain["report"], traced["report"]
        st = tr["stamps"]
        out += ["", f"## {w}", ""]
        out.append(
            f"Stamps: nproc {st['nproc']}, {st['spark_master']}, driver memory {st['driver_memory']}, "
            f"Spark {st['spark']}, Arrow {st['arrow']}, Java {st['java']}, seed {st['seed']}, "
            f"{st['corpus_turns']} turns, {st['postings']} postings, {st['ops']} operations traced. "
            f"Failed: untraced {pr['failed']}/{pr['attempted']}, traced {tr['failed']}/{tr['attempted']}."
        )
        out += ["", "| end-to-end metric | untraced | traced | tracing overhead |", "|---|---|---|---|"]
        untraced = {**pr["end_to_end"], **pr["wall"]}
        traced_e2e = {**tr["end_to_end"], **tr["wall"]}
        for name, m in untraced.items():
            a, b = m["value"], traced_e2e[name]["value"]
            out.append(f"| {name} ({m['unit']}) | {a:.4g} | {b:.4g} | {b - a:+.4g} ({(b - a) / a:+.1%}) |")
        out += ["", "| span | count | self s total | self s median |", "|---|---|---|---|"]
        for name, s in tr["detail"]["spans"].items():
            out.append(f"| {name} | {s['count']} | {s['self_s']:.4f} | {s['median_self_s']:.4f} |")
        out += ["", "| per-layer metric | value | unit |", "|---|---|---|"]
        for name, m in tr["per_layer"].items():
            out.append(f"| {name} | {m['value']:.4g} | {m['unit']} |")
        fs = tr["detail"]["floor_split"]
        out += [
            "",
            f"Floor split of one mid term (`{fs['term']}`: {fs['blocks']} blocks, {fs['postings']} postings), "
            "medians of repeated calls:",
            "",
            "| layer | seconds |",
            "|---|---|",
            f"| numpy unpack + BM25 kernel on the driver | {fs['kernel_s']:.6f} |",
            f"| JVM filter + collect of the blocks | {fs['scan_s']:.4f} |",
            f"| identity mapInPandas over the blocks | {fs['hop_s']:.4f} |",
            f"| search() + collect of the term | {fs['search_s']:.4f} |",
            "",
            "ROADMAP aim 1 quotes, for sf0.1 and the hot term `scan` (34 blocks, 3,866 postings): "
            "kernel 0.4 ms, JVM scan 0.07-0.17 s, identity hop 0.64 s, search() 0.69 s.",
        ]
        cells = tr["detail"].get("search_cells", {})
        if cells:
            out += ["", "| search cell | n | median s |", "|---|---|---|"]
            for name, c in sorted(cells.items()):
                out.append(f"| {name} | {c['n']} | {c['median_s']:.4f} |")
    with open(args.out, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {args.out}")


def main(argv=None) -> int:
    run_seconds = _run_seconds()
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True, choices=WORKLOADS)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--seconds", type=float, default=run_seconds)
    s.add_argument("--raw")
    lay = sub.add_parser("layers")
    lay.add_argument("--seed", type=int, default=1)
    lay.add_argument("--seconds", type=float, default=run_seconds)
    lay.add_argument("--out", default=os.path.join(HERE, "LAYERS.md"))
    lay.add_argument("--raw")
    args = p.parse_args(argv)
    raw = open(args.raw, "a") if args.raw else None
    try:
        (cmd_spread if args.cmd == "spread" else cmd_layers)(args, raw)
    finally:
        if raw:
            raw.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
