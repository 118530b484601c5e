"""Summarize benchmark artifacts: per workload and metric, the median of the
runs and their spread (the distance between the first and third quartile
as a share of the median, as ``statistics.quantiles(values, n=4)`` gives
them).

    python3 perfbench/summarize.py .perfbench_out/lakehouse_sf0.01-*trace0*.json

With ``--out FILE`` the summary, with every run's seed, metrics, host
probes and load, is also written as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict


def summarize(paths: list[str]) -> dict:
    runs: dict[str, list[dict]] = defaultdict(list)
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            art = json.load(fh)
        runs[art["workload"]].append({
            "seed": art["seed"], "trace": art["trace"], "correct": art["correct"],
            "attempted": art["attempted"], "failed": art["failed"],
            "cpu_probe_s": [art["cpu_probe_before_s"], art["cpu_probe_after_s"]],
            "loadavg_before": art["loadavg_before"], "source_md5": art["source_md5"],
            "metrics": {k: v["value"] for k, v in art["metrics"].items()},
        })
    out = {}
    for workload, rs in sorted(runs.items()):
        metrics = {}
        for name in rs[0]["metrics"]:
            values = [r["metrics"][name] for r in rs]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
            metrics[name] = {"median": med, "iqr_share": (q3 - q1) / med if med else None}
        out[workload] = {"runs": len(rs), "all_correct": all(r["correct"] for r in rs),
                         "metrics": metrics, "per_run": rs}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("artifacts", nargs="+")
    ap.add_argument("--out")
    args = ap.parse_args()
    summary = summarize(args.artifacts)
    for workload, s in summary.items():
        print(f"{workload}: {s['runs']} runs, all correct: {s['all_correct']}")
        for name, m in s["metrics"].items():
            spread = "n/a" if m["iqr_share"] is None else f"{m['iqr_share']:.3f}"
            print(f"  {name:34s} median {m['median']:.6g}  spread {spread}")
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
