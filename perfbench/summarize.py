#!/usr/bin/env python3
"""Summarizes run records into a baseline.

    python3 perfbench/summarize.py <out_dir> <record.json>...

Writes <out_dir>/runs.jsonl (one line per run: workload, seed, trace,
host, attempted, failures, metrics), <out_dir>/summary.md (per workload
and end-to-end metric: median, quartiles and spread as a share of the
median, as the acceptance check computes them; then the per-layer
metrics and the self time per layer of the traced runs), and a copy of
each traced record and its spans as <out_dir>/traced-<workload>.json and
<out_dir>/spans-<workload>.jsonl.
"""
import json
import os
import shutil
import statistics
import sys


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return m, q[0], q[2], (q[2] - q[0]) / m if m else float("nan")


def main(out, paths):
    recs = [json.load(open(p)) for p in paths]
    recs.sort(key=lambda r: (r["workload"], r["trace"], r["seed"]))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "runs.jsonl"), "w") as f:
        for r in recs:
            metrics = r["layers"] if r["trace"] else dict(r["end_to_end"], peak_rss_mb=r["peak_rss_mb"])
            f.write(json.dumps({k: r[k] for k in ("workload", "seed", "trace", "host", "attempted",
                                                  "failures", "run_s")}
                               | {"metrics": metrics}, sort_keys=True) + "\n")
    lines = ["# Baseline", ""]
    for w in sorted({r["workload"] for r in recs}):
        plain = [r for r in recs if r["workload"] == w and not r["trace"]]
        traced = [r for r in recs if r["workload"] == w and r["trace"]]
        host = (plain or traced)[0]["host"]
        lines += [f"## {w}", "",
                  f"{len(plain)} untraced runs, seeds {sorted(r['seed'] for r in plain)}; "
                  f"nproc {host['nproc']}, Spark {host['spark_version']}, -Xmx {host['xmx']}, "
                  f"commit {host.get('git_commit')}; failed ops "
                  f"{sum(len(r['failures']) for r in plain)} of {sum(r['attempted'] for r in plain)}.",
                  "", "| metric | median | Q1 | Q3 | (Q3-Q1)/median |", "|---|---|---|---|---|"]
        if len(plain) >= 2:
            for k in list(plain[0]["end_to_end"]) + ["peak_rss_mb"]:
                xs = [r["peak_rss_mb"] if k == "peak_rss_mb" else r["end_to_end"][k] for r in plain]
                m, q1, q3, s = spread(xs)
                lines.append(f"| {k} | {m:.4g} | {q1:.4g} | {q3:.4g} | {s:.3f} |")
        for r in traced:
            if r.get("spans_file") and os.path.exists(r["spans_file"]):
                shutil.copy(r["spans_file"], os.path.join(out, f"spans-{w}.jsonl"))
                r = dict(r, spans_file=f"spans-{w}.jsonl")
            with open(os.path.join(out, f"traced-{w}.json"), "w") as f:
                json.dump(r, f, indent=1, sort_keys=True)
            total = sum(r["rollup_self_ms"].values()) or 1.0
            lines += ["", f"Traced run (seed {r['seed']}): self time per layer", "",
                      "| layer | self ms | share |", "|---|---|---|"]
            lines += [f"| {k} | {v:.0f} | {v / total:.1%} |" for k, v in r["rollup_self_ms"].items()]
            lines += ["", "| per-layer metric | value |", "|---|---|"]
            lines += [f"| {k} | {v:.4g} |" for k, v in r["layers"].items()]
        lines.append("")
    with open(os.path.join(out, "summary.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
