#!/usr/bin/env python3
"""Prints the cumulative layer table of a traced extract run.

    python3 perfbench/layer_table.py .bench_build/results/extract_uniform-seed1-trace1.json

Each row is one rung of the ladder (scan, + decode, + tokenizer kernel,
+ encode, + parquet write, full ExtractJob.run): its median wall time, its
self time (the difference to the rung before) and that self time's share
of the full job.
"""

import json
import sys

ROWS = ["scan, all columns", "+ decode to Doc", "+ tokenizer kernel",
        "+ encode ExtractedDoc", "+ parquet write", "full ExtractJob.run"]
LAYERS = ["scan", "decode", "tokenize", "encode", "write", "commit"]


def main(path):
    with open(path) as f:
        art = json.load(f)
    info, metrics = art["info"], art["metrics"]
    rungs = info["rung_wall_s"]
    job = rungs[-1] + metrics["commit.self_s"]  # the median full job
    walls = rungs + [job]
    docs = info["corpus_docs"]
    print(f"{docs} docs, local[{info['cores_wide']}], median of "
          f"{len(info['job_plain_s'])} runs; {docs / job:,.0f} docs/s\n")
    print("| layer | wall | self | share |")
    print("| --- | --- | --- | --- |")
    for row, layer, wall in zip(ROWS, LAYERS, walls):
        self_s = metrics[f"{layer}.self_s"]
        print(f"| {row} | {wall:.2f} s | {self_s:+.2f} s | {self_s / job:.0%} |")
    print(f"\ntracing overhead: traced job / untraced job = "
          f"{metrics['trace.overhead_ratio']:.3f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
