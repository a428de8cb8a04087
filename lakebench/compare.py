#!/usr/bin/env python3
"""Compare two sets of saved lakebench results, metric by metric.

    python3 lakebench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each file is a result saved by lakebench/run.py under .bench_build/results/.
For every workload and end-to-end metric this prints both sides' medians
over their runs, the ratio new/base and each side's quartile spread. It
refuses (exit 2) to compare results stamped with different cpu counts,
heap sizes or Spark versions, since those numbers do not carry across.
"""
import json
import statistics
import sys

STAMP_KEYS = ("cpus", "heap", "spark_version")


def load(paths):
    out = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        out.setdefault(r["stamp"]["workload"], []).append(r)
    return out


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else float("nan")


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    stamps = {tuple(r["stamp"].get(k) for k in STAMP_KEYS)
              for side in (base, new) for rs in side.values() for r in rs}
    if len(stamps) != 1:
        print(f"refusing to compare results with different {'/'.join(STAMP_KEYS)}: "
              f"{sorted(stamps)}", file=sys.stderr)
        sys.exit(2)
    print(f"{'workload':11} {'metric':17} {'base':>10} {'new':>10} {'new/base':>9} "
          f"{'base_iqr':>9} {'new_iqr':>8} runs")
    for w in sorted(set(base) & set(new)):
        for m in base[w][0]["end_to_end"]:
            b = [r["end_to_end"][m]["value"] for r in base[w]]
            n = [r["end_to_end"][m]["value"] for r in new[w]]
            mb, mn = statistics.median(b), statistics.median(n)
            ratio = mn / mb if mb else float("nan")
            print(f"{w:11} {m:17} {mb:10.4f} {mn:10.4f} {ratio:9.3f} "
                  f"{spread(b):9.3f} {spread(n):8.3f} {len(b)}/{len(n)}")


if __name__ == "__main__":
    main(sys.argv[1:])
