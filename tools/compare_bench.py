"""Compare two bench artifacts: per-query ratios, geomean, regressions.

Handles these artifact shapes:
- the full result file bench.py writes (BENCH_FULL.json);
- a bench stdout log, or a round-close BENCH_r{N}.json wrapper whose
  "tail" holds the last chars of stdout: the short `{"metric": ...}`
  last line names the full file, which is read;
- older artifacts whose one JSON line carried the per-query map: read
  whole when present; when the tail truncated it mid-dict, the pairs
  are regexed out, cutting at the first 'sf1' marker so the sf1
  section's keys do not shadow the sf0.1 entries.

Single-run medians (the wall-budget degrade path) are marked so a
reader doesn't over-read one cold sample as a regression.

Usage:
    python tools/compare_bench.py BENCH_r08.json BENCH_r09.json
    python tools/compare_bench.py old/BENCH_FULL.json BENCH_FULL.json
    python tools/compare_bench.py old_run.log new_run.log [--top 8]
"""

from __future__ import annotations

import json
import math
import re
import sys


def load_queries(path: str) -> tuple[dict[str, float], set[str]]:
    """Returns ({query: median_sec}, {degraded query names})."""
    text = open(path).read()
    try:
        whole = json.loads(text)
    except ValueError:
        whole = None
    if isinstance(whole, dict) and "queries" in whole:  # the full file
        return whole["queries"], set(whole.get("degraded_to_single_run", []))
    if isinstance(whole, dict) and "tail" in whole:  # round-close wrapper
        text = whole["tail"]
    # whole JSON line present -> exact parse (the short line names the
    # full file; older lines carry the per-query map themselves)
    for line in text.splitlines():
        ls = line.strip()
        if ls.startswith('{"metric"'):
            d = json.loads(ls)
            if "full" in d:
                return load_queries(d["full"])
            return d.get("queries", {}), set(d.get("degraded_to_single_run", []))
    # truncated tail -> regex the key/value pairs, cut before sf1 keys
    cut = text.find("sf1")
    body = text[:cut] if cut != -1 else text
    out: dict[str, float] = {}
    for k, v in re.findall(r'\\?"([a-z0-9_]+)\\?": ([0-9]+\.[0-9]+)', body):
        if k not in ("value", "sf"):
            out[k] = float(v)
    deg = set()
    m = re.search(r'degraded_to_single_run\\?": \[([^\]]*)\]', body)
    if m:
        deg = set(re.findall(r'"([a-z0-9_]+)"', m.group(1)))
    return out, deg


def main() -> None:
    argv = sys.argv[1:]
    args: list[str] = []
    top = 8
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--top":
            if i + 1 >= len(argv) or not argv[i + 1].isdigit():
                print("--top needs an integer", file=sys.stderr)
                sys.exit(2)
            top = int(argv[i + 1])
            i += 2
        elif a.startswith("--top="):
            val = a.split("=", 1)[1]
            if not val.isdigit():
                print("--top needs an integer", file=sys.stderr)
                sys.exit(2)
            top = int(val)
            i += 1
        else:
            args.append(a)
            i += 1
    if len(args) != 2:
        print(__doc__)
        sys.exit(2)
    old, odeg = load_queries(args[0])
    new, ndeg = load_queries(args[1])
    common = sorted(k for k in new if k in old and old[k] > 0 and new[k] > 0)
    if not common:
        print("no common queries")
        sys.exit(1)
    ratios = sorted(((new[k] / old[k], k) for k in common))
    geo = math.exp(sum(math.log(r) for r, _ in ratios) / len(ratios))
    flag = lambda k: "*" if k in odeg | ndeg else ""  # noqa: E731
    print(
        f"{len(common)} common queries ({len(old)} old, {len(new)} new); "
        f"geomean new/old = {geo:.3f}"
    )
    print(f"slowest regressions (top {top}; * = single-run sample somewhere):")
    for r, k in ratios[-top:][::-1]:
        print(f"  {k}{flag(k)}: {old[k]:.2f}s -> {new[k]:.2f}s  ({r:.2f}x)")
    print(f"best improvements (top {top}):")
    for r, k in ratios[:top]:
        print(f"  {k}{flag(k)}: {old[k]:.2f}s -> {new[k]:.2f}s  ({r:.2f}x)")
    only_new = sorted(set(new) - set(old))
    if only_new:
        print(f"new-only queries: {', '.join(only_new)}")


if __name__ == "__main__":
    main()
