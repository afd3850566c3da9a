"""Trace report and result comparison.

    python3 perfbench/report.py RESULT-t1.json
        per-layer self time per warm operation (from the run's spans),
        the union of Spark job intervals against the operation's wall
        time, and the tracing overhead against the untraced run of the
        same workload and seed when its result is present.

    python3 perfbench/report.py --compare BASE.json NEW.json
        end-to-end metrics side by side, with each run's calibration
        sentinel (a fixed Spark job's time: a host that slowed down
        shows there first). Results taken at different core counts are
        refused.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import self_times  # noqa: E402


def layer_self_times(spans: list[dict], ops: set[str]) -> dict[str, float]:
    """Self time summed by layer (the span name's first part) over ``ops``."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["op"] in ops:
            out[s["name"].split(".", 1)[0]] += own[s["id"]]
    return dict(out)


def trace_report(path: Path) -> None:
    rec = json.loads(path.read_text())
    wl, seed = rec["workload"], rec["seed"]
    spans_path = path.with_name(f"{wl}-s{seed}.spans.jsonl")
    spans = [json.loads(line) for line in spans_path.read_text().splitlines()]
    warm = {f"op{i}" for i, r in enumerate(rec["samples"], start=1) if r["warm"]}
    print(f"{wl} seed {seed}: {len(warm)} warm operations, nproc {rec['host']['nproc']}")
    print("\nself time per warm operation, by layer")
    for layer, t in sorted(layer_self_times(spans, warm).items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<12} {t / len(warm):8.3f} s")
    pl = {k: v["value"] for k, v in rec["per_layer"].items()}
    print("\nSpark jobs per warm operation")
    print(f"  wall (median)        {pl['trace.warm_p50_s']:8.3f} s")
    print(f"  job-interval union   {pl['jobs.union_s']:8.3f} s   (overlapping jobs counted once)")
    print(f"  driver only          {pl['jobs.driver_only_s']:8.3f} s")
    print(f"  jobs / stages / tasks {pl['jobs.count']:.1f} / {pl['jobs.stages']:.1f} / {pl['jobs.tasks']:.1f}")
    untraced = path.with_name(f"{wl}-s{seed}-t0.json")
    if untraced.is_file():
        base = json.loads(untraced.read_text())["end_to_end"]["warm_p50_s"]["value"]
        over = pl["trace.warm_p50_s"] - base
        print(f"\ntracing overhead: {over:+.3f} s per warm operation ({over / base:+.1%} of {base:.3f} s untraced)")
    else:
        print(f"\ntracing overhead: no untraced result at {untraced}")


def compare(a: Path, b: Path) -> int:
    ra, rb = json.loads(a.read_text()), json.loads(b.read_text())
    if ra["host"]["nproc"] != rb["host"]["nproc"]:
        print(f"refused: {a} ran on {ra['host']['nproc']} cores, {b} on {rb['host']['nproc']}",
              file=sys.stderr)
        return 2
    print(f"{'metric':<14} {'base':>12} {'new':>12} {'new/base':>9}")
    for k, v in ra["end_to_end"].items():
        x, y = v["value"], rb["end_to_end"][k]["value"]
        print(f"{k:<14} {x:12.4f} {y:12.4f} {y / x:9.3f}  {v['unit']}")
    x, y = ra["host"]["calib_sec"], rb["host"]["calib_sec"]
    print(f"{'calib_sec':<14} {x:12.4f} {y:12.4f} {y / x:9.3f}  s (host sentinel)")
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["--compare"] and len(args) == 3:
        sys.exit(compare(Path(args[1]), Path(args[2])))
    if len(args) == 1:
        trace_report(Path(args[0]))
        sys.exit(0)
    print(__doc__, file=sys.stderr)
    sys.exit(2)
