#!/usr/bin/env python3
"""Same-window A/B of one benchmark workload between two checkouts.

    python3 tools/bench_ab.py PARENT_DIR CHANGE_DIR --workload server-mixed \\
        --seeds 7001-7010 [--seconds 15] [--trace 0] [--out ab.json]
    python3 tools/bench_ab.py --selftest

Runs the unchanged `perfbench/run.py` of each checkout once per seed,
alternating which side runs first (the first seed runs the parent first).
Every result line and a per-metric summary (each side's median and
quartiles, and how many pairs the change won) go to a JSON sidecar, by
default `ab-<workload>-<seeds>.json` in the current directory; each run's
stderr goes to `<sidecar>.log`. The printed verdict is the same-window rule:
a metric improved only when at least ten pairs ran, the change wins at
least nine tenths of them (ties count for neither side) and the medians
differ, in the better direction, by more than the parent's own q1-q3
spread. A metric with a
bound in BENCHMARK.json also reports whether the change's median is worse
than the parent's by more than that bound. Under the summary table, a
second table gives every metric's parent/change values seed by seed.

Quartiles interpolate linearly between order statistics
(`statistics.quantiles(..., method="inclusive")`).
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

MIN_PAIRS = 10  # fewer pairs never show a gain


def quartiles(xs):
    """(q1, median, q3) of a non-empty sample."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs, better, bound=None):
    """Summary of one metric over (parent, change) value pairs.

    `better` is "lower" or "higher"; `bound` is the share of the parent's
    median by which the change may worsen before it counts as a regression.
    """
    sign = 1.0 if better == "lower" else -1.0
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    gap = sign * (pmed - cmed)  # > 0 when the change is better
    iqr = pq3 - pq1
    out = {
        "better": better, "pairs": len(pairs), "wins": wins, "losses": losses,
        "parent": {"median": pmed, "q1": pq1, "q3": pq3},
        "change": {"median": cmed, "q1": cq1, "q3": cq3},
        "gap": gap, "parent_iqr": iqr,
        "improved": len(pairs) >= MIN_PAIRS and wins * 10 >= 9 * len(pairs)
                    and gap > iqr,
    }
    if bound is not None:
        out["bound"] = bound
        out["regressed"] = -gap > bound * abs(pmed)
    return out


def value(metric):
    """A result metric's number: run.py prints `{"value": v, "unit": u}`."""
    return metric["value"] if isinstance(metric, dict) else metric


def metric_specs(checkout):
    """name -> (better, bound or None) from a checkout's BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: (m.get("better", "lower"), m.get("bound"))
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def run_once(checkout, workload, seed, seconds, trace, log):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    log.write(f"=== {checkout} seed {seed}\n")
    log.flush()
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=log,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return {"returncode": p.returncode, "wall_s": round(time.time() - t0, 1),
            "result": result}


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def report(summary, out):
    out.write(f"{'metric':34s} {'parent median (q1-q3)':>28s} "
              f"{'change median (q1-q3)':>28s} {'wins':>6s}  verdict\n")
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        verdict = "improved" if s["improved"] else "not shown"
        if s.get("regressed"):
            verdict += f", WORSE than the {s['bound']:g} bound"
        out.write(f"{name:34s} {p['median']:>10.4g} ({p['q1']:.4g}-{p['q3']:.4g})"
                  f"{'':>4s} {c['median']:>10.4g} ({c['q1']:.4g}-{c['q3']:.4g})"
                  f"{'':>4s} {s['wins']:>2d}/{s['pairs']:<2d}  {verdict}\n")


def per_seed(values, out):
    """`values`: metric -> [(seed, parent, change)], the same seeds in the
    same order for every metric. One row per metric, one `parent/change`
    cell per seed."""
    if not values:
        return
    seeds = [str(s) for s, _, _ in next(iter(values.values()))]
    cells = {name: [f"{p:.4g}/{c:.4g}" for _, p, c in rows]
             for name, rows in values.items()}
    width = max(len(x) for x in seeds + [c for cs in cells.values() for c in cs])
    out.write("per seed, parent/change:\n")
    out.write(f"{'metric':34s} " + " ".join(f"{s:>{width}s}" for s in seeds) + "\n")
    for name, cs in cells.items():
        out.write(f"{name:34s} " + " ".join(f"{c:>{width}s}" for c in cs) + "\n")


def selftest():
    import io
    # change better by 5 on every pair; parent IQR 4.5
    parent = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    s = summarize([(p, p - 5) for p in parent], "lower", 0.25)
    assert (s["parent"]["q1"], s["parent"]["median"], s["parent"]["q3"]) == \
        (12.25, 14.5, 16.75), s["parent"]
    assert s["wins"] == 10 and s["gap"] == 5 and s["parent_iqr"] == 4.5
    assert s["improved"] and not s["regressed"]
    # same gap, but a gap of 4 is inside the parent's IQR
    assert not summarize([(p, p - 4) for p in parent], "lower")["improved"]
    # 9/10 wins is enough, 8/10 is not; a tie counts for neither side
    nine = [(p, p - 5) for p in parent[:9]] + [(parent[9], parent[9] + 1)]
    assert summarize(nine, "lower")["improved"]
    eight = [(p, p - 5) for p in parent[:8]] + [(p, p) for p in parent[8:]]
    s8 = summarize(eight, "lower")
    assert (s8["wins"], s8["losses"]) == (8, 0) and not s8["improved"]
    # higher-is-better flips the direction
    up = summarize([(p, p + 5) for p in parent], "higher", 0.25)
    assert up["wins"] == 10 and up["gap"] == 5 and up["improved"]
    # fewer than ten pairs never show a gain
    assert not summarize([(p, p - 5) for p in parent[:9]], "lower")["improved"]
    assert summarize([(p, p - 5) for p in parent], "higher")["wins"] == 0
    # a change 30 % worse than the parent's median breaks a 0.25 bound
    assert summarize([(10, 13)] * 3, "lower", 0.25)["regressed"]
    assert not summarize([(10, 12)] * 3, "lower", 0.25)["regressed"]
    assert summarize([(10, 7)] * 3, "higher", 0.25)["regressed"]
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)
    assert value({"value": 1.5, "unit": "s"}) == 1.5 and value(2) == 2
    assert parse_seeds("5-7") == [5, 6, 7] and parse_seeds("4") == [4]
    assert math.isclose(quartiles([1, 2, 3, 4])[1], 2.5)
    buf = io.StringIO()
    per_seed({"ops_per_s": [(8101, 30.72, 33.73), (8102, 29.21, 34.0)],
              "setup_s": [(8101, 21.34, 21.25), (8102, 21.0, 21.5)]}, buf)
    lines = buf.getvalue().splitlines()
    assert lines[0] == "per seed, parent/change:"
    assert lines[1].split() == ["metric", "8101", "8102"]
    assert lines[2].split() == ["ops_per_s", "30.72/33.73", "29.21/34"]
    assert lines[3].split() == ["setup_s", "21.34/21.25", "21/21.5"]
    assert len({len(l) for l in lines[1:]}) == 1  # aligned columns
    empty = io.StringIO()
    per_seed({}, empty)
    assert empty.getvalue() == ""
    print("bench_ab selftest ok")


def main():
    if "--selftest" in sys.argv[1:]:
        selftest()
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="inclusive range A-B, one pair per seed")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--out", help="JSON sidecar path")
    a = ap.parse_args()
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    out = a.out or f"ab-{a.workload}-{a.seeds[0]}-{a.seeds[-1]}.json"
    specs = metric_specs(change)

    runs = []
    with open(out + ".log", "w") as log:
        for i, seed in enumerate(a.seeds):
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            for side, checkout in order:
                r = run_once(checkout, a.workload, seed, a.seconds, a.trace, log)
                r.update(seed=seed, side=side, first=order[0][0])
                runs.append(r)
                res = r["result"] or {}
                print(f"[bench_ab] seed {seed} {side}: exit {r['returncode']}, "
                      f"failed {res.get('failed')}, {r['wall_s']} s",
                      file=sys.stderr)

    by = {(r["seed"], r["side"]): (r["result"] or {}) for r in runs}
    complete = [s for s in a.seeds
                if by[(s, "parent")].get("metrics") and by[(s, "change")].get("metrics")]
    names = sorted(set.intersection(*[
        set(by[(s, side)]["metrics"]) for s in complete for side in ("parent", "change")
    ])) if complete else []
    summary, values = {}, {}
    for name in names:
        better, bound = specs.get(name, ("lower", None))
        values[name] = [(s, value(by[(s, "parent")]["metrics"][name]),
                         value(by[(s, "change")]["metrics"][name])) for s in complete]
        summary[name] = summarize([(p, c) for _, p, c in values[name]],
                                  better, bound)
    failed = {side: [by[(s, side)].get("failed") for s in a.seeds]
              for side in ("parent", "change")}
    with open(out, "w") as fh:
        json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
                   "trace": int(a.trace), "parent": parent, "change": change,
                   "complete_pairs": complete, "failed": failed,
                   "summary": summary, "runs": runs}, fh, indent=1)
    print(f"{a.workload}: {len(complete)}/{len(a.seeds)} complete pairs, "
          f"failed parent {failed['parent']} change {failed['change']}")
    report(summary, sys.stdout)
    per_seed(values, sys.stdout)
    print(f"sidecar: {out}")


if __name__ == "__main__":
    main()
