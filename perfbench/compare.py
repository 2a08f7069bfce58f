#!/usr/bin/env python3
"""Compare benchmark result sets of a parent commit and a change.

Record alternating pairs (the side that runs first alternates, both sides
use the same seed in a pair), then report:

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload portal_reads --runs 10 --out /tmp/cmp
    python3 perfbench/compare.py report /tmp/cmp/parent.jsonl /tmp/cmp/change.jsonl
    python3 perfbench/compare.py selftest

A result file holds one JSON object a line: {"workload", "seed", "result"},
where "result" is the benchmark's last output line. The report prints, for
every workload x end-to-end metric, both medians and quartiles, the share
of pairs the change won and a verdict, by the rule of the benchmark's
README ("Comparing two commits") and the bounds in BENCHMARK.json:

  improved    the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              own quartile spread
  regressed   the spreads are within the bound and the change's median is
              worse than the parent's by more than the bound
  unresolved  a run-to-run spread is wider than the bound and not every
              change run beats every parent run
  unchanged   otherwise
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench(path=None):
    with open(path or os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def verdict(parent, change, better, bound):
    """Verdict for one metric from paired parent/change values."""
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = wins / len(pairs) if pairs else 0.0
    if share >= 0.9 and abs(cm - pm) > (p3 - p1) and sign * (cm - pm) > 0:
        v = "improved"
    else:
        spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
        worse = -sign * (cm - pm) / abs(pm) if pm else 0.0
        if spread > bound:
            all_better = all(sign * (c - p) > 0 for c in change for p in parent)
            v = "unchanged" if all_better else "unresolved"
        elif worse > bound:
            v = "regressed"
        else:
            v = "unchanged"
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3), "won": share, "verdict": v}


def read_results(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def report(parent_rows, change_rows, bench):
    """One row per workload x end-to-end metric; pairs are matched by seed."""
    rows = []
    for w in [x["name"] for x in bench["workloads"]]:
        ps = {r["seed"]: r["result"] for r in parent_rows if r["workload"] == w}
        cs = {r["seed"]: r["result"] for r in change_rows if r["workload"] == w}
        seeds = sorted(set(ps) & set(cs))
        if not seeds:
            continue
        fails = (sum(ps[s]["failed"] for s in seeds), sum(cs[s]["failed"] for s in seeds))
        for m in bench["end_to_end"]:
            pv = [ps[s]["metrics"][m["name"]]["value"] for s in seeds]
            cv = [cs[s]["metrics"][m["name"]]["value"] for s in seeds]
            r = verdict(pv, cv, m["better"], m["bound"])
            if r["verdict"] == "improved" and fails[1] > fails[0]:
                r["verdict"] = "unresolved"  # a gain does not count with more failures
            rows.append(dict(r, workload=w, metric=m["name"], unit=m["unit"], n=len(seeds), failed=fails))
    return rows


def print_report(rows):
    print(f"{'workload':<16} {'metric':<14} {'n':>3}  {'parent q1 / median / q3':>30}  "
          f"{'change q1 / median / q3':>30}  {'won':>5}  verdict")
    for r in rows:
        p = " / ".join(f"{x:.4g}" for x in r["parent"])
        c = " / ".join(f"{x:.4g}" for x in r["change"])
        print(f"{r['workload']:<16} {r['metric']:<14} {r['n']:>3}  {p:>30}  {c:>30}  "
              f"{r['won']:>5.2f}  {r['verdict']}  (failed {r['failed'][0]} -> {r['failed'][1]})")


def run_one(checkout, bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True).stdout
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines:
        sys.exit(f"no result from {checkout} {workload} seed {seed}")
    return json.loads(lines[-1])


def cmd_run(a):
    bench = load_bench(os.path.join(a.change, "BENCHMARK.json"))
    os.makedirs(a.out, exist_ok=True)
    files = {side: open(os.path.join(a.out, f"{side}.jsonl"), "a") for side in ("parent", "change")}
    for i in range(a.runs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_one(getattr(a, side), bench, a.workload, seed)
            files[side].write(json.dumps({"workload": a.workload, "seed": seed, "result": res}) + "\n")
            files[side].flush()
    for fh in files.values():
        fh.close()


def cmd_report(a):
    rows = report(read_results(a.parent), read_results(a.change), load_bench(a.bench))
    print_report(rows)


def cmd_selftest(_):
    """A synthetic improved case, an unresolved case and a regressed case."""
    bench = {"workloads": [{"name": "w"}],
             "end_to_end": [{"name": "p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}]}

    def rows(vals):
        return [{"workload": "w", "seed": i, "result": {"failed": 0, "metrics": {"p50_ms": {"value": v}}}}
                for i, v in enumerate(vals)]
    parent = [100, 101, 99, 102, 98, 100, 101, 99, 100, 102]
    cases = {
        "improved": [80, 81, 79, 82, 78, 80, 81, 79, 80, 82],
        "unresolved": [60, 140, 70, 130, 100, 65, 135, 95, 105, 120],
        "regressed": [120, 121, 119, 122, 118, 120, 121, 119, 120, 122],
        "unchanged": [101, 100, 100, 101, 99, 100, 100, 100, 101, 101],
    }
    ok = True
    for want, change in cases.items():
        got = report(rows(parent), rows(change), bench)[0]["verdict"]
        print(f"selftest {want:<10} -> {got}")
        ok &= got == want
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="record alternating parent/change pairs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--out", required=True, help="directory for parent.jsonl and change.jsonl")
    r.set_defaults(fn=cmd_run)
    p = sub.add_parser("report", help="print the comparison of two result files")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--bench", help="BENCHMARK.json with the bounds (default: this checkout's)")
    p.set_defaults(fn=cmd_report)
    s = sub.add_parser("selftest", help="check the verdict rule on synthetic data")
    s.set_defaults(fn=cmd_selftest)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
