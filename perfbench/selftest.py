#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the library):

  1. input digests: the same seed gives the same digest, another seed a
     different one, for every workload;
  2. the compare command's verdict rule on synthetic result sets;
  3. answer checks: each workload is fed one deliberately wrong answer
     (an out-of-filter record, a double claim, a missed planted copy) and
     the run must report it as failed and exit non-zero.

    python3 perfbench/selftest.py            # all three, about 3 minutes
    python3 perfbench/selftest.py --quick    # 1 and 2 only
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = [sys.executable, os.path.join(HERE, "run.py")]
WORKLOADS = ["portal_reads", "manager_cycle", "curation_ingest"]
FAULTS = {"portal_reads": "out_of_filter", "manager_cycle": "double_claim", "curation_ingest": "missed_copy"}


def digest(workload, seed):
    out = subprocess.run(RUN + ["--workload", workload, "--seed", str(seed), "--digest-only"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return out.strip().splitlines()[-1]


def main():
    ok = True
    for w in WORKLOADS:
        a, b, c = digest(w, 7), digest(w, 7), digest(w, 8)
        good = a == b and a != c
        print(f"digest {w:<16} seed 7: {a} {b}  seed 8: {c}  {'ok' if good else 'FAIL'}")
        ok &= good

    ok &= subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), "selftest"]).returncode == 0

    if "--quick" not in sys.argv:
        for w, fault in FAULTS.items():
            p = subprocess.run(RUN + ["--workload", w, "--seed", "7", "--seconds", "2", "--trace", "0",
                                      "--fault", fault], stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
            good = p.returncode != 0 and res.get("correct") is False and res.get("failed", 0) >= 1
            print(f"fault  {w:<16} {fault:<14} exit {p.returncode}, failed {res.get('failed')}  "
                  f"{'ok' if good else 'FAIL'}")
            ok &= good
    print("selftest", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
