#!/usr/bin/env python3
"""Self-test of the benchmark's correctness gates: each must trip on a
perturbed output, and pass its unperturbed control.

- DuckDB oracle compare (registry_sample): a float off in the last bit,
  a changed string, a NULL for a value, a dropped row, a renamed column.
- KPI views against the generator's expectations, and the row digests
  that compare cycles and refresh reads (JVM side, perfbench.SelfTest).

Run from the root of a checkout:  python3 perfbench/selftest.py
Exit 0 means every gate trips where it should.
"""
import math
import os
import subprocess
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gates  # noqa: E402
import run  # noqa: E402


def oracle_cases():
    base = pd.DataFrame({"k": [1, 2, 3], "name": ["a", "b", None],
                         "x": [0.5, 1.25, float("nan")]})

    def with_(col, i, v):
        df = base.copy()
        df.loc[i, col] = v
        return df

    return [
        ("control: same rows, other order", base.iloc[::-1], False),
        ("float off in the last bit", with_("x", 1, math.nextafter(1.25, 2.0)), True),
        ("string changed", with_("name", 0, "z"), True),
        ("NULL for a value", with_("name", 1, None), True),
        ("row dropped", base.iloc[:2], True),
        ("column renamed", base.rename(columns={"x": "y"}), True),
    ]


def main():
    bad = 0
    base = oracle_cases()[0][1].iloc[::-1]
    for name, spark, should_trip in oracle_cases():
        why = gates._compare(base, spark)
        ok = (why is not None) == should_trip
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} oracle compare, {name}: {why or 'passes'}")

    cp = run.build()
    p = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"], cwd=run.ROOT,
                       capture_output=True, text=True, timeout=170)
    sys.stdout.write(p.stdout)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        bad += 1
    print("ALL GATES TRIP" if bad == 0 else f"{bad} GATE CHECKS FAILED")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
