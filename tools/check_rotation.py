"""Registry rotation guard (VERDICT r5 task 8): the driver verifies a
bounded PREFIX (~50 queries) of `queries()` per round, and
`ordered_queries()` rotates least-recently-green queries to the front
so every oracle query cycles through that window. This tool FAILS when
the rotation stops delivering that guarantee — i.e. when some oracle
query could go more than ceil(n_oracle / window) + GRACE rounds without
a driver-green row.

Checks, in order:
  1. window sanity — the upcoming window (the first `--window` entries
     of ordered_queries()) must consist of oracle queries only while
     un-green oracle queries remain outside it (a rows-only query in
     the prefix wastes a slot that can never go green);
  2. staleness — every oracle query green at some past round must
     reappear in the window within the cycle budget: rounds since its
     last green, minus the rounds it must wait behind staler queries
     (its position in the rotation ÷ window), must not exceed GRACE;
  3. never-green — oracle queries with no green row in ANY round must
     sit early enough in the rotation to be verified within GRACE
     cycles (new queries sort to the front, so a healthy registry
     passes trivially).

Exit code 1 on any violation — wire into the round checklist next to
check_oracles/explain_audit.
"""

from __future__ import annotations

import argparse
import glob
import math
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def latest_round(root: str) -> int:
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r0*(\d+)\.json$", p))
    ]
    return max(rounds, default=0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--window", type=int, default=50,
                    help="driver correctness window size (prefix length)")
    ap.add_argument("--grace", type=int, default=1,
                    help="extra rounds allowed beyond one full cycle")
    args = ap.parse_args()

    from ilogtail_spark.queries import (
        NO_ORACLE,
        ORACLES,
        _last_green_rounds,
        ordered_queries,
    )

    now = latest_round(ROOT)
    last = _last_green_rounds()
    order = list(ordered_queries())
    n_oracle = len(ORACLES)
    cycle = math.ceil(n_oracle / args.window)
    failures: list[str] = []

    # 1. no wasted window slots
    ungreen_outside = [
        nm for nm in order[args.window:] if nm in ORACLES and nm not in last
    ]
    wasted = [nm for nm in order[: args.window] if nm in NO_ORACLE]
    if wasted and ungreen_outside:
        failures.append(
            f"rows-only {wasted} occupy window slots while un-green oracle "
            f"queries wait outside: {ungreen_outside}"
        )

    # 2+3. every oracle query verified within its cycle budget
    for pos, nm in enumerate(order):
        if nm not in ORACLES:
            continue
        rounds_to_reach = pos // args.window  # full windows ahead of it
        seen = last.get(nm)
        rounds_waited = (now - seen) if seen is not None else now
        budget = cycle + args.grace
        if rounds_waited + rounds_to_reach > budget + cycle:
            failures.append(
                f"{nm}: last green r{seen}, {rounds_waited} rounds ago, "
                f"position {pos} means {rounds_to_reach} more rounds to "
                f"reach the window — exceeds the {budget + cycle}-round "
                f"budget (cycle={cycle}, grace={args.grace})"
            )

    covered = sum(1 for nm in ORACLES if nm in last)
    print(
        f"rotation: {len(order)} queries, {n_oracle} oracle, window "
        f"{args.window} → cycle {cycle} rounds; union driver-green "
        f"{covered}/{n_oracle}; latest round r{now}"
    )
    if failures:
        print(f"{len(failures)} FAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("rotation healthy: every oracle query within its cycle budget")
    return 0


if __name__ == "__main__":
    sys.exit(main())
