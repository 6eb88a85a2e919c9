#!/usr/bin/env python3
"""Rebuild the reference workload's input CSVs from fixtures/match_golden.csv.

    python3 tools/gen_reference_csvs.py [out_dir]

match_golden.csv holds every (username, employee) pair of the reference
workload (110 usernames x 154 employees) in input order, with the roster's
raw emp_id / first / last name fields, so both inputs are recoverable:

  employee.csv   154 rows, header EMP_ID,First_Name,Last_Name, raw case,
                 duplicate emp_ids (14 and 92) kept;
  usernames.csv  110 rows, header username, first-appearance order.

The default out_dir is src/test/resources/reference, which the match specs
read from the classpath.
"""

import csv
import os
import sys

GOLDEN = os.path.join("fixtures", "match_golden.csv")
OUT = os.path.join("src", "test", "resources", "reference")


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else OUT
    with open(GOLDEN, newline="") as f:
        rows = list(csv.DictReader(f))
    usernames = list(dict.fromkeys(r["username"] for r in rows))
    # every username is paired with the whole roster in roster order
    roster = [(r["emp_id"], r["first_name"], r["last_name"])
              for r in rows if r["username"] == usernames[0]]
    assert len(usernames) * len(roster) == len(rows), "golden is not a full cross product"

    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "employee.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["EMP_ID", "First_Name", "Last_Name"])
        w.writerows(roster)
    with open(os.path.join(out, "usernames.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["username"])
        w.writerows([u] for u in usernames)
    print(f"wrote {len(roster)} employees and {len(usernames)} usernames to {out}")


if __name__ == "__main__":
    main()
