"""Seeded inputs and the oracle for the match benchmark.

Every input is derived from the committed pair-score fixture
`fixtures/match_synth_wide_sf01.csv.gz`. It holds the exact score of every
(username, employee) pair of the wide workload: 125 usernames x 20 000
employees, built as `SparkEntry.rosterWide` / `usernamesWide` build them from
the sf0.1 `part` table. The fixture's distinct (emp_id, employee_name) rows
are the roster (`STAFF_ID`, `Full Name`) and its distinct usernames are the
probe set, so the fixture stays the exact oracle of every generated input.

The seed varies only what results must not depend on: the row order of the
roster and username files, which usernames each serving request carries
(one from each length stratum), and the order and jitter of arrivals.
"""

import csv
import json
import os
import random

import duckdb

FIXTURE = os.path.join("fixtures", "match_synth_wide_sf01.csv.gz")
N_PART = 20000  # the fixture slice of the sf0.1 part table

_LABELS = """CASE WHEN score >= 50 THEN
                CASE rank WHEN 1 THEN 'HIGH CONFIDENCE'
                          WHEN 2 THEN '2nd HIGH CONFIDENCE'
                          WHEN 3 THEN '3rd HIGH CONFIDENCE'
                          WHEN 4 THEN 'NOT SURE' ELSE '' END
                ELSE 'USER NOT FOUND' END"""

# The flagship contract as window SQL over the pair scores (the same SQL as
# SparkEntry.synthTopkOracleSql): top-4 by (score desc, emp_id, name),
# threshold 50, dense-rank labels, a NOT-FOUND row when nothing qualifies.
TOP4_SQL = f"""
WITH ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY username ORDER BY score DESC, emp_id, employee_name) AS rn
  FROM pairs),
topk AS (
  SELECT *, dense_rank() OVER (PARTITION BY username ORDER BY score DESC) AS rank
  FROM ranked WHERE rn <= 4)
SELECT username,
       CASE WHEN score >= 50 THEN emp_id ELSE 'N/A' END,
       CASE WHEN score >= 50 THEN employee_name ELSE 'USER NOT FOUND' END,
       CASE WHEN score >= 50 THEN score_fmt || '%' ELSE '0.00%' END,
       {_LABELS}
FROM topk WHERE score >= 50 OR rn = 1
ORDER BY 1, 2, 3"""


class Oracle:
    """The fixture, converted once to parquet under `cache_dir`, and the
    top-4 answer derived from it."""

    def __init__(self, cache_dir):
        os.makedirs(cache_dir, exist_ok=True)
        self.pairs = os.path.join(cache_dir, "pairs.parquet")
        meta = os.path.join(cache_dir, "oracle.json")
        self._con = duckdb.connect()
        if not os.path.exists(meta):
            tmp = self.pairs + ".tmp"
            self._con.execute(f"""COPY (
                SELECT username, emp_id, employee_name, score, score_fmt
                FROM read_csv('{FIXTURE}', types={{'emp_id': 'VARCHAR', 'score': 'DOUBLE',
                                                  'score_fmt': 'VARCHAR'}})
                WHERE n_part = {N_PART}) TO '{tmp}' (FORMAT parquet)""")
            os.replace(tmp, self.pairs)
            self._con.execute(f"CREATE VIEW pairs AS SELECT * FROM read_parquet('{self.pairs}')")
            data = {
                "roster": self._q("SELECT DISTINCT emp_id, employee_name FROM pairs "
                                  "ORDER BY CAST(emp_id AS BIGINT)"),
                "usernames": [r[0] for r in self._q("SELECT DISTINCT username FROM pairs ORDER BY 1")],
                "top4": self._q(TOP4_SQL),
            }
            with open(meta + ".tmp", "w") as f:
                json.dump(data, f)
            os.replace(meta + ".tmp", meta)
        with open(meta) as f:
            data = json.load(f)
        self.roster = [tuple(r) for r in data["roster"]]
        self.usernames = data["usernames"]
        self.top4 = [tuple(r) for r in data["top4"]]

    def _q(self, sql):
        return [list(r) for r in self._con.execute(sql).fetchall()]

    def top4_for(self, usernames):
        keep = set(usernames)
        return [r for r in self.top4 if r[0] in keep]


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def write_batch_inputs(oracle, seed, work):
    """The roster and username CSVs in seeded row order, plus a header-only
    username file (the CLI's fixed-cost invocation)."""
    rng = random.Random(seed)
    roster = list(oracle.roster)
    rng.shuffle(roster)
    users = list(oracle.usernames)
    rng.shuffle(users)
    paths = {k: os.path.join(work, f"{k}.csv") for k in ("roster", "users", "users_empty")}
    write_csv(paths["roster"], ["STAFF_ID", "Full Name"], roster)
    write_csv(paths["users"], ["username"], [[u] for u in users])
    write_csv(paths["users_empty"], ["username"], [])
    return paths


def write_requests(oracle, seed, staged_dir, count, size, prefix):
    """`count` request files of `size` distinct usernames each, as parquet
    files named `<prefix>-NNNNN.parquet`. The usernames are cut into `size`
    strata by length (a username's kernel cost grows with its length) and
    each request draws one username per stratum, in seeded order, so every
    request carries a like mix of cheap and costly names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"{seed}:{prefix}")
    by_len = sorted(oracle.usernames, key=lambda u: (len(u), u))
    strata = [by_len[i * len(by_len) // size:(i + 1) * len(by_len) // size] for i in range(size)]
    for s in strata:
        rng.shuffle(s)
    os.makedirs(staged_dir, exist_ok=True)
    out = []
    for i in range(count):
        users = [s[i % len(s)] for s in strata]
        rng.shuffle(users)
        name = f"{prefix}-{i:05d}.parquet"
        pq.write_table(pa.table({"username": pa.array(users, pa.string())}),
                       os.path.join(staged_dir, name))
        out.append({"name": name, "usernames": users})
    return out


def schedule(seed, count, rate, jitter):
    """Arrival offsets in seconds: a fixed-rate schedule, each arrival moved
    by up to `jitter` of the interval either way, in seeded order."""
    rng = random.Random(f"{seed}:arrivals")
    gap = 1.0 / rate
    return sorted(max(0.0, (i + rng.uniform(-jitter, jitter)) * gap) for i in range(count))
