#!/usr/bin/env python3
"""Regenerate the ETL example fixture: fixtures/example/2021-03-21T{11,12,13}.csv.

Three headerless hourly purchase CSVs in the reference pipeline's input
format (FIXTURES.md section 1), drawn from the data_generator.py
distributions that FIXTURES.md section 3 documents:

- email: 6-12 random lowercase ASCII letters + "@example.com", one row per
  generated email;
- (item_id, price): sampled with replacement from a per-file pool of
  batch-size tuples, item_id in [100, 500], price in [1, 200], so one
  item_id can carry different prices across tuples;
- quantity in [1, 10];
- purchase_date: uniform minute and second within the file's hour,
  formatted yyyy-MM-ddTHH:mm:ss; rows sorted by timestamp.

The row counts are fixed at the reference example's 318 / 178 / 413 (909
in all), and the documented first row of the 11:00 file,
`hrrlmu@example.com,319,8,98,2021-03-21T11:00:19`, is planted as that
file's first row; the file's other timestamps are drawn at or after
11:00:19 so the file stays sorted with it first.

Deterministic: the same seed writes byte-identical files.

Usage: python3 scripts/gen_example.py [out_dir] [--seed N]
Defaults: fixtures/example (relative to the repository root), seed 2021.
"""
import argparse
import os
import random

HOURS = (("2021-03-21T11", 318), ("2021-03-21T12", 178), ("2021-03-21T13", 413))
FIRST_ROW = ("hrrlmu@example.com", 319, 8, 98, "2021-03-21T11:00:19")


def rows_for_hour(rnd, hour, n, floor_s):
    """n rows for `hour`; every timestamp is at or after second `floor_s`."""
    emails = ["".join(chr(ord("a") + rnd.randrange(26))
                      for _ in range(rnd.randint(6, 12))) + "@example.com"
              for _ in range(n)]
    pool = [(rnd.randint(100, 500), rnd.randint(1, 200)) for _ in range(n)]
    rows = []
    for email in emails:
        item_id, price = pool[rnd.randrange(len(pool))]
        quantity = rnd.randint(1, 10)
        while True:
            minute, second = rnd.randrange(60), rnd.randrange(60)
            if minute * 60 + second >= floor_s:
                break
        rows.append((email, item_id, quantity, price,
                     "%s:%02d:%02d" % (hour, minute, second)))
    rows.sort(key=lambda r: r[4])
    return rows


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", nargs="?",
                    default=os.path.join(here, "..", "fixtures", "example"))
    ap.add_argument("--seed", type=int, default=2021)
    args = ap.parse_args()
    rnd = random.Random(args.seed)
    os.makedirs(args.out_dir, exist_ok=True)
    for hour, n in HOURS:
        if hour == FIRST_ROW[4][:13]:
            rows = [FIRST_ROW] + rows_for_hour(rnd, hour, n - 1, 19)
        else:
            rows = rows_for_hour(rnd, hour, n, 0)
        assert len(rows) == n
        assert [r[4] for r in rows] == sorted(r[4] for r in rows)
        with open(os.path.join(args.out_dir, hour + ".csv"), "w", newline="\n") as f:
            for r in rows:
                f.write("%s,%d,%d,%d,%s\n" % r)


if __name__ == "__main__":
    main()
