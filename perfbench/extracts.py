"""Seeded CSV extracts for the daily_etl workload.

The reference loads 22 clinical CSV extracts whose column types are only
known after sampling. These extracts keep the reference's file names and
give every column one intended type from the TypeInference lattice:

  smallint   2..32767 plus the "0"/"1" edge values
  integer    32768..2^31-1
  bigint     above 2^31
  numeric    two-decimal values, and a column mixing integers with decimals
  boolean    t/f/TRUE/false in mixed case
  date       a column cycling through every pinned date format, and
             midnight-only timestamps
  timestamp  a column cycling through every pinned timestamp format, and a
             column mixing dates with timestamps
  text       leading-zero IDs, free text with commas and apostrophes, and
             a column that is always empty

Every non-ID column also holds some empty cells. Table sizes straddle the
1,000- and 10,000-row sample-size thresholds. Day 2 reloads each table with
seeded deletes, edits and appends up to its day-2 size; the column types
stay the same.
"""
import csv
import datetime as dt
import os
import random

BASE = dt.datetime(2019, 1, 1)
WORDS = ["fever", "cough", "admit", "discharge", "o'brien", "follow-up", "ward",
         "chest x-ray", "negative", "positive", "icu", "oxygen", "patient's",
         "note", "covid", "screen", "consult", "labs", "stable", "transfer"]


def _day(r):
    return BASE + dt.timedelta(days=r.randrange(0, 1400))


def _moment(r):
    # Never midnight, so a timestamp column never votes date.
    return _day(r) + dt.timedelta(seconds=r.randrange(60, 86340))


def _bool(r):
    return r.choice(["t", "f", "TRUE", "false", "T", "False"])


def _small(r):
    return str(r.choice([0, 1, r.randrange(2, 32768)]))


def _mixed_num(r, i):
    return str(r.randrange(10, 5000)) if i % 2 == 0 else f"{r.uniform(1, 5000):.3f}"


def _mixed_ts(r, i):
    return (_day(r).strftime("%Y-%m-%d") if i % 2 == 0
            else _moment(r).strftime("%Y-%m-%d %H:%M:%S"))


def _text(r):
    return " ".join(r.choice(WORDS) for _ in range(r.randrange(1, 6))) + \
        ("," + r.choice(WORDS) if r.random() < 0.3 else "")


# Every pinned TypeInference format, as (format name, render(datetime)).
DATE_FORMATS = [
    lambda d: d.strftime("%Y-%m-%d"), lambda d: d.strftime("%Y/%m/%d"),
    lambda d: d.strftime("%Y.%m.%d"), lambda d: f"{d.month}/{d.day}/{d.year}",
    lambda d: f"{d.month}/{d.day}/{d.year % 100:02d}", lambda d: f"{d.month}-{d.day}-{d.year}",
    lambda d: f"{d.day}.{d.month}.{d.year}", lambda d: f"{d:%b} {d.day}, {d.year}",
    lambda d: f"{d:%B} {d.day}, {d.year}", lambda d: f"{d.day} {d:%b} {d.year}",
    lambda d: d.strftime("%Y-%m-%d 00:00:00"),  # midnight-only timestamp: a date
]
TIMESTAMP_FORMATS = [
    lambda m: m.strftime("%Y-%m-%d %H:%M:%S"), lambda m: m.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3],
    lambda m: m.strftime("%Y-%m-%dT%H:%M:%S+02:00"),
    lambda m: f"{m.month}/{m.day}/{m.year} {m.hour}:{m:%M}",
    lambda m: f"{m.month}/{m.day}/{m.year} {m.hour}:{m:%M:%S}",
    lambda m: m.strftime("%Y%m%dT%H%M%S"),
]

# kind -> (intended Spark type, value(r, row_index)). The date and timestamp
# kinds cycle through every pinned format row by row, so any sample of a
# dozen rows holds each format.
KINDS = {
    "small": ("smallint", lambda r, i: _small(r)),
    "int32": ("int", lambda r, i: str(r.randrange(32768, 2**31))),
    "big": ("bigint", lambda r, i: str(r.randrange(2**31, 9 * 10**15))),
    "amount": ("decimal(38,18)", lambda r, i: f"{r.uniform(1, 99999):.2f}"),
    "mixed_num": ("decimal(38,18)", _mixed_num),
    "flag": ("boolean", lambda r, i: _bool(r)),
    "dates": ("date", lambda r, i: DATE_FORMATS[i % len(DATE_FORMATS)](_day(r))),
    "stamps": ("timestamp", lambda r, i: TIMESTAMP_FORMATS[i % len(TIMESTAMP_FORMATS)](_moment(r))),
    "mixed_ts": ("timestamp", _mixed_ts),
    "note": ("string", lambda r, i: _text(r)),
    "blank": ("string", lambda r, i: ""),
}
EMPTY_SHARE = 0.04

# (file name, day-1 rows, day-2 rows, column kinds): two of the reference's
# 22 extract names, sized so that every sampleSizeFor branch runs: <= 1,000
# rows (med_admin, day 1), <= 10,000 (med_admin, day 2) and more
# (PH_F_Encounter). Together they hold every kind once.
ENCOUNTER = ["big", "small", "amount", "flag", "note"]
TABLES = [("med_admin", 800, 1150, [k for k in KINDS if k not in ENCOUNTER]),
          ("PH_F_Encounter", 10300, 10300, ENCOUNTER)]


def _columns(t):
    """Columns of table t: two IDs, then the table's share of the kinds."""
    return ["row_id", "empi_id"] + [f"{k}_{j}" for j, k in enumerate(TABLES[t][3])]


def _kind(column):
    return column.rsplit("_", 1)[0]


def _row(r, cols, row_id, i):
    out = [str(row_id), f"{r.randrange(1, 10**9):010d}"]
    for c in cols[2:]:
        k = _kind(c)
        v = KINDS[k][1](r, i)
        # cycling and mixed columns keep every sample of them complete
        if k in ("small", "int32", "big", "amount", "flag", "note") and \
                r.random() < EMPTY_SHARE:
            v = ""
        out.append(v)
    return out


def write(root, seed):
    """Write day1/ and day2/ extracts under root; return the intended
    {table: {"columns": [[name, type], ...], "rows": [day1, day2]}}."""
    intent = {}
    for t, (name, n, n2, _) in enumerate(TABLES):
        r = random.Random(f"{seed}/{name}")
        cols = _columns(t)
        base = 40000 + t * 10**6
        day1 = [_row(r, cols, base + i, i) for i in range(n)]
        day2 = []
        for i, row in enumerate(day1):
            u = r.random()
            if u < 0.05:
                continue  # deleted on day 2
            day2.append(_row(r, cols, row[0], i) if u < 0.15 else row)
        day2 += [_row(r, cols, base + n + i, len(day2) + i) for i in range(n2 - len(day2))]
        for day, rows in (("day1", day1), ("day2", day2)):
            os.makedirs(os.path.join(root, day), exist_ok=True)
            with open(os.path.join(root, day, name + ".csv"), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(cols)
                w.writerows(rows)
        types = [["row_id", "int"], ["empi_id", "string"]] + \
            [[c, KINDS[_kind(c)][0]] for c in cols[2:]]
        intent[name.lower()] = {"columns": types, "rows": [len(day1), len(day2)]}
    return intent
