"""DuckDB replay of a mor_churn run.

The run records every write it applied and every read it served, in
order. The replay applies the same seeded mutation log to DuckDB tables
and checks each read (a SQL aggregate, a `VERSION AS OF` aggregate, the
rows a change-feed tail emitted) and the final state of every table.
"""
import glob
import json
import os

import duckdb

AGG = ("SELECT o_orderstatus, count(*) AS n, "
       "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, "
       "sum(o_orderkey) AS keysum FROM {} GROUP BY o_orderstatus ORDER BY o_orderstatus")
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"


def _apply(con, data, step):
    t, op = step["table"], step["op"]
    con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM read_parquet('{data}/{step['batch']}')")
    if op in ("upsert", "upsert_eq"):
        con.execute(f"DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
        con.execute(f"INSERT INTO {t} SELECT {COLS} FROM b")
    elif op in ("delete_keys", "sql_delete", "erase"):
        con.execute(f"DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
    elif op == "sql_update":
        con.execute(f"UPDATE {t} SET o_totalprice = o_totalprice + {step['delta']} "
                    "WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
    elif op == "sql_merge":
        con.execute(f"DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
        con.execute(f"INSERT INTO {t} SELECT {COLS} FROM b WHERE NOT del")
    else:
        raise ValueError(op)


def _rows(con, sql):
    return [[r[0], int(r[1]), int(r[2]), int(r[3])] for r in con.execute(sql).fetchall()]


def check(data, out):
    """Returns a list of (step, kind, detail) for every read or final
    table state the replay disagrees with."""
    log = json.load(open(os.path.join(data, "log.json")))
    events = json.load(open(os.path.join(out, "events.json")))
    con = duckdb.connect()
    for t in log["tables"]:
        con.execute(f"CREATE TABLE {t} AS SELECT {COLS} FROM "
                    f"read_parquet('{data}/base/{t}.parquet/*.parquet')")
    snaps = {}
    # rows appended to the change feed since the last tail run; the first
    # run also reads the feed's seed file
    feed_n, feed_ks = con.execute(
        f"SELECT count(*), coalesce(sum(o_orderkey), 0) FROM "
        f"read_parquet('{data}/feed0.parquet/*.parquet')").fetchone()
    wrong = []
    for ev in events:
        kind = ev["kind"]
        if kind == "init":
            snaps[(ev["table"], ev["epoch"])] = f"snap_{ev['table']}_{ev['epoch']}"
            con.execute(f"CREATE TABLE {snaps[(ev['table'], ev['epoch'])]} AS SELECT * FROM {ev['table']}")
        elif kind in ("write", "compact"):
            if kind == "write":
                _apply(con, data, log["steps"][ev["step"]])
            name = f"snap_{ev['table']}_{ev['epoch']}"
            snaps[(ev["table"], ev["epoch"])] = name
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM {ev['table']}")
        elif kind == "feed":
            for i in ev["steps"]:
                n, ks = con.execute(
                    f"SELECT count(*), coalesce(sum(o_orderkey), 0) FROM "
                    f"read_parquet('{data}/{log['steps'][i]['batch']}')").fetchone()
                feed_n, feed_ks = feed_n + n, feed_ks + ks
        elif kind == "sql":
            exp = _rows(con, AGG.format(ev["table"]))
            if exp != ev["rows"]:
                wrong.append((ev["step"], "read.sql", ev["table"]))
        elif kind == "version":
            exp = _rows(con, AGG.format(snaps[(ev["table"], ev["epoch"])]))
            if exp != ev["rows"]:
                wrong.append((ev["step"], "read.version", f"{ev['table']}@{ev['epoch']}"))
        elif kind == "tail":
            if [ev["rows"], ev["keysum"]] != [feed_n, feed_ks]:
                wrong.append((ev["step"], "read.tail", f"{ev['rows']} rows, expected {feed_n}"))
            feed_n, feed_ks = 0, 0
    for t in log["tables"]:
        files = glob.glob(os.path.join(out, "final", t, "*.parquet"))
        got = con.execute(f"SELECT {COLS} FROM read_parquet({files!r}) ORDER BY o_orderkey").fetchall() \
            if files else []
        exp = con.execute(f"SELECT {COLS} FROM {t} ORDER BY o_orderkey").fetchall()
        if got != exp:
            wrong.append((-1, "final", t))
    return wrong
