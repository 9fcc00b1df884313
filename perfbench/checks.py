"""Output checks made after a run, against DuckDB on the same generated inputs.

- corpus: every registered query's result, as Spark wrote it, must equal
  its DuckDB twin from `SparkEntry.oracleSql` (columns sorted by name,
  rows in order, result types equal), the way `dev/oracle_check.py` does.
- migrate, the lake ops of a traced run (the migration itself is checked
  in the JVM): the op stream is replayed in DuckDB on plain tables. Every read,
  lookup and view refresh must return what the replay returns at that
  point, and the final table snapshots must equal the replay's.

Each function returns the set of op indices that failed, plus a count of
failures not tied to one op (a final-snapshot mismatch).
"""
import glob
import math
import os

import duckdb

REL_TOL = 1e-9


def _parquet(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def _connect(inputs_dir, tables):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"{_parquet(os.path.join(inputs_dir, t + '.parquet'))})")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    return v


def _corrupt_rows(rows):
    """Change one value of the first row, the way a wrong answer would."""
    if not rows:
        return [("corrupted",)]
    first = list(rows[0])
    v = first[0]
    if isinstance(v, bool) or v is None:
        first[0] = "corrupted"
    elif isinstance(v, (int, float)):
        first[0] = v + 1
    else:
        first[0] = str(v) + "x"
    return [tuple(first)] + list(rows[1:])


def check_corpus(result, corrupt=False, log=print):
    ops = [o for o in result["ops"] if o.get("result") and o["ok"]]
    tables = [c["name"] for c in result["inputs"]]
    con = _connect(result["inputs_dir"], tables)
    oracle = {}
    failed = set()
    for n, o in enumerate(ops):
        key, sql = o["key"], o.get("oracle")
        try:
            if not sql:
                raise ValueError("no DuckDB twin registered")
            if key not in oracle:
                rel = con.sql(sql)
                cols = sorted(rel.columns)
                types = dict(zip(rel.columns, (str(t) for t in rel.types)))
                rows = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols)
                               + f" FROM ({sql})").fetchall()
                oracle[key] = (cols, [types[c] for c in cols], rows)
            cols, types, want = oracle[key]
            src = _parquet(o["result"])
            rel = con.sql(f"SELECT * FROM read_parquet({src})")
            got_cols = sorted(rel.columns)
            got_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
            got = con.sql("SELECT " + ", ".join(f'"{c}"' for c in got_cols)
                          + f" FROM read_parquet({src})").fetchall()
            if corrupt and n == 0:
                got = _corrupt_rows(got)
            if got_cols != cols:
                raise ValueError(f"columns {got_cols} != {cols}")
            if [got_types[c] for c in got_cols] != types:
                raise ValueError(f"types {[got_types[c] for c in got_cols]} != {types}")
            if len(got) != len(want):
                raise ValueError(f"{len(got)} rows != {len(want)}")
            for i, (a, b) in enumerate(zip(got, want)):
                if tuple(map(_norm, a)) != tuple(map(_norm, b)):
                    raise ValueError(f"row {i}: {a} != {b}")
        except Exception as e:  # a failed check, whatever its cause
            log(f"[perfbench] check failed: op {o['i']} {key}: {str(e)[:300]}")
            failed.add(o["i"])
    return failed, 0


def _same_value(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    try:
        x, y = float(a), float(b)
    except (TypeError, ValueError):
        return str(a) == str(b)
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    return x == y or abs(x - y) <= REL_TOL * max(abs(x), abs(y))


def _same_rows(got, want):
    if len(got) != len(want):
        return False
    return all(len(r) == len(s) and all(_same_value(a, b) for a, b in zip(r, s))
               for r, s in zip(got, want))


def check_lake(result, corrupt=False, log=print):
    ops = sorted((o for o in result["ops"] if "sql" in o), key=lambda o: o["i"])
    if not ops:  # untraced migrate runs carry no lake ops
        return set(), 0
    con = _connect(result["inputs_dir"], ["orders", "lineitem", "customer"])
    for t in ("orders", "lineitem", "customer"):
        con.sql(f"CREATE VIEW src_{t} AS SELECT * FROM {t}")
    con.sql("CREATE TABLE lk_orders AS SELECT * FROM src_orders")
    con.sql("CREATE TABLE lk_lineitem AS SELECT * FROM src_lineitem")
    snaps = {o["snapshot_after"] for o in ops if "snapshot_after" in o}

    def snapshot(after):
        if after in snaps:
            con.sql(f"CREATE TABLE snap_orders_{after + 1} AS SELECT * FROM lk_orders")

    snapshot(-1)
    failed = set()
    for o in ops:
        try:
            if o["cls"] == "write":
                if o["ok"]:
                    for stmt in o.get("duck") or []:
                        con.sql(stmt)
                    if o.get("duck_check"):
                        want = con.sql(o["duck_check"]).fetchall()
                        if not _same_rows([tuple(r) for r in o["rows"]], want):
                            raise ValueError(f"view {o['rows']} != replay {want}")
            elif o["ok"]:
                want = con.sql(o["duck"]).fetchall()
                if not _same_rows([tuple(r) for r in o["rows"]], want):
                    raise ValueError(f"{o['rows'][:3]} != replay {want[:3]}")
        except Exception as e:
            log(f"[perfbench] check failed: op {o['i']} {o['name']}: {str(e)[:300]}")
            failed.add(o["i"])
        snapshot(o["i"])

    final = result["notes"]["lake_final"]
    unattributed = 0
    for t in ("lk_orders", "lk_lineitem"):
        con.sql(f"CREATE TABLE spark_{t} AS SELECT * FROM read_parquet("
                f"{_parquet(os.path.join(final, t))})")
        if corrupt and t == "lk_orders":
            con.sql("UPDATE spark_lk_orders SET o_totalprice = o_totalprice + 1 "
                    "WHERE o_orderkey = (SELECT min(o_orderkey) FROM spark_lk_orders)")
        extra = con.sql(f"SELECT count(*) FROM (SELECT * FROM spark_{t} "
                        f"EXCEPT ALL SELECT * FROM {t})").fetchone()[0]
        missing = con.sql(f"SELECT count(*) FROM (SELECT * FROM {t} "
                          f"EXCEPT ALL SELECT * FROM spark_{t})").fetchone()[0]
        if extra or missing:
            log(f"[perfbench] check failed: final {t}: {extra} rows not in the "
                f"replay, {missing} replay rows missing")
            unattributed += 1
    return failed, unattributed


CHECKS = {"corpus": check_corpus, "migrate": check_lake}
