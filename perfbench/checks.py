"""Correctness checks. Each returns (attempted, failed, notes) counted in
the workload's operations: a landed file for the relay, a landed file (one
epoch) for the dedup stream, a query execution for the analytics mix."""
import collections
import hashlib
import math
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_relay(landed, per_file, rows, dup_dropped, replay_events):
    """`landed` lists the landed files as (name, base file index); `rows`
    the published (event_id, msg_id) pairs. A file fails unless each of
    its events is published exactly once under a unique msg_id; every
    replay file fails if the dedup state did not drop exactly the
    injected replays."""
    ids = collections.Counter(e for e, _ in rows)
    msgs = collections.Counter(m for _, m in rows)
    bad_base = set()
    for e, m in rows:
        if ids[e] != 1 or msgs[m] != 1:
            bad_base.add(e // per_file)
    bases = {b for _, b in landed}
    for b in bases:
        if any(ids[e] != 1 for e in range(b * per_file, (b + 1) * per_file)):
            bad_base.add(b)
    stray = [e for e in ids if e // per_file not in bases]
    notes = []
    if stray:
        notes.append(f"{len(stray)} published events were never landed")
    replay_ok = dup_dropped == replay_events
    if not replay_ok:
        notes.append(f"dedup dropped {dup_dropped}, replays {replay_events}")
    failed = 0
    for name, b in landed:
        if b in bad_base or (name.endswith("r") and not replay_ok):
            failed += 1
    if bad_base:
        notes.append(f"{len(bad_base)} files not published exactly once")
    return len(landed), min(len(landed), failed + bool(stray)), notes


def check_dedup(expected, got, error=None):
    """`expected` maps each landed file to the doc_ids first seen in it;
    `got` maps each file whose epoch committed to the survivors the stream
    wrote for it. A file fails if its epoch never committed, if its
    survivors differ, or if the stream stopped with `error`."""
    if error:
        return len(expected), len(expected), [f"stream failed: {error}"]
    failed = [f for f in expected
              if f not in got or sorted(expected[f]) != sorted(got[f])]
    notes = [f"file {f}: expected {len(expected[f])} survivors, got "
             f"{'no commit' if f not in got else len(got[f])}"
             for f in failed[:3]]
    return len(expected), len(failed), notes


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
    return v


def _rows(rel):
    cols = sorted(rel.columns)
    types = [str(rel.types[rel.columns.index(c)]) for c in cols]
    rows = [tuple(_norm(r[rel.columns.index(c)]) for c in cols)
            for r in rel.fetchall()]
    return cols, types, rows


def oracle_results(data_dir, oracle_sql, cache_dir):
    """DuckDB oracle answer per query. It depends on neither the engine
    nor the seed (the re-layout keeps table contents), so it is computed
    once per query text and data and cached."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as f:
            h.update(f.read())
    data_key = h.hexdigest()
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            con.sql("SET threads=2")
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data_dir}/{t}.parquet'")
        out[name] = _rows(con.sql(sql))
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out[name], f)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def read_output(path):
    con = duckdb.connect()
    try:
        return _rows(con.sql(f"SELECT * FROM '{path}/*.parquet'"))
    finally:
        con.close()


def compare(expected, got):
    """None if the engine's output equals the oracle's (columns, types and
    rows in order, as a hash of the result sees them), else why."""
    (ec, et, er), (gc, gt, gr) = expected, got
    if ec != gc:
        return f"columns {ec} != {gc}"
    if et != gt:
        return f"types {et} != {gt}"
    if len(er) != len(gr):
        return f"rowcount {len(er)} != {len(gr)}"
    for i, (a, b) in enumerate(zip(er, gr)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


def check_queries(expected, outputs):
    """`outputs` maps query name to its output rows, or to an error
    string when the query failed."""
    notes = []
    for name, exp in sorted(expected.items()):
        got = outputs.get(name, "missing output")
        why = got if isinstance(got, str) else compare(exp, got)
        if why:
            notes.append(f"{name}: {why}"[:300])
    return len(expected), len(notes), notes
