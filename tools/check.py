#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify's
outputs against the DuckDB oracle SQL and diff. Usage:
  python3 tools/check.py <sfDir> <outDir> [query ...]
(Verify must have been run first to populate outDir.)"""
import json, os, sys, math, re as _re, glob as _glob
import datetime as _dt
import decimal as _decimal
import duckdb

FRAGILE = _re.compile(r"round\s*\(")
FRAGILE_ALLOWED = {"diag_zero_sign"}  # the canary carries + 0.0 by design
OPTCHECK = os.environ.get("OPTCHECK", "1") != "0"
# Dual-reader leg (VERDICT r15 #5): the driver reads the ORACLE through
# duckdb-python's .df() and SPARK'S OUTPUT through pandas.read_parquet —
# two readers that canonicalize DECIMAL(38,0) differently (.df() ->
# float64, pandas -> decimal.Decimal objects), the divergence class
# that shipped three red rounds while this checker (both sides through
# DuckDB SQL) stayed green. This leg reproduces the asymmetry: any
# kind/repr mismatch between the two readers fails the query. The
# Spark side MUST be pandas (numpy-backed), not pyarrow to_pylist: both
# readers float64-ify nullable int64 and NaT-ify null timestamps, so
# those cancel — a to_pylist first cut false-flagged 7 driver-GREEN
# queries on exactly that class. diag_decimal38, the sanctioned carrier
# of the decimal class, was retired from the registry in round 17 after
# the driver adjudicated it red; under DUALREAD_INCLUDE_CANARY=1 this
# checker synthesizes it locally (see CANARY_SQL below) and the leg
# must FAIL it — that inverted run is the leg's self-test.
DUALREAD = os.environ.get("DUALREAD", "1") != "0"
DUALREAD_ALLOWED = (set() if os.environ.get("DUALREAD_INCLUDE_CANARY")
                    else {"diag_decimal38"})

def fragile_sites(sql):
    """Return round(...) occurrences directly followed by `+ 0.0`."""
    hits = []
    for m in FRAGILE.finditer(sql):
        k = m.start()
        if k > 0 and (sql[k-1].isalnum() or sql[k-1] in "_."):
            continue
        d, j = 0, m.end() - 1
        while j < len(sql):
            if sql[j] == "(":
                d += 1
            elif sql[j] == ")":
                d -= 1
                if d == 0:
                    break
            j += 1
        # digit boundary: only a bare `+ 0.0` is the fold-fragile idiom —
        # `+ 0.05` / `+ 0.01` are legitimate constants, not zero-sign fixes
        if j < len(sql) and _re.match(r"\s*\+\s*0\.0(?![0-9])", sql[j+1:]):
            hits.append(sql[k:j+1].replace("\n", " ")[:60])
    return hits

if "--selftest" in sys.argv:
    # prove the gate flags the fragile idiom: a deliberately fragile
    # oracle must fail the static scan
    bad = fragile_sites("SELECT round(x, 6) + 0.0 AS z FROM t")
    ok = fragile_sites(
        "SELECT CASE WHEN round(x, 6) = 0 THEN 0.0 ELSE round(x, 6) END AS z FROM t")
    const = fragile_sites("SELECT round(x, 6) + 0.05 AS z FROM t") + \
        fragile_sites("SELECT round(x, 6) + 0.01 AS z FROM t")
    assert bad and not ok and not const, (bad, ok, const)
    print("selftest ok: fragile `round(...) + 0.0` flagged; CASE form and "
          "`+ 0.05`-style constants clean")
    sys.exit(0)

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Stress knobs (mirror the driver's memory-pressured checker): cap the
# allocator / thread fan-out, e.g. DUCKDB_MEMORY_LIMIT=2GB DUCKDB_THREADS=4.
# The r12 gate lost vec_ivf_ann / vec_semantic_dedup to allocator OOMs that
# only reproduce under pressure — run heavy-oracle edits under a cap before
# calling them done.
def connect(disabled_optimizers=None):
    c = duckdb.connect()
    if disabled_optimizers:
        c.sql(f"SET disabled_optimizers='{disabled_optimizers}'")
    if os.environ.get("DUCKDB_MEMORY_LIMIT"):
        c.sql(f"SET memory_limit='{os.environ['DUCKDB_MEMORY_LIMIT']}'")
    if os.environ.get("DUCKDB_THREADS"):
        c.sql(f"SET threads={int(os.environ['DUCKDB_THREADS'])}")
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return c

con = connect()
# second connection for the optimizer-sensitivity leg: expression
# rewriter off by default (the pass that owns `x + 0.0 -> x`-class
# folds); OPTCHECK_DISABLED can widen it — the full r15 audit ran with
# every pass from duckdb_optimizers() disabled and found 0 divergent
# oracles (see SCALING.md)
NOOPT = os.environ.get("OPTCHECK_DISABLED", "expression_rewriter")
# the dual-leg connection (and its 10 table views) only exists when the
# leg is enabled — no idle native handle under OPTCHECK=0
con_noopt = connect(NOOPT) if OPTCHECK else None

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

# The DECIMAL(38,0) canary was retired from the registry in round 17
# (its driver verdict is banked — see SCALING.md), so under
# DUALREAD_INCLUDE_CANARY=1 this checker synthesizes it: the "Spark
# side" parquet is written here with the same DECIMAL(38,0) schema
# Spark would emit, the oracle SQL is injected, and the dual-reader leg
# MUST fail it (rows/schema/values identical, reader canonical forms
# diverge) — that inverted run remains the leg's self-test.
CANARY_SQL = ("SELECT CAST('42' AS DECIMAL(38,0)) AS d_small, "
              "CAST('9007199254740993' AS DECIMAL(38,0)) AS d_big")
if os.environ.get("DUALREAD_INCLUDE_CANARY") and \
        "diag_decimal38" not in oracle:
    os.makedirs(f"{outdir}/diag_decimal38", exist_ok=True)
    con.sql(f"COPY ({CANARY_SQL}) TO "
            f"'{outdir}/diag_decimal38/part-canary.parquet' "
            f"(FORMAT PARQUET)")
    oracle["diag_decimal38"] = CANARY_SQL

# ---------------------------------------------------------------------
# Optimizer-sensitivity leg (VERDICT r14 #4): the r13/r14 vec_covariance
# red shipped through an *optimizer-dependent* oracle idiom —
# `round(x) + 0.0` is an identity except on -0.0, so a DuckDB build whose
# expression rewriter folds `x + 0.0 -> x` resurrects the -0.0 the idiom
# was added to remove. Two defenses here:
#   (a) static scan: the fragile idiom itself is banned from oracle SQL
#       (fold-proof form: CASE WHEN round(x) = 0 THEN 0.0 ELSE round(x)
#       END). The diag_zero_sign canary is the one sanctioned carrier.
#   (b) dual execution: every oracle runs twice — optimizers on, then
#       with the expression rewriter disabled — and any bit-difference
#       between the two legs fails the query, catching whatever
#       optimizer-dependent idiom the static scan doesn't know about.
# Disable the (slower) dual leg with OPTCHECK=0. Self-test of the static
# scan: `python3 tools/check.py --selftest` (defined near the top).
# ---------------------------------------------------------------------

def canon_cell(v):
    """Kind-tagged canonical form of one cell, mirroring a TYPE-sensitive
    value hash: float64 7983103795443.0 and Decimal('7983103795443') are
    DIFFERENT here (kind 'float' vs 'decimal') even though == — exactly
    the asymmetry that made the driver red rows the local checker's
    DuckDB-through-both-sides compare could not see. Readers' incidental
    physical differences (datetime64 vs datetime.date, tz-aware vs naive
    UTC, float32 vs float64 widening) are normalized away — the primary
    leg already compares logical dtypes strictly."""
    import numpy as np
    if v is None:
        return ("null", "")
    if isinstance(v, (bool, np.bool_)):
        return ("bool", str(bool(v)))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return ("float", "NaN")
        if f == 0.0 and math.copysign(1.0, f) < 0:
            return ("float", "-0.0")
        return ("float", repr(f))
    if isinstance(v, (int, np.integer)):
        return ("int", str(int(v)))
    if isinstance(v, _decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    if isinstance(v, np.datetime64):
        if np.isnat(v):
            return ("ts", "NaT")
        return ("ts", str(np.datetime_as_string(v, unit="us")))
    if isinstance(v, _dt.datetime):
        try:
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return ("ts", v.isoformat(timespec="microseconds"))
        except (ValueError, OverflowError):
            return ("ts", repr(v))  # pd.NaT lands here via isoformat 'NaT'
    if isinstance(v, _dt.date):
        return ("ts", v.isoformat() + "T00:00:00.000000")
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("list", tuple(canon_cell(x) for x in v))
    if isinstance(v, dict):
        return ("struct", tuple((k, canon_cell(v[k])) for k in sorted(v)))
    if repr(v) == "NaT":
        return ("ts", "NaT")
    return (type(v).__name__, repr(v))


def dualread_diff(name, sql):
    """Oracle via duckdb .df() vs Spark output via pandas.read_parquet
    (numpy-backed, the pyarrow engine) — the driver's two ACTUAL
    readers. Both produce pandas frames, so their SHARED canonicalions
    (nullable int64 -> float64 + NaN, null timestamp -> NaT) cancel out
    — the first cut read the Spark side with pyarrow to_pylist and
    false-flagged 7 driver-GREEN queries on exactly that class. What
    does NOT cancel: DECIMAL(38,0), which .df() renders float64 while
    pandas keeps as decimal.Decimal objects — the class that was red at
    the driver for three rounds. Returns None if the canonical
    multisets match, else a human-readable first-diff string."""
    import pandas as pd
    odf = con.sql(sql).df()
    ocols = sorted(odf.columns)
    orows = sorted(tuple(canon_cell(rec[c]) for c in ocols)
                   for rec in odf.to_dict("records"))
    files = sorted(_glob.glob(f"{outdir}/{name}/*.parquet"))
    gdf = pd.concat([pd.read_parquet(f) for f in files],
                    ignore_index=True) if files else pd.DataFrame()
    gcols = sorted(gdf.columns) if len(gdf.columns) else ocols
    if gcols != ocols:
        return f"columns oracle(.df)={ocols} spark(pandas)={gcols}"
    grows = sorted(tuple(canon_cell(rec[c]) for c in gcols)
                   for rec in gdf.to_dict("records"))
    if len(orows) != len(grows):
        return f"rowcount oracle(.df)={len(orows)} spark(pandas)={len(grows)}"
    for i, (a, b) in enumerate(zip(orows, grows)):
        if a != b:
            cols_bad = [(c, x, y) for c, x, y in zip(ocols, a, b) if x != y]
            return (f"sorted row {i}: " + "; ".join(
                f"{c}: oracle(.df)={x} spark(pandas)={y}"
                for c, x, y in cols_bad[:3]))
    return None


def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        # the driver's hash is BIT-sensitive: -0.0 != +0.0 there (DuckDB
        # round() keeps the IEEE sign bit; Spark round / Java BigDecimal
        # normalize it away). Distinguish zero signs here too, or this
        # stand-in passes what the driver fails (the r13 vec_covariance
        # red row shipped through exactly this blind spot).
        if v == 0.0 and math.copysign(1.0, v) < 0: return "-0.0"
        return v
    return v

fails = []
for name, sql in sorted(oracle.items()):
    if only and name not in only: continue
    if name not in FRAGILE_ALLOWED:
        frag = fragile_sites(sql)
        if frag:
            print(f"FAIL {name}: fold-fragile `round(...) + 0.0` idiom "
                  f"(use the CASE zero-sign form): {frag}")
            fails.append(name); continue
    # one retry on exceptions: DuckDB under memory pressure throws
    # transient allocation OOMs on heavy oracles (observed on
    # vec_trunc_recall / vec_ivf_ann) that vanish on immediate re-run —
    # a retried pass distinguishes those from real failures. The retry
    # gets FRESH connections: the OOMs are allocator fragmentation
    # accumulated over the long-lived connection (the 184-query × 2-leg
    # sweep OOM'd vec_semantic_dedup/vec_standardize on BOTH attempts of
    # the shared connection, yet both pass instantly on a fresh one).
    for attempt in (0, 1):
        if attempt:
            # close the fragmented handles before reconnecting — a long
            # sweep otherwise leaks one native DuckDB allocator per retry
            con.close()
            if con_noopt is not None:
                con_noopt.close()
            con = connect()
            con_noopt = connect(NOOPT) if OPTCHECK else None
        try:
            exp = con.sql(sql)
            exp_cols = sorted(exp.columns)
            exp_rows = [tuple(norm(r[exp.columns.index(c)]) for c in exp_cols)
                        for r in exp.fetchall()]
            if OPTCHECK and name not in FRAGILE_ALLOWED:
                alt = con_noopt.sql(sql)
                alt_rows = [tuple(norm(r[alt.columns.index(c)]) for c in exp_cols)
                            for r in alt.fetchall()]
                if alt_rows != exp_rows:
                    diff = next((i, a, b) for i, (a, b)
                                in enumerate(zip(exp_rows, alt_rows)) if a != b) \
                        if len(alt_rows) == len(exp_rows) else \
                        ("rowcount", len(exp_rows), len(alt_rows))
                    raise AssertionError(
                        f"optimizer-dependent oracle: optimized vs "
                        f"rewriter-disabled legs differ at {diff}")
            got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
            got_cols = sorted(got.columns)
            got_rows = [tuple(norm(r[got.columns.index(c)]) for c in got_cols)
                        for r in got.fetchall()]
            err = None
            break
        except Exception as e:
            err = e
    if err is not None:
        print(f"FAIL {name}: exception {err}")
        fails.append(name); continue
    if exp_cols != got_cols:
        print(f"FAIL {name}: columns exp={exp_cols} got={got_cols}")
        fails.append(name); continue
    # driver's hash is TYPE-sensitive (DuckDB sum(BIGINT)->HUGEINT vs
    # Spark BIGINT fails even when values match) — compare dtypes too
    exp_types = [str(exp.types[exp.columns.index(c)]) for c in exp_cols]
    got_types = [str(got.types[got.columns.index(c)]) for c in got_cols]
    if exp_types != got_types:
        print(f"FAIL {name}: dtypes exp={list(zip(exp_cols, exp_types))} got={list(zip(got_cols, got_types))}")
        fails.append(name); continue
    if len(exp_rows) != len(got_rows):
        print(f"FAIL {name}: rowcount exp={len(exp_rows)} got={len(got_rows)}")
        fails.append(name); continue
    # compare as sorted multisets AND in-order; report first diff
    bad = None
    for i, (a, b) in enumerate(zip(exp_rows, got_rows)):
        if a != b:
            bad = (i, a, b); break
    if bad:
        srt_match = sorted(map(repr, exp_rows)) == sorted(map(repr, got_rows))
        print(f"FAIL {name}: first row diff at {bad[0]}\n  exp={bad[1]}\n  got={bad[2]}\n  (set-equal={srt_match})")
        fails.append(name); continue
    if DUALREAD and name not in DUALREAD_ALLOWED:
        try:
            dd = dualread_diff(name, sql)
        except Exception as e:
            dd = f"exception {e}"
        if dd is not None:
            print(f"FAIL {name}: dual-reader leg (duckdb .df() vs pandas) "
                  f"diverges — not hash-portable at the driver: {dd}")
            fails.append(name); continue
    print(f"ok   {name} ({len(exp_rows)} rows, cols={got_cols})")

print(f"\n{len(oracle) if not only else len(only)} checked, {len(fails)} failed: {fails}")
# close the native DuckDB handles before interpreter teardown, where a
# passing run with both still open once died of SIGABRT ("terminate
# called without an active exception") after printing its summary
con.close()
if con_noopt is not None:
    con_noopt.close()
sys.exit(1 if fails else 0)
