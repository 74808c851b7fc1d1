"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at a given sf dir, then compares row-count, schema shape, and
order-insensitive values (columns sorted by name, rows sorted by all
columns). Exact value equality is required — queries are expected to round
floats in-query, so any residual diff is a real defect.

DIGEST MODE (VERDICT r10 next #3): row mode collects every Spark row to
the driver, which caps verifiable output size (d_simhash_hamming_pairs
at 100x exceeded spark.driver.maxResultSize — a gate-SHAPE limit, not a
value defect). ``SPARK_GRAFT_PARITY_DIGEST`` lifts it by comparing an
order-insensitive digest computed IN-ENGINE on both sides (one scalar
row crosses the driver):

- per column (name-sorted), a canonical BIGINT in [0, 1e9+7): integers
  as-is (mod), floats quantized at 1e-6 (in-query rounding makes the
  ROUND(x*1e6) product engine-stable), strings via the portable
  polynomial hash (bit-identical in DuckDB — functions.text.poly_hash),
  dates as epoch days, timestamps as epoch micros, NULL as a sentinel;
- per row, a 31-ary fold of the column values (all arithmetic stays
  below 2^63 — no overflow on either engine);
- per result, (COUNT(*), SUM(h), SUM(h*h mod M)) — order-insensitive,
  second moment so single-row diffs can't cancel the sum.

Settings: ``SPARK_GRAFT_PARITY_DIGEST=all`` digests every oracle row
(the cross-check mode certified against row mode over the full registry
at sf0.01), ``=name1,name2`` digests only those rows (scaled sweeps name
the oversized outputs), unset = row mode with AUTOMATIC digest fallback
(VERDICT r11 #2): row mode first counts the oracle output in DuckDB and
flips to the digest compare when it exceeds
``SPARK_GRAFT_PARITY_AUTO_DIGEST_ROWS`` (default 5,000,000) — big-output
rows never again depend on someone remembering a knob. The count is one
extra DuckDB execution per row; gate-scale outputs make it negligible,
and rows big enough for it to matter are exactly the ones that must not
be collected anyway.

Usage:  python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

REPO = "/root/repo"
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def fixture_gen(sf_dir: str) -> str:
    """Stable id of the fixture GENERATION under ``sf_dir`` — a hash of
    every table file's (name, size, mtime_ns). Printed as a log header
    by :func:`main` so evidence manifests can mechanically detect when
    a cited PASS ran against a since-regenerated fixture (VERDICT r12
    missing #4) instead of by archaeology."""
    import hashlib
    import os

    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns};".encode())
        except FileNotFoundError:
            h.update(f"{t}:missing;".encode())
    return h.hexdigest()[:12]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # large-fixture sweeps (10x/100x) bound DuckDB's list-fold memory:
    # SET threads=2 + a spill dir (CLAUDE.md: list-typed operators pin
    # ~GBs per thread and spill does not relieve them)
    threads = os.environ.get("SPARK_GRAFT_DUCK_THREADS")
    if threads:
        con.execute(f"SET threads={int(threads)}")
    # memory cap + spill dir apply UNCONDITIONALLY (ADVICE r10): DuckDB's
    # default limit assumes 80% of RAM, which a co-resident multi-GB
    # Spark JVM invalidates — a sweep exporting only SPARK_GRAFT_DUCK_MEM
    # must still get the cap, independent of the threads knob
    tmp = os.path.join(REPO, ".scratch", "duck_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    # The gate compares order-insensitively (rows sorted / digest), so
    # DuckDB need not buffer operator outputs to preserve insertion
    # order — at 100x that buffering spilled a 100M-row join chain past
    # the free disk (a_graph_pagerank, round 12) while the actual hash
    # tables were small.
    con.execute("SET preserve_insertion_order=false")
    # default: 40% of physical memory, at most 40GB — a fixed 40GB outgrew
    # a 15 GB host, where DuckDB was OOM-killed instead of spilling
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    default = f"{min(phys_mb * 2 // 5, 40 * 1024)}MB"
    con.execute(
        "SET memory_limit='"
        + os.environ.get("SPARK_GRAFT_DUCK_MEM", default)
        + "'"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


# -- digest mode -----------------------------------------------------------
MOD = 1_000_000_007          # == functions.text.HASH_MOD
NULL_SENT = 987_654_321      # canonical NULL (< MOD)


def _spark_canon(field):
    """Canonical BIGINT in [0, MOD) for one output column (Spark side)."""
    from pyspark.sql import functions as F

    from vector_search_spark.functions.text import poly_hash

    c = F.col(field.name)
    t = field.dataType.typeName()
    if t in ("long", "integer", "short", "byte", "boolean"):
        v = F.pmod(c.cast("long"), F.lit(MOD))
    elif t in ("double", "float"):
        v = F.pmod(F.round(c.cast("double") * 1_000_000).cast("long"), F.lit(MOD))
    elif t == "string":
        v = poly_hash(c)
    elif t == "date":
        v = F.pmod(
            F.datediff(c, F.to_date(F.lit("1970-01-01"))).cast("long"),
            F.lit(MOD),
        )
    elif t in ("timestamp", "timestamp_ntz"):
        v = F.pmod(F.unix_micros(c.cast("timestamp")), F.lit(MOD))
    elif t == "decimal":
        if field.dataType.scale == 0:
            v = F.pmod(c.cast("long"), F.lit(MOD))
        else:
            v = F.pmod(
                F.round(c.cast("double") * 1_000_000).cast("long"), F.lit(MOD)
            )
    else:
        raise ValueError(f"digest: unsupported Spark type {t} ({field.name})")
    return F.when(c.isNull(), F.lit(NULL_SENT)).otherwise(v)


def _duck_canon(col: str, dtype: str) -> str:
    """Canonical BIGINT in [0, MOD) for one output column (DuckDB side) —
    must mirror :func:`_spark_canon` value-for-value."""
    q = f'"{col}"'
    t = dtype.upper()
    if t.startswith("DECIMAL"):
        scale = int(t.rstrip(")").split(",")[1]) if "," in t else 0
        v = (
            f"CAST({q} AS BIGINT)"
            if scale == 0
            else f"CAST(ROUND(CAST({q} AS DOUBLE) * 1000000) AS BIGINT)"
        )
    elif t in (
        "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT",
        "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT", "BOOLEAN",
    ):
        v = f"CAST({q} AS BIGINT)"
    elif t in ("DOUBLE", "FLOAT", "REAL"):
        v = f"CAST(ROUND(CAST({q} AS DOUBLE) * 1000000) AS BIGINT)"
    elif t == "VARCHAR":
        from vector_search_spark.plans.queries import _duck_poly

        v = _duck_poly(q, v="dg")
    elif t == "DATE":
        v = f"DATEDIFF('day', DATE '1970-01-01', {q})"
    elif t.startswith("TIMESTAMP"):
        v = f"epoch_us({q})"
    else:
        raise ValueError(f"digest: unsupported DuckDB type {t} ({col})")
    return (
        f"CASE WHEN {q} IS NULL THEN {NULL_SENT} "
        f"ELSE ((({v}) % {MOD}) + {MOD}) % {MOD} END"
    )


def compare_digest(name: str, spark_df, con) -> tuple[bool, str]:
    """Order-insensitive in-engine digest compare — one scalar row
    crosses each driver regardless of output size."""
    from pyspark.sql import functions as F

    from vector_search_spark.plans.queries import QUERIES

    bad = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    if bad:
        return False, f"array/map/struct output columns not gate-safe: {bad}"
    fields = sorted(spark_df.schema.fields, key=lambda f: f.name)
    s_cols = sorted(spark_df.columns)

    h = F.lit(0).cast("long")
    for f in fields:
        h = F.pmod(h * 31 + _spark_canon(f), F.lit(MOD))
    srow = spark_df.select(
        F.count(F.lit(1)).alias("c"),
        F.sum(h).alias("s1"),
        F.sum(F.pmod(h * h, F.lit(MOD))).alias("s2"),
    ).collect()[0]
    s_dig = (srow.c, int(srow.s1 or 0), int(srow.s2 or 0))

    oracle = QUERIES[name].oracle
    desc = con.execute(f"DESCRIBE SELECT * FROM ({oracle}) t0").fetchall()
    d_types = {r[0]: r[1] for r in desc}
    d_cols = sorted(d_types)
    if s_cols != d_cols:
        return False, f"columns: spark={s_cols} duck={d_cols}"
    hh = "CAST(0 AS BIGINT)"
    for cname in d_cols:
        hh = f"(({hh}) * 31 + ({_duck_canon(cname, d_types[cname])})) % {MOD}"
    drow = con.execute(
        f"SELECT COUNT(*) c, SUM(h) s1, SUM((h*h) % {MOD}) s2 "
        f"FROM (SELECT {hh} AS h FROM ({oracle}) t0) t1"
    ).fetchone()
    d_dig = (drow[0], int(drow[1] or 0), int(drow[2] or 0))
    if s_dig != d_dig:
        return False, f"digest: spark={s_dig} duck={d_dig}"
    return True, f"digest match ({s_dig[0]} rows, s1={s_dig[1]})"


def auto_digest_rows() -> int:
    import os

    return int(
        os.environ.get("SPARK_GRAFT_PARITY_AUTO_DIGEST_ROWS", "5000000")
    )


def compare(name: str, spark_df, con) -> tuple[bool, str]:
    import vector_search_spark  # noqa: F401  (path check)

    from vector_search_spark.plans.queries import QUERIES as _Q

    # AUTOMATIC digest fallback (VERDICT r11 #2): row mode collects every
    # Spark row to the driver, which caps verifiable output size (the
    # d_simhash_hamming_pairs class at 100x). Count the oracle output
    # first — one cheap DuckDB execution — and flip to the in-engine
    # digest compare when it exceeds the threshold, so oversized rows
    # never again depend on an env knob being remembered.
    cap = auto_digest_rows()
    n_oracle = con.execute(
        f"SELECT COUNT(*) FROM ({_Q[name].oracle}) t0"
    ).fetchone()[0]
    if n_oracle > cap:
        ok, status = compare_digest(name, spark_df, con)
        return ok, f"auto-digest ({n_oracle} oracle rows > {cap}): {status}"

    # The driver's canonicalizer sorts rows via pandas and dies on
    # array-typed cells (unhashable list). Reject them here so the local
    # replica can never pass what the driver would fail.
    bad = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    if bad:
        return False, f"array/map/struct output columns not gate-safe: {bad}"

    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    from vector_search_spark.plans.queries import QUERIES

    res = con.execute(QUERIES[name].oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    if len(s_rows) != len(d_rows):
        return False, f"row count: spark={len(s_rows)} duck={len(d_rows)}"
    sc, sr = canon_rows(s_cols, s_rows)
    dc, dr = canon_rows(d_cols, d_rows)
    if sc != dc:
        return False, f"columns: spark={sc} duck={dc}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a != b:
            return False, f"row {i} differs:\n  spark={a}\n  duck ={b}"
    return True, f"{len(s_rows)} rows"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from vector_search_spark.plans.queries import QUERIES
    from vector_search_spark.session import get_spark

    import os

    # default 8 matches the driver gate's resource profile; scaled-fixture
    # sweeps (tools/make_scaled_fixtures.py at 10x) set this to 32
    spark = get_spark(
        "parity", cpus=int(os.environ.get("SPARK_GRAFT_PARITY_CPUS", "8"))
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)
    # self-stamping evidence: every sweep log records which fixture
    # generation its PASS/FAIL lines ran against (parsed by
    # tools/make_100x_manifest.py)
    print(f"# fixture_gen={fixture_gen(sf_dir)} dir={sf_dir}")

    # scaled sweeps exclude rows whose PINNED knobs are quadratic at the
    # fixture (band-pinned graph family -> tools/adjudicate_graph_10x.py;
    # zipf hot-block quadratic rows at 100x) — names + reasons documented
    # in SCALING.md per sweep
    skip = {
        s for s in os.environ.get("SPARK_GRAFT_PARITY_SKIP", "").split(",") if s
    }
    # digest compare: "all" = every oracle row (cross-check mode), else a
    # comma list of rows whose output exceeds the driver-collect shape
    dg = os.environ.get("SPARK_GRAFT_PARITY_DIGEST", "")
    digest_mode = "all" if dg.strip() == "all" else ""
    digest_names = (
        set() if digest_mode else {s for s in dg.split(",") if s}
    )
    import time as _time

    failed = []
    ran = 0
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        if skip and name in skip:
            print(f"SKIP  {name} (SPARK_GRAFT_PARITY_SKIP)")
            continue
        ran += 1
        t0 = _time.perf_counter()
        if spec.oracle is None:
            n = spec.fn(spark, sf_dir).count()
            status = f"ROWS-ONLY ({n} rows)"
            ok = n >= 0
        else:
            use_digest = digest_mode == "all" or name in digest_names
            cmp = compare_digest if use_digest else compare
            try:
                ok, status = cmp(name, spec.fn(spark, sf_dir), con)
            except Exception as e:  # noqa: BLE001
                ok, status = False, f"EXCEPTION: {e}"
        el = _time.perf_counter() - t0
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {status} [{el:.1f}s]")
        if not ok:
            failed.append(name)
    print(f"\n{ran - len(failed)}/{ran} pass ({len(QUERIES)} registered)")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
