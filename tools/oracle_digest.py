"""Order-insensitive digest of DuckDB oracle outputs, without Spark.

Runs each named row's ``oracle_sql`` on DuckDB (``tools/parity.py``'s
connection: same views, memory cap and spill dir) and prints one line per
row: the row count and a sha256 of its canonical rows (``parity.canon_rows``
— the gate's own order-insensitive canonical form). Run it over two
checkouts to show that a rewritten oracle returns exactly the rows of the
one it replaces:

    python tools/oracle_digest.py [--repo DIR] <sf_dir> <query>...

``--repo`` picks the checkout whose ``vector_search_spark`` supplies the
oracles (default: this one).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from parity import canon_rows, duck_connect, fixture_gen  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    repo = os.path.dirname(HERE)
    if args[:1] == ["--repo"]:
        repo, args = args[1], args[2:]
    sys.path.insert(0, os.path.abspath(repo))
    from vector_search_spark.plans.queries import QUERIES

    sf_dir, names = args[0], args[1:]
    con = duck_connect(sf_dir)
    print(f"# fixture_gen={fixture_gen(sf_dir)} dir={sf_dir} repo={repo}")
    for name in names:
        t0 = time.perf_counter()
        try:
            res = con.execute(QUERIES[name].oracle)
            cols = [d[0] for d in res.description]
            _, rows = canon_rows(cols, res.fetchall())
            digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
            status = f"{len(rows)} rows sha256={digest}"
        except Exception as e:  # noqa: BLE001
            status = f"EXCEPTION: {str(e).splitlines()[0]}"
        print(f"{name}: {status} [{time.perf_counter() - t0:.1f}s]", flush=True)


if __name__ == "__main__":
    main()
