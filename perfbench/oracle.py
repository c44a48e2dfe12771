"""Output checks for the query workloads.

A query's collected result is reduced to a digest of its canonical form,
as ``tests/test_oracle.py`` builds it (``canon_rows``: column names
sorted, every cell rendered engine-independently, rows sorted), so a
digest match is that test's exact, order-insensitive equality.  The
expected digest comes from the query's registered DuckDB oracle run over
the same fixture files.  Oracle runs can be expensive (the connected-
components oracles dominate), so digests are cached on disk under a key
that hashes the oracle SQL together with the bytes of every fixture file:
a changed oracle or a changed fixture can never reuse a stale digest.
"""

from __future__ import annotations

import hashlib
import json
import os


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result's canonical form.  Raises
    ``DriverHasherHazard`` on a cell type the exact comparison refuses."""
    from tests.test_oracle import canon_rows

    names, lines = canon_rows(cols, rows)
    h = hashlib.sha256()
    h.update("\x1f".join(names).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return f"{len(lines)}:{h.hexdigest()}"


def fixture_hash(paths: dict[str, str]) -> str:
    h = hashlib.sha256()
    for name in sorted(paths):
        h.update(name.encode() + b"\0")
        with open(paths[name], "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def oracle_digests(
    specs: dict, paths: dict[str, str], cache_path: str, threads: int
) -> dict[str, str]:
    """name → expected digest for every spec, computing (and caching) the
    ones whose (oracle SQL, fixture bytes) key has no cached digest."""
    fx = fixture_hash(paths)
    keys = {
        name: hashlib.sha256((spec.oracle + "\0" + fx).encode()).hexdigest()
        for name, spec in specs.items()
    }
    cache: dict[str, str] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    missing = [n for n in specs if keys[n] not in cache]
    if missing:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        for name, path in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name in missing:
            res = con.execute(specs[name].oracle)
            cols = [d[0] for d in res.description]
            cache[keys[name]] = digest(cols, res.fetchall())
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_path)
    return {name: cache[keys[name]] for name in specs}


def matches(cols: list[str], rows: list[tuple], expected: str) -> bool:
    """True iff the result's digest equals the oracle's.  A result the
    canonicalisation refuses counts as a mismatch."""
    from tests.test_oracle import DriverHasherHazard

    try:
        return digest(cols, rows) == expected
    except DriverHasherHazard:
        return False
