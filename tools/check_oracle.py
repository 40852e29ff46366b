"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/check_oracle.py [--driver-fetch] [sf_dir] [query_name ...]

With no sf_dir argument, BOTH sf0.01 and sf0.1 are checked in one run —
size-dependent bugs (plan changes at bigger inputs, fp drift in larger
aggregations) surface locally before the driver snapshot does.

--driver-fetch routes DuckDB results through a pandas fetch (fetchdf)
instead of fetchall(): untyped aggregates surface as their COERCED types
(e.g. a bare integer sum() is HUGEINT, which pandas renders float64 —
"6000.0" vs Spark BIGINT "6000"). That coercion is how mm_meta_rollup
stayed green locally while red at the driver for two rounds; run with
this flag before shipping any new oracle.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    args = list(sys.argv[1:])
    driver_fetch = "--driver-fetch" in args
    if driver_fetch:
        args.remove("--driver-fetch")
    sf_dirs = (
        [args[0]] if args
        else ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    )
    only = set(args[1:])

    import __spark_entry__ as entry_mod
    from harvesting_validator_spark.session import get_spark

    spark = get_spark(
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    failures = []
    for sf_dir in sf_dirs:
        print(f"== {sf_dir} ==")
        failures += check_sf(spark, entry_mod, sf_dir, only, driver_fetch)
        if not _session_alive(spark):
            break
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


class SessionDied(RuntimeError):
    pass


def _session_alive(spark) -> bool:
    """One py4j round-trip: False if the JVM context is stopped or the
    gateway no longer answers."""
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _collect(spark, sdf) -> list[tuple]:
    """``sdf.collect()`` that fails closed: a session that dies mid-collect
    can hand back a truncated row list without raising (seen: 4.9M of
    10.6M rows), which would pass for a hash mismatch."""
    rows = [tuple(r) for r in sdf.collect()]
    if not _session_alive(spark):
        raise SessionDied(
            f"spark session died during collect ({len(rows)} rows received)"
        )
    return rows


def check_sf(
    spark, entry_mod, sf_dir: str, only: set, driver_fetch: bool = False
) -> list[str]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = _collect(spark, sdf)
        except SessionDied as exc:
            # every later query would fail against the dead gateway
            print(f"FAIL  {name}: {exc}")
            failures.append(name)
            break
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = sorted(d[0] for d in res.description)
            if driver_fetch:
                pdf = res.fetchdf()
                drows = [tuple(r) for r in pdf.itertuples(index=False)]
            else:
                drows = res.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        ok_cols = scols == dcols
        ok_n = len(srows) == len(drows)
        h_s = normalize(srows, list(sdf.columns))
        h_d = normalize(drows, [d[0] for d in res.description])
        ok_h = h_s == h_d
        status = "OK  " if (ok_cols and ok_n and ok_h) else "FAIL"
        print(
            f"{status}  {name}: rows {len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} "
            f"hash={'=' if ok_h else f'{h_s} vs {h_d}'} "
            f"[{time.time() - t0:.1f}s]"
        )
        if status == "FAIL":
            failures.append(name)
    return [f"{f}@{sf_dir.rsplit('/', 1)[-1]}" for f in failures]


if __name__ == "__main__":
    sys.exit(main())
