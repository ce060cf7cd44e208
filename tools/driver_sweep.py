"""Pre-drive the driver's CORRECTNESS check locally.

Runs registered queries the way the per-round driver does — fresh
process, DuckDB oracle per query, columns sorted by name, rows compared
as sorted stringified tuples, exact values — so a mismatch shows up
BEFORE the round freezes instead of in CORRECTNESS_r{N}.json.

Run it from a NON-repo cwd (e.g. /tmp) so executor-pickle/cwd bugs
surface too (executors don't inherit the driver's sys.path; see
CLAUDE.md):

    cd /tmp && python /root/repo/tools/driver_sweep.py            # all queries
    cd /tmp && python /root/repo/tools/driver_sweep.py --window   # first 50 only

--window sweeps just the VERIFIED_FIRST slots (what the driver will
hash this round); the default sweeps the whole registry (rows-only
sketches are counted, not compared). Exits non-zero on any mismatch.
"""

import argparse
import sys

sys.path.insert(0, "/root/repo")

from datafusion_streams_spark.catalog import TABLES  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--window", action="store_true",
                    help="only the VERIFIED_FIRST 50-slot driver window")
    ap.add_argument("--cpus", default="8")
    ap.add_argument("--ansi", action="store_true",
                    help="run the Spark side with spark.sql.ansi.enabled=true: "
                    "arithmetic that silently wraps/nulls under the default "
                    "non-ANSI mode raises instead, so a green ANSI sweep "
                    "proves no query result depends on silent overflow at "
                    "this scale (the failure class the r9 {W} widening "
                    "removed). DuckDB always raises, so ANSI is the "
                    "symmetric failure mode.")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names: sweep just these "
                    "(iteration aid — a full or --window sweep still "
                    "closes the round)")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as contract
    from datafusion_streams_spark import get_session
    from datafusion_streams_spark.operators import VERIFIED_FIRST

    spark = get_session(app_name="driver-sweep", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if args.ansi:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    q, o = contract.queries(), contract.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    names = list(VERIFIED_FIRST) if args.window else list(q)
    if args.only:
        wanted = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in q]
        if unknown:
            print(f"unknown queries: {unknown}")
            return 2
        names = wanted
    bad, rows_only = [], []
    for i, name in enumerate(names, 1):
        if name not in o:
            rows_only.append(name)
            try:
                n = q[name](spark, args.sf_dir).count()
                print(f"{i:3d} {name}: ROWS_ONLY {n}", flush=True)
            except Exception as e:
                bad.append(name)
                print(f"{i:3d} {name}: EXC {e!r}"[:240], flush=True)
            continue
        try:
            a = q[name](spark, args.sf_dir).toPandas()
            b = con.execute(o[name]).fetchdf()
            a = a[sorted(a.columns)]
            b = b[sorted(b.columns)]
            cols_ok = list(a.columns) == list(b.columns)
            sa = sorted(map(str, a.itertuples(index=False, name=None)))
            sb = sorted(map(str, b.itertuples(index=False, name=None)))
            ok = cols_ok and sa == sb and len(a) == len(b)
        except Exception as e:
            bad.append(name)
            print(f"{i:3d} {name}: EXC {e!r}"[:240], flush=True)
            continue  # exactly one status line per query
        if not ok:
            bad.append(name)
        print(f"{i:3d} {name}: {'OK' if ok else 'MISMATCH'}", flush=True)

    print("ROWS_ONLY:", rows_only)
    print("BAD:", bad)
    if bad:
        return 1
    print(f"ALL {len(names)} QUERIES DRIVER-STYLE GREEN "
          f"({len(rows_only)} rows-only)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
