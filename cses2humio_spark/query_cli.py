"""Console search runner: run an HQL pipe query against the parquet
catalog from a shell — the operational "saved search" entry point that
turns the engine into the search tool the reference's users point at
Humio today.

    spark-graft-query '#event_type = error | timechart(span=1d)'
    spark-graft-query 'value > 90 | top(user_id)' --table events --format json
    spark-graft-query 'match(customer, field=o_custkey, key=c_custkey) \
                       | groupBy(c_mktsegment)' --table orders

Every catalog table is exposed to ``match(...)`` as a lookup, so
cross-table enrichment works from the shell. Output formats: an aligned
text table (default), JSON lines, or CSV.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="spark-graft-query",
        description="Run an HQL pipe query on the parquet catalog",
    )
    p.add_argument("query", help="HQL pipe query (see docs/HQL.md)")
    p.add_argument(
        "--table",
        default="events",
        help="Table the pipeline starts from (default: events)",
    )
    p.add_argument(
        "--sf-dir",
        default=None,
        help="Catalog directory (default: $SPARK_GRAFT_SF_DIR)",
    )
    p.add_argument(
        "--format",
        choices=("table", "json", "csv"),
        default="table",
        dest="fmt",
    )
    p.add_argument(
        "--limit",
        type=int,
        default=1000,
        help="Max rows printed (the query itself is not limited)",
    )
    p.add_argument("--master", default="local[*]")
    p.add_argument(
        "--explain",
        action="store_true",
        help="Print the compiled physical plan (explain formatted) "
        "instead of executing — shows pushed filters, join strategies "
        "and exchanges for the pipe",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    from cses2humio_spark.hql import HqlSyntaxError, hql
    from cses2humio_spark.session import session_conf
    from cses2humio_spark.sources.catalog import (
        DEFAULT_SF_DIR,
        TABLES,
        load_table,
    )

    sf_dir = args.sf_dir or DEFAULT_SF_DIR
    if args.table not in TABLES:
        print(
            f"unknown table {args.table!r}; expected one of {', '.join(TABLES)}",
            file=sys.stderr,
        )
        return 2
    spark = (
        SparkSession.builder.master(args.master)
        .appName("spark-graft-query")
        .config(map=session_conf(local=args.master.startswith("local")))
        .getOrCreate()
    )
    tables = {name: load_table(spark, sf_dir, name) for name in TABLES}
    try:
        out = hql(tables[args.table], args.query, tables=tables)
    except HqlSyntaxError as exc:
        print(f"query error: {exc}", file=sys.stderr)
        return 2
    if args.explain:
        from cses2humio_spark.plans.explain import formatted_plan

        print(formatted_plan(out))
        return 0
    rows = out.limit(args.limit).collect()
    cols = out.columns
    if args.fmt == "json":
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    elif args.fmt == "csv":
        import csv

        w = csv.writer(sys.stdout, lineterminator="\n")
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if r[c] is None else r[c] for c in cols])
    else:
        widths = [
            max(len(c), *(len(str(r[c])) for r in rows)) if rows else len(c)
            for c in cols
        ]
        print("  ".join(c.ljust(w) for c, w in zip(cols, widths)))
        for r in rows:
            print(
                "  ".join(
                    str("" if r[c] is None else r[c]).ljust(w)
                    for c, w in zip(cols, widths)
                )
            )
    print(f"({len(rows)} rows)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
