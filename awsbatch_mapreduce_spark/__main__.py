"""Command-line entry point: run any registered query by name.

The reference is driven by three hard-coded program entry points
(``dotnet awsbatch-mapreduce.dll`` / ``python3 main.py`` /
``pwsh Reduce.ps1``, SURVEY.md §3); this engine exposes its whole
registry behind one CLI instead:

    python -m awsbatch_mapreduce_spark list
    python -m awsbatch_mapreduce_spark run q1_pricing_summary [--limit 20]
    python -m awsbatch_mapreduce_spark run dedup_minhash_lsh --out /tmp/d.parquet
    python -m awsbatch_mapreduce_spark explain q3_shipping_priority
    python -m awsbatch_mapreduce_spark oracle q3_shipping_priority

``run`` without ``--out`` shows rows; with ``--out`` it writes parquet
(the scalable path — results never funnel through the driver).
"""

from __future__ import annotations

import argparse
import os
import sys

from awsbatch_mapreduce_spark.plans import QUERIES


def _default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _get_query(name: str):
    if name not in QUERIES:
        sys.stderr.write(
            f"unknown query {name!r}; `list` shows the {len(QUERIES)} "
            "registered names\n"
        )
        raise SystemExit(2)
    return QUERIES[name]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="awsbatch_mapreduce_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    run = sub.add_parser("run", help="execute a query")
    run.add_argument("name")
    run.add_argument("--sf-dir", default=_default_sf_dir())
    run.add_argument("--limit", type=int, default=20)
    run.add_argument("--out", help="write full result as parquet instead")

    for cmd, help_ in (
        ("explain", "print the formatted physical plan"),
        ("oracle", "print the DuckDB oracle SQL (if any)"),
    ):
        p = sub.add_parser(cmd, help=help_)
        p.add_argument("name")
        if cmd == "explain":
            p.add_argument("--sf-dir", default=_default_sf_dir())

    pipe = sub.add_parser(
        "pipeline", help="run the full reference-parity pipeline (frames -> PNGs -> video)"
    )
    pipe.add_argument("--sf-dir", default=_default_sf_dir())
    pipe.add_argument("--out", required=True)
    pipe.add_argument("--months", type=int, default=None)

    cur = sub.add_parser(
        "curate",
        help="run the composed curation build (dedup -> quality -> lang -> sharded export)",
    )
    cur.add_argument("--sf-dir", default=_default_sf_dir())
    cur.add_argument("--out", required=True)
    cur.add_argument("--shards", type=int, default=8)

    args = ap.parse_args(argv)

    if args.cmd == "curate":
        from awsbatch_mapreduce_spark.curate import run_curation_pipeline
        from awsbatch_mapreduce_spark.session import get_spark

        manifest = run_curation_pipeline(
            get_spark(app_name="amrs-curate"),
            args.sf_dir,
            args.out,
            n_shards=args.shards,
        )
        st = manifest["stages"]
        print(
            f"{st['input']} -> dedup {st['exact_dedup']} -> "
            f"quality {st['quality_gate']} -> lang {st['lang_filter']} "
            f"-> {manifest['export_dir']}"
        )
        return 0

    if args.cmd == "pipeline":
        from awsbatch_mapreduce_spark.pipeline import run_reference_pipeline
        from awsbatch_mapreduce_spark.session import get_spark

        manifest = run_reference_pipeline(
            get_spark(app_name="amrs-pipeline"),
            args.sf_dir,
            args.out,
            max_months=args.months,
        )
        print(
            f"{len(manifest['frames'])} frames "
            f"({manifest['months'][0]}..{manifest['months'][-1]}) -> "
            f"{manifest['video']}"
        )
        return 0

    if args.cmd == "list":
        for name in sorted(QUERIES):
            spec = QUERIES[name]
            doc = (spec.builder.__doc__ or "").strip().splitlines()
            print(f"{name}: {doc[0] if doc else ''}")
        return 0

    spec = _get_query(args.name)

    if args.cmd == "oracle":
        if spec.oracle is None:
            print("-- rows-only query: no SQL oracle")
        else:
            print(spec.oracle.strip())
        return 0

    from awsbatch_mapreduce_spark.session import get_spark

    spark = get_spark(app_name=f"amrs-{args.cmd}-{args.name}")
    df = spec.builder(spark, args.sf_dir)

    if args.cmd == "explain":
        df.explain("formatted")
        return 0

    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
