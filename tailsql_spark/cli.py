"""CLI: ``python -m tailsql_spark.cli query -f FILE -r REGEX ... 'SQL'``.

Flag surface mirrors the reference (``/root/reference/cmd/query.go:
21-67``): ``-c/--config``, ``-f/--files-to-follow``, ``-r/--regexes``,
``-F/--filters``, ``-w/--winopt``, ``-t/--throttlers``, ``-o/--formatter``,
``-T/--do-not-tail``, ``-s/--sink``, plus ``--duration`` (ours: bounded
runs; the reference only stops on SIGINT, ``sql/squeryer.go:34-45``).

``-d/--db-engine`` is accepted and ignored (engine is Spark SQL).

Beyond the reference's surface, ``maintain`` runs a state family's
offline upkeep loop (``bm25_maintain`` / ``ivf_maintain`` /
``curation_maintain``) and prints the audit report as one JSON line —
the command an operator actually crons.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tailsql-spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    q = sub.add_parser("query", help="tail files and run SQL per window")
    q.add_argument("sql", help="SQL to run per window (tables t0..tN)")
    q.add_argument("-c", "--config", default="", help="YAML config file")
    q.add_argument("-f", "--files-to-follow", action="append", default=[], dest="files")
    q.add_argument("-r", "--regexes", action="append", default=[], dest="regexes")
    q.add_argument("-F", "--filters", action="append", default=[], dest="filters")
    q.add_argument("-w", "--winopt", default="10:5:-1")
    q.add_argument("-t", "--throttlers", action="append", default=[], dest="throttlers")
    q.add_argument("-o", "--formatter", default="raw", choices=["raw", "rawv", "table"])
    q.add_argument("-s", "--sink", default="stdout")
    q.add_argument("-T", "--do-not-tail", action="store_true")
    q.add_argument("-d", "--db-engine", default="spark", help="accepted for compat; always Spark SQL")
    q.add_argument("-l", "--log-level", default="warn")
    q.add_argument("--duration", type=float, default=None, help="run for N seconds then exit")
    q.add_argument(
        "--max-rows",
        type=int,
        default=None,
        help="cap rows fetched to the driver per emission (default: unlimited, "
        "reference parity); truncation is marked in the output",
    )
    m = sub.add_parser(
        "maintain",
        help="run a state family's OFFLINE maintenance loop (fold + "
        "physical takedown purge + vacuum + invariant check; the IVF "
        "kind adds drift gate -> quantizer re-train -> recall "
        "re-certification). Cron this; a healthy family is a "
        "metadata-read no-op. Offline means the family's stream is "
        "drained — a live fold holds the family lease and the run "
        "refuses loudly.",
    )
    m.add_argument(
        "kind",
        choices=["bm25", "ivf", "curation", "sketch"],
        help="bm25: postings family; ivf: cell family (re-trainable); "
        "curation: the whole unified-curation composition; sketch: an "
        "additive-partial sketch/counter log (fold + vacuum)",
    )
    m.add_argument(
        "--state-root",
        required=True,
        help="family root: the BM25 postings root, the IVF cells root, "
        "the curation composition's state root, or the sketch log root",
    )
    m.add_argument("--del-root", default=None, help="tombstone log root")
    m.add_argument(
        "--seeds", default=None, help="IVF: quantizer seed-table path"
    )
    m.add_argument(
        "--sf-dir",
        default=None,
        help="IVF: corpus dir supplying the recall re-certification queries",
    )
    m.add_argument(
        "--family",
        default=None,
        help="sketch: which merge algebra the log folds under "
        "(kmv | hh | cms | hist | cnt)",
    )
    m.add_argument(
        "--wait-ingest",
        type=float,
        default=0.0,
        metavar="SEC",
        help="curation: wait up to SEC seconds for the composition-root "
        "lease instead of refusing — the co-scheduled mode where a LIVE "
        "stream_unified_curation holds the root per batch and this pass "
        "folds strictly between committed batches (r16)",
    )
    m.add_argument("-l", "--log-level", default="warn")
    return p


def _run_maintain(args) -> int:
    """Dispatch one maintenance pass and print its audit report as ONE
    JSON line (cron-parseable).  Failures raise — a violated purge
    invariant or a failed recall floor must land in the operator's
    error stream, never in a success report."""
    import json

    from tailsql_spark.plans.streaming_exec import (
        PARTIAL_LOG_FAMILIES,
        bm25_maintain,
        curation_maintain,
        ivf_maintain,
        sketch_maintain,
    )
    from tailsql_spark.session import get_spark

    spark = get_spark(app_name="tailsql_spark_maintain")
    # honor -l/--log-level (session.py defaults to WARN; a cron'd
    # maintain run often wants ERROR-only or INFO-verbose output)
    spark.sparkContext.setLogLevel(args.log_level.upper())
    if args.kind == "bm25":
        report = bm25_maintain(spark, args.state_root, del_root=args.del_root)
    elif args.kind == "ivf":
        if not args.seeds or not args.sf_dir:
            print(
                "maintain ivf requires --seeds and --sf-dir "
                "(recall re-certification needs both)",
                file=sys.stderr,
            )
            return 2
        report = ivf_maintain(
            spark, args.sf_dir, args.state_root, args.seeds,
            del_root=args.del_root,
        )
    elif args.kind == "sketch":
        if args.family not in PARTIAL_LOG_FAMILIES:
            print(
                "maintain sketch requires --family, one of: "
                + " ".join(sorted(PARTIAL_LOG_FAMILIES)),
                file=sys.stderr,
            )
            return 2
        report = sketch_maintain(spark, args.state_root, args.family)
    else:
        report = curation_maintain(
            spark, args.state_root, wait_ingest_sec=args.wait_ingest
        )
    print(json.dumps({"kind": args.kind, **report}))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "maintain":
        return _run_maintain(args)
    from tailsql_spark import config as cfg_mod
    from tailsql_spark.session import get_spark
    from tailsql_spark.streaming.squeryer import SourceSpec, StreamQueryer, run_batch

    if args.config:
        cfg = cfg_mod.from_yaml(args.config, args.sql)
    else:
        cfg = cfg_mod.from_flags(
            sql=args.sql,
            files=args.files or ["/dev/stdin"],
            regexes=args.regexes,
            filters=args.filters,
            winopt=args.winopt,
            throttlers=args.throttlers,
            formatter=args.formatter,
            do_not_tail=args.do_not_tail,
        )

    spark = get_spark(app_name="tailsql_spark_cli")
    spark.sparkContext.setLogLevel(args.log_level.upper())
    sources = [
        SourceSpec(
            path=f.path,
            pattern=f.regex,
            filter_expr=f.filter,
            seek_to_end=not f.do_not_tail,
            max_rows_per_sec=(
                f.throttle.max_elements / f.throttle.period_seconds
                if f.throttle.max_elements > 0 and f.throttle.period_seconds > 0
                else 0.0
            ),
        )
        for f in cfg.files
    ]

    if all(f.do_not_tail for f in cfg.files):
        print(run_batch(spark, sources, cfg.sql, cfg.formatter, max_rows=args.max_rows))
        return 0

    sq = StreamQueryer(
        spark, sources, cfg.window, cfg.sql, cfg.formatter, max_rows=args.max_rows
    )
    try:
        sq.run(duration_sec=args.duration)
    except KeyboardInterrupt:
        sq.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
