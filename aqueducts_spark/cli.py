"""Command-line runner: ``python -m aqueducts_spark.cli run -f p.yml -p k=v``.

Mirrors the reference CLI surface (aqueducts-cli/src/main.rs:120-144):
``run`` executes a pipeline file locally or — with ``--executor`` — on
a remote executor (templating happens client-side, like the reference's
remote_exec.rs:21-23); ``cancel`` aborts a queued/running remote
execution; ``serve`` starts the executor itself. Local cluster
deployment needs no dedicated mode: the entry point only asks for a
``SparkSession``, so ``spark-submit`` / Spark Connect work unchanged.
"""

from __future__ import annotations

import argparse
import sys


def _parse_params(pairs: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for pair in pairs:
        if "=" not in pair:
            raise SystemExit(f"--param must be key=value, got: {pair}")
        k, v = pair.split("=", 1)
        out[k] = v
    return out


def _parse_hostport(s: str) -> tuple[str, int]:
    host, _, port = s.rpartition(":")
    if not host or not port.isdigit():
        raise SystemExit(f"--executor must be host:port, got: {s}")
    return host, int(port)


def _cmd_run(args) -> int:
    params = _parse_params(args.param)
    if args.executor:
        from pathlib import Path

        from .executor.client import submit_pipeline

        host, port = _parse_hostport(args.executor)
        path = Path(args.file)
        # same validated inference as local runs — lowercases and raises
        # a clear client-side error for unknown suffixes instead of a
        # late opaque server failure
        from .config.loader import format_from_path

        fmt = format_from_path(path)
        if args.master != "local[*]" or args.show_result:
            # silently-meaningless flags confuse more than they help:
            # the server owns the session, and results only surface via
            # stage `show:` output streamed back
            print(
                "note: --master/--show-result are ignored with "
                "--executor (the server owns the session; add `show:` "
                "to stages for output)",
                file=sys.stderr,
            )

        as_json = getattr(args, "output_format", "text") == "json"

        def _progress(m):
            # compact progress line; chunk payloads are assembled and
            # printed once at the end — raw dict spam doubled large
            # show outputs and buried real progress
            if m.get("type") == "output_chunk":
                return
            if as_json:
                import json as _json

                print(_json.dumps(m, default=str, ensure_ascii=False))
                return
            kind = m.get("type", "?")
            detail = m.get("stage") or m.get("execution_id") or ""
            extra = m.get("position")
            line = f"[{kind}] {detail}" + (f" position={extra}" if extra is not None else "")
            if m.get("message"):
                line += f": {m['message']}"
            print(line, file=sys.stderr)

        api_key = _resolve_api_key(args)
        if not api_key:
            # reference CLI: "API key is required for remote execution"
            # (aqueducts-cli/src/main.rs:129-130)
            print(
                "error: --api-key (or AQUEDUCTS_API_KEY) is required for "
                "remote execution",
                file=sys.stderr,
            )
            return 1
        final = submit_pipeline(
            host,
            port,
            path.read_text(),
            params=params,
            fmt=fmt,
            on_message=_progress,
            api_key=api_key,
        )
        for stage, text in final.get("outputs", {}).items():
            print(f"--- {stage} ---\n{text}")
        if final.get("type") != "succeeded":
            # client-synthesized terminal errors (connection closed,
            # inactivity timeout) never pass through on_message — print
            # them or the CLI exits 1 with zero diagnostics
            print(
                f"error: {final.get('message', final.get('type'))}",
                file=sys.stderr,
            )
            return 1
        return 0

    from . import load_pipeline, run_pipeline
    from .progress import JsonLinesTracker, LoggingTracker
    from .session import get_spark

    import logging

    logging.basicConfig(level=logging.INFO, format="%(message)s")
    pipeline = load_pipeline(args.file, params)
    spark = get_spark("aqueducts-spark-cli", master=args.master)
    tracker = (
        JsonLinesTracker()
        if getattr(args, "output_format", "text") == "json"
        else LoggingTracker()
    )
    try:
        result = run_pipeline(spark, pipeline, tracker)
        if args.show_result and result.result is not None:
            result.result.show(50, truncate=False)
    finally:
        spark.stop()
    return 0


def _resolve_api_key(args) -> str:
    """--api-key flag, falling back to AQUEDUCTS_API_KEY (the reference
    executor/CLI env convention, aqueducts-executor/src/main.rs:23)."""
    import os

    return args.api_key or os.environ.get("AQUEDUCTS_API_KEY", "")


def _cmd_cancel(args) -> int:
    from .executor.client import cancel_execution

    host, port = _parse_hostport(args.executor)
    api_key = _resolve_api_key(args)
    if not api_key:
        print(
            "error: --api-key (or AQUEDUCTS_API_KEY) is required to cancel",
            file=sys.stderr,
        )
        return 1
    reply = cancel_execution(host, port, args.id, api_key=api_key)
    if reply.get("type") == "error":
        # e.g. a typo'd id — claiming success here left a running
        # pipeline alive while the user believed it was cancelled
        print(f"cancel failed: {reply.get('message')}", file=sys.stderr)
        return 1
    print(f"cancel requested for {args.id}")
    return 0


def _cmd_serve(args) -> int:
    from .executor.server import run_server
    from .session import get_spark

    api_key = _resolve_api_key(args)
    if not api_key.strip():
        # refuse to start (reference config.rs:29-31 EmptyApiKey): a
        # keyless executor is an open remote-code-execution endpoint
        print(
            "error: --api-key (or AQUEDUCTS_API_KEY) is required; the "
            "executor refuses to start without one",
            file=sys.stderr,
        )
        return 1
    spark = get_spark("aqueducts-spark-executor", master=args.master)
    try:
        run_server(spark, host=args.host, port=args.port, api_key=api_key)
    finally:
        spark.stop()
    return 0


def _cmd_health(args) -> int:
    from .executor.client import check_health

    host, port = _parse_hostport(args.executor)
    try:
        reply = check_health(host, port)
    except OSError as exc:
        print(f"unhealthy: {exc}", file=sys.stderr)
        return 1
    if reply.get("status") == "OK":
        print("OK")
        return 0
    print(f"unhealthy: {reply}", file=sys.stderr)
    return 1


def _cmd_explain(args) -> int:
    from . import load_pipeline
    from .pipeline import explain_pipeline
    from .session import get_spark

    pipeline = load_pipeline(args.file, _parse_params(args.param))
    spark = get_spark("aqueducts-explain", master=args.master)
    try:
        warned = False
        for report in explain_pipeline(spark, pipeline):
            print(f"=== stage: {report['stage']} ===")
            print(report["plan"])
            for w in report["warnings"]:
                warned = True
                print(f"WARN: {w}")
        return 1 if (warned and args.strict) else 0
    finally:
        spark.stop()


def _cmd_schema(args) -> int:
    """Emit the pipeline-document JSON schema (no Spark session): the
    counterpart of the reference's json_schema/aqueducts.schema.json,
    for yaml-language-server style editor validation."""
    import json as _json

    from .config.model import pipeline_json_schema

    text = _json.dumps(pipeline_json_schema(), indent=2, sort_keys=True)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    return 0


def _cmd_profile(args) -> int:
    from .operators.profile import profile_table
    from .session import get_spark

    spark = get_spark("aqueducts-profile", master=args.master)
    try:
        reader = getattr(spark.read, args.format)
        df = reader(args.location)
        cols = [c.strip() for c in args.columns.split(",")] if args.columns else None
        prof = profile_table(df, cols, exact_distinct=not args.approx)
        rows = prof.orderBy("column").collect()
        header = ("column", "dtype", "n_rows", "n_nulls", "n_distinct", "min", "max")
        widths = [max(len(str(h)), *(len(str(r[i])) for r in rows)) for i, h in enumerate(header)]
        print("  ".join(h.ljust(w) for h, w in zip(header, widths)))
        for r in rows:
            print("  ".join(str(v).ljust(w) for v, w in zip(r, widths)))
        return 0
    finally:
        spark.stop()


def _cmd_optimize(args) -> int:
    from .delta.table import delta_layer
    from .session import get_spark

    spark = get_spark("aqueducts-optimize", master=args.master)
    try:
        retention = getattr(args, "vacuum_retention_hours", None)
        if retention is not None and args.vacuum_keep is not None:
            # refusing beats silently ignoring one of two contradictory
            # retention requests
            print(
                "--vacuum-retention-hours and --vacuum-keep are mutually "
                "exclusive",
                file=sys.stderr,
            )
            return 1
        table = delta_layer(spark).table(args.location)
        version = table.compact(target_partitions=args.target_partitions)
        print(f"compacted {args.location} -> version {version}")
        if retention is not None:
            removed = table.vacuum(retention_hours=retention)
            print(f"vacuumed {len(removed)} data file(s)")
        elif args.vacuum_keep is not None:
            removed = table.vacuum(keep_versions=args.vacuum_keep)
            print(f"vacuumed {len(removed)} data file(s)")
        return 0
    finally:
        spark.stop()


def _cmd_history(args) -> int:
    """DESCRIBE HISTORY parity: one line per commit, oldest first.
    The log is read directly; with delta-spark installed the native
    connector serves the history (and with it, object-store
    locations)."""
    import datetime as _dt

    from .delta.table import delta_layer
    from .session import get_spark

    spark = get_spark("aqueducts-history", master=args.master)
    try:
        layer = delta_layer(spark)
        if layer.native:  # pragma: no cover - requires delta-spark
            from delta.tables import DeltaTable  # type: ignore

            rows = (
                DeltaTable.forPath(spark, args.location)
                .history()
                .select("version", "timestamp", "operation", "operationParameters")
                .collect()
            )
            entries = sorted(
                (
                    {
                        "version": r.version,
                        "timestamp": r.timestamp.timestamp() if r.timestamp else None,
                        "operation": r.operation,
                        "operationParameters": r.operationParameters,
                    }
                    for r in rows
                ),
                key=lambda e: e["version"],
            )
        else:
            entries = layer.table(args.location).history()
        if not entries:
            print(f"no commits at {args.location}")
            return 1
        for e in entries:
            ts = e.get("timestamp")
            when = (
                _dt.datetime.fromtimestamp(ts, _dt.timezone.utc).isoformat()
                if isinstance(ts, (int, float))
                else str(ts)
            )
            op = e.get("operation") or "?"
            params = e.get("operationParameters")
            extra = f" {params}" if params else ""
            print(f"v{e['version']:>4}  {when}  {op}{extra}")
        return 0
    finally:
        spark.stop()


def _cmd_delta_upgrade(args) -> int:
    from .delta.table import DeltaTableError
    from .delta.upgrade import upgrade
    from .session import get_spark

    spark = get_spark("aqueducts-delta-upgrade", master=args.master)
    try:
        first, last = upgrade(spark, args.location)
        print(f"upgraded {args.location}: Delta log versions {first}..{last}")
        if first:
            print(f"versions below {first} lost their data to a vacuum and stay unreadable")
        return 0
    except DeltaTableError as exc:
        print(f"delta-upgrade: {exc}", file=sys.stderr)
        return 1
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="aqueducts-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    run_p = sub.add_parser("run", help="execute a pipeline file (local or remote)")
    run_p.add_argument("--file", "-f", required=True, help="pipeline YAML/JSON/TOML")
    run_p.add_argument(
        "--param", "-p", action="append", default=[], help="template param key=value"
    )
    run_p.add_argument("--master", default=None, help="Spark master (default local[*])")
    run_p.add_argument(
        "--show-result", action="store_true", help="print the final stage result"
    )
    run_p.add_argument(
        "--executor",
        default=None,
        help="host:port of a running executor — submit remotely instead of running locally",
    )
    run_p.add_argument(
        "--api-key",
        default=None,
        help="API key for the remote executor (or set AQUEDUCTS_API_KEY)",
    )
    run_p.add_argument(
        "--output-format",
        choices=("text", "json"),
        default="text",
        help="progress event format: text (human log lines) or json "
        "(one structured JSON object per line on stdout — the "
        "reference executor's structured-progress shape, scriptable)",
    )

    cancel_p = sub.add_parser("cancel", help="cancel a remote execution")
    cancel_p.add_argument("--executor", required=True, help="host:port of the executor")
    cancel_p.add_argument("--id", required=True, help="execution id to cancel")
    cancel_p.add_argument(
        "--api-key",
        default=None,
        help="API key for the remote executor (or set AQUEDUCTS_API_KEY)",
    )

    serve_p = sub.add_parser("serve", help="start the remote executor")
    serve_p.add_argument("--host", default="127.0.0.1")
    serve_p.add_argument("--port", type=int, default=8765)
    serve_p.add_argument("--master", default=None, help="Spark master (default local[*])")
    serve_p.add_argument(
        "--api-key",
        default=None,
        help="REQUIRED (or set AQUEDUCTS_API_KEY): clients must present "
        "this key; the executor refuses to start without one",
    )

    health_p = sub.add_parser(
        "health", help="probe a running executor's public health endpoint (no key)"
    )
    health_p.add_argument("--executor", required=True, help="host:port of the executor")

    exp_p = sub.add_parser(
        "explain",
        help="pre-flight: print every stage's physical plan + scale lint, execute nothing",
    )
    exp_p.add_argument("--file", "-f", required=True, help="pipeline YAML/JSON/TOML")
    exp_p.add_argument(
        "--param", "-p", action="append", default=[], help="template param key=value"
    )
    exp_p.add_argument("--master", default=None, help="Spark master (default local[*])")
    exp_p.add_argument(
        "--strict", action="store_true", help="exit 1 if any lint warning fires"
    )

    prof_p = sub.add_parser(
        "profile", help="one-pass per-column data-quality profile of a table"
    )
    prof_p.add_argument("location", help="table path")
    prof_p.add_argument(
        "--format", default="parquet", choices=["parquet", "orc", "json", "csv"]
    )
    prof_p.add_argument("--columns", default=None, help="comma-separated subset")
    prof_p.add_argument(
        "--approx", action="store_true", help="HLL distinct counts (no EXPAND)"
    )
    prof_p.add_argument("--master", default=None, help="Spark master (default local[*])")

    schema_p = sub.add_parser(
        "schema",
        help="emit the pipeline-document JSON schema (editor autocomplete/validation)",
    )
    schema_p.add_argument(
        "--output", "-o", default=None, help="write to file instead of stdout"
    )

    hist_p = sub.add_parser(
        "history", help="print a delta table's commit history (DESCRIBE HISTORY)"
    )
    hist_p.add_argument("location", help="delta table path")
    hist_p.add_argument("--master", default=None, help="Spark master (default local[*])")

    opt_p = sub.add_parser(
        "optimize", help="compact a delta table (and optionally vacuum old versions)"
    )
    opt_p.add_argument("location", help="delta table path")
    opt_p.add_argument(
        "--target-partitions", type=int, default=None, help="coalesce to N files"
    )
    opt_p.add_argument(
        "--vacuum-keep",
        type=int,
        default=None,
        help="after compacting, delete files not referenced by the newest N versions",
    )
    opt_p.add_argument(
        "--vacuum-retention-hours",
        type=float,
        default=None,
        help="Delta VACUUM semantics: delete unreferenced files tombstoned "
        "longer than N hours ago",
    )
    opt_p.add_argument("--master", default=None, help="Spark master (default local[*])")

    up_p = sub.add_parser(
        "delta-upgrade",
        help="convert a table in the retired pre-Delta log format to a Delta log",
    )
    up_p.add_argument("location", help="table path")
    up_p.add_argument("--master", default=None, help="Spark master (default local[*])")

    args = parser.parse_args(argv)
    if args.command == "run":
        return _cmd_run(args)
    if args.command == "cancel":
        return _cmd_cancel(args)
    if args.command == "serve":
        return _cmd_serve(args)
    if args.command == "health":
        return _cmd_health(args)
    if args.command == "explain":
        return _cmd_explain(args)
    if args.command == "profile":
        return _cmd_profile(args)
    if args.command == "schema":
        return _cmd_schema(args)
    if args.command == "optimize":
        return _cmd_optimize(args)
    if args.command == "history":
        return _cmd_history(args)
    if args.command == "delta-upgrade":
        return _cmd_delta_upgrade(args)
    return 1


if __name__ == "__main__":
    sys.exit(main())
