"""CLI: python -m dbt_spark <command> [...].

The command surface mirrors core/dbt/cli/main.py registrations (SURVEY §2B
CLI inventory): run, build, test, seed, snapshot, compile, ls/list, show,
run-operation, docs generate|serve, source freshness, retry, clone, deps,
debug, init, parse, clean. The CLI parses only its own flags
(``_cli_parser``): what ``Engine(...)`` takes, console output, ``init -S``,
``debug --config-dir`` and ``--version``. Every other argument goes to
``Engine.invoke`` unchanged, which parses it with the one per-invocation
flag table, ``dbt_spark.runner.FLAGS``. ``--help`` lists both tables.
"""

from __future__ import annotations

import argparse
import os
import sys

import yaml


class _Help(argparse.Action):
    """-h/--help: print the CLI's flags and the per-invocation flag table
    in one listing, then exit."""

    def __init__(self, option_strings, dest, **kwargs):
        super().__init__(option_strings, dest, nargs=0, **kwargs)

    def __call__(self, parser, namespace, values, option_string=None):
        from dbt_spark.runner import FLAGS

        argparse.ArgumentParser(
            prog=parser.prog, add_help=False, parents=[parser, FLAGS],
        ).print_help()
        parser.exit()


def _cli_parser() -> argparse.ArgumentParser:
    """The flags only the CLI takes; read at call time, so the
    environment defaults are the current ones."""
    cli = argparse.ArgumentParser(prog="dbt_spark", add_help=False,
                                  allow_abbrev=False)
    cli.add_argument(
        "command",
        choices=["run", "build", "test", "seed", "snapshot", "compile", "ls",
                 "list", "show", "run-operation", "docs", "source", "retry",
                 "clone", "deps", "debug", "init", "parse", "clean"],
        help="docs generate|serve, source freshness and run-operation "
             "<macro> take a second word")
    cli.add_argument("-h", "--help", action=_Help,
                     help="show this message and exit")
    cli.add_argument("--version", action="version",
                     version="dbt_spark 1.10.0 (PySpark analytics engine; "
                             "reference-parity CLI)")
    cli.add_argument("--project-dir", default=".")
    cli.add_argument("--vars", default=None)
    cli.add_argument("--target", "-t", default=None)
    cli.add_argument("--profile", default=None,
                     help="profiles.yml entry to use (overrides the "
                          "project's profile: key; reference --profile)")
    cli.add_argument("--profiles-dir", default=None,
                     help="directory containing profiles.yml (reference "
                          "--profiles-dir / DBT_PROFILES_DIR)")
    cli.add_argument("--target-path", default=None,
                     help="artifact output dir (reference --target-path / "
                          "DBT_TARGET_PATH; default <project>/target)")
    cli.add_argument("--log-path", default=None,
                     help="log directory (reference --log-path / "
                          "DBT_LOG_PATH; default <target-path>/logs)")
    cli.add_argument("--log-level-file",
                     choices=["debug", "info", "warn", "error", None],
                     help="minimum level written to the JSONL log file "
                          "(reference --log-level-file; default debug=all)")
    cli.add_argument("--log-format-file",
                     choices=["text", "debug", "json", "default", None],
                     help="file log encoding, overrides --log-format for the "
                          "file sink (reference --log-format-file)")
    cli.add_argument("--log-file-max-bytes", type=int,
                     help="roll dbt.log past this size; 0 = unlimited "
                          "(reference --log-file-max-bytes)")
    cli.add_argument("--log-level",
                     default=os.environ.get("DBT_LOG_LEVEL", "none"),
                     choices=["debug", "info", "warn", "error", "none"],
                     help="stream structured events at/above this level to "
                          "stderr (reference --log-level; 'none' = summary "
                          "output only)")
    cli.add_argument("--log-format",
                     default=os.environ.get("DBT_LOG_FORMAT", "text"),
                     choices=["text", "json"],
                     help="console event encoding (reference --log-format)")
    cli.add_argument("--quiet", "-q", action="store_true",
                     help="suppress per-node result lines and the summary; "
                          "errors still print (reference --quiet)")
    cli.add_argument("--skip-profile-setup", "-S", action="store_true",
                     help="init: do not scaffold profiles.yml "
                          "(reference --skip-profile-setup)")
    cli.add_argument("--config-dir", action="store_true",
                     help="debug: print the profiles directory and exit "
                          "(reference --config-dir)")
    return cli


def main() -> int:
    args, rest = _cli_parser().parse_known_args()

    if args.command == "init":
        return _init(rest[0] if rest else "my_dbt_spark_project",
                     skip_profile=args.skip_profile_setup)

    if args.command == "debug" and args.config_dir:
        # reference task/debug.py: print the config location, no checks
        print(args.profiles_dir or os.environ.get("DBT_PROFILES_DIR")
              or os.path.expanduser("~/.dbt"))
        return 0

    from dbt_spark.runner import Engine

    command = "ls" if args.command == "list" else args.command
    engine = Engine(
        args.project_dir,
        vars=yaml.safe_load(args.vars) if args.vars else None,
        target=args.target,
        profile_name=args.profile,
        profiles_dir=args.profiles_dir,
        target_path=args.target_path,
        log_path=args.log_path,
        log_level_file=args.log_level_file,
        log_format_file=args.log_format_file,
        log_file_max_bytes=args.log_file_max_bytes,
    )
    if args.log_level != "none":
        # stream events live to stderr, like the reference's console logger
        # (core/dbt/events/logging.py): file JSONL always written regardless
        import json as _json

        rank = {"debug": 0, "info": 1, "warn": 2, "error": 3}
        floor = rank[args.log_level]

        def _sink(ev):
            if rank.get(ev.level, 1) < floor:
                return
            if args.log_format == "json":
                print(_json.dumps(ev.to_dict(), default=str), file=sys.stderr)
            else:
                ts = (ev.ts or "")[11:19]
                print(f"{ts}  [{ev.level:5s}] {ev.msg or ev.name}",
                      file=sys.stderr)

        engine.events.callbacks.append(_sink)
    try:
        result = engine.invoke([command, *rest])
    except Exception as e:  # noqa: BLE001 — CLI boundary: clean error, not a
        # traceback (reference prints "Encountered an error:" and exits 2)
        print(f"Encountered an error:\n  {type(e).__name__}: {e}",
              file=sys.stderr)
        return 2
    output = engine.flags.output
    if result.preview is not None:
        if command == "show" and output == "json":
            # reference `dbt show --output json` (cli/params.py:570,
            # task/show.py:95-96): machine-readable preview rows
            import json as _json

            print(_json.dumps({"show": result.preview}, default=str, indent=2))
            return 0 if result.success else 1
        for row in result.preview:
            print(row)
    if command == "ls" and output is not None:
        # reference `dbt ls --output ...` (task/list.py:27-212): the runner
        # already rendered each row via _ls_render into the result message
        for r in result.results:
            print(r.message if r.message else r.unique_id)
        return 0 if result.success else 1
    for r in result.results:
        if args.quiet and r.status not in ("error", "fail"):
            continue
        print(f"{r.status:8s} {r.unique_id:60s} {r.execution_time:6.2f}s "
              f"{r.message.splitlines()[0] if r.message else ''}")
    if not args.quiet:
        print(f"\n{'OK' if result.success else 'FAILED'}: "
              f"{len(result.results)} node(s)")
    return 0 if result.success else 1


STARTER = {
    "dbt_project.yml": """name: {name}
model-paths: ["models"]
seed-paths: ["seeds"]
models:
  {name}:
    example:
      +materialized: table
""",
    "models/example/my_first_model.sql": """-- start here: `python -m dbt_spark run`
select 1 as id, 'hello' as greeting
""",
    "models/example/my_second_model.sql": """select id, upper(greeting) as greeting
from {{{{ ref('my_first_model') }}}}
""",
    "models/example/schema.yml": """models:
  - name: my_first_model
    columns:
      - name: id
        data_tests: [not_null, unique]
  - name: my_second_model
    columns:
      - name: id
        data_tests:
          - relationships:
              to: ref('my_first_model')
              field: id
""",
}


def _init(name: str, skip_profile: bool = False) -> int:
    """Scaffold a starter project (core/dbt/task/init.py:52-297,
    core/dbt/include/starter_project). A default profiles.yml is written
    beside the project unless --skip-profile-setup/-S (reference -s)."""
    import os

    if os.path.exists(name):
        print(f"error: {name} already exists")
        return 1
    files = dict(STARTER)
    if not skip_profile:
        files["profiles.yml"] = (
            "{name}:\n"
            "  target: dev\n"
            "  outputs:\n"
            "    dev:\n"
            "      type: spark\n"
            "      warehouse: spark-warehouse\n"
            "      schema: main\n"
            "      threads: 4\n"
        )
    for rel, content in files.items():
        p = os.path.join(name, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content.format(name=os.path.basename(name)))
    print(f"created {name}/ — next: cd {name} && python -m dbt_spark build")
    return 0


if __name__ == "__main__":
    sys.exit(main())
