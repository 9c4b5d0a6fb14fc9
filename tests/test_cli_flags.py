"""One flag table for both entry points: ``python -m dbt_spark`` takes only
its own flags off the command line and hands the rest to ``Engine.invoke``,
which parses them with ``dbt_spark.runner.FLAGS`` (reference: the ``dbt``
binary and ``dbtRunner.invoke`` share one set of click params,
core/dbt/cli/main.py:41-99)."""

from __future__ import annotations

import json
import os
import sys

import pytest

from dbt_spark.runner import Engine


@pytest.fixture()
def cli(spark, monkeypatch, capsys):
    """Run ``python -m dbt_spark <argv>`` in-process on the shared session;
    return (exit code, stdout, stderr, the argument lists Engine.invoke
    received, the engines that received them)."""
    from dbt_spark import session
    from dbt_spark.__main__ import main

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    calls, engines = [], []
    real = Engine.invoke

    def spy(self, args, **kwargs):
        calls.append(list(args))
        engines.append(self)
        return real(self, args, **kwargs)

    monkeypatch.setattr(Engine, "invoke", spy)

    def run(*argv):
        calls.clear()
        engines.clear()
        monkeypatch.setattr(sys, "argv", ["dbt_spark", *argv])
        try:
            code = main()
        except SystemExit as e:
            code = e.code
        out, err = capsys.readouterr()
        return code, out, err, list(calls), list(engines)

    return run


def test_cli_hands_unparsed_flags_to_invoke_unchanged(cli, project_dir):
    root = project_dir({
        "dbt_project.yml": "name: clisplit\n",
        "models/m1.sql": "select 1 as x",
        "models/m2.sql": "select 2 as x",
    })
    code, out, _err, calls, _ = cli(
        "ls", "--project-dir", root, "-s", "m1", "--log-level", "none",
        "--output", "name", "-q", "--threads", "3")
    assert code == 0
    assert calls == [["ls", "-s", "m1", "--output", "name", "--threads", "3"]]
    assert out.split() == ["m1"]


def test_cli_reaches_engine_only_flags(cli, project_dir, spark, tmp_path):
    """Three flags the engine took and the CLI's own parser used to reject
    (argparse exit 2): clean's project-files opt-out, build's current
    saved-query export spelling, and source freshness's --output PATH."""
    import tempfile

    outside = tempfile.mkdtemp(prefix="dbt_spark_outside_")
    data = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(data)
    root = project_dir({
        "dbt_project.yml":
            f"name: clireach\nclean-targets: [target, '{outside}']\n",
        "models/m1.sql": "select 1 as x",
        "models/src.yml": (
            "sources:\n  - name: ext\n    tables:\n      - name: d\n"
            "        meta: {location: '" + data + "'}\n"
            "        freshness: {warn_after: {count: 9999, period: hour}}\n"),
    })
    code, _out, err, calls, _ = cli(
        "clean", "--project-dir", root, "--no-clean-project-files-only")
    assert code == 0, err
    assert calls == [["clean", "--no-clean-project-files-only"]]
    assert not os.path.exists(outside)

    code, _out, err, _calls, engines = cli(
        "build", "--project-dir", root, "--export-saved-queries")
    assert code == 0, err
    assert engines[0].flags.include_saved_query is True

    path = str(tmp_path / "artifacts" / "fresh.json")
    code, _out, err, calls, _ = cli(
        "source", "freshness", "--project-dir", root, "--output", path)
    assert code == 0, err
    assert calls == [["source", "freshness", "--output", path]]
    assert json.load(open(path))["results"]


def test_cli_bad_flags_exit_2_at_the_error_boundary(cli, project_dir):
    root = project_dir({
        "dbt_project.yml": "name: clibad\n",
        "models/m1.sql": "select 1 as x",
    })
    for argv in (["ls", "--output", "bogus"], ["run", "--ful-refresh"],
                 ["run", "--limit"]):
        code, _out, err, _calls, _ = cli(*argv, "--project-dir", root)
        assert code == 2, argv
        assert "Encountered an error" in err, (argv, err)
        assert "ValueError" in err, (argv, err)


def test_invoke_never_exits_on_a_bad_argument_list(project_dir, spark):
    eng = Engine(project_dir({"dbt_project.yml": "name: noexit\n"}),
                 spark=spark)
    with pytest.raises(ValueError, match="unknown flag '-h' for command 'run'"):
        eng.invoke(["run", "-h"])
    with pytest.raises(ValueError, match="--limit: expected one argument"):
        eng.invoke(["run", "--limit"])
    # exact spellings only: a prefix of --full-refresh is not --full-refresh
    with pytest.raises(ValueError, match="unknown flag '--full'"):
        eng.invoke(["run", "--full"])


def test_cli_help_lists_both_flag_tables(cli):
    from dbt_spark.__main__ import _cli_parser
    from dbt_spark.runner import FLAGS

    code, out, _err, calls, _ = cli("--help")
    assert code == 0 and calls == []
    spellings = [o for p in (_cli_parser(), FLAGS) for a in p._actions
                 for o in a.option_strings]
    assert "--no-clean-project-files-only" in spellings
    missing = [o for o in spellings if o not in out]
    assert not missing, missing


def test_per_invocation_flags_do_not_stick_to_the_engine(project_dir, spark,
                                                         tmp_path):
    """``--connection`` and ``--partial-parse-file-path`` belong to the
    invocation that passed them: the next ``debug`` on the same Engine
    runs all six checks again and parses into the default cache."""
    eng = Engine(project_dir({"dbt_project.yml": "name: flagscope\n",
                              "models/m1.sql": "select 1 as x"}),
                 spark=spark)
    default = os.path.join(eng.project.target_path, "partial_parse.pickle")
    alt = str(tmp_path / "alt_cache.pickle")
    counts = [len(eng.invoke(["debug"]).results)]
    counts.append(len(eng.invoke(["debug", "--connection",
                                  "--partial-parse-file-path", alt]).results))
    os.remove(default)
    counts.append(len(eng.invoke(["debug"]).results))
    assert counts == [6, 1, 6]
    assert os.path.exists(default) and not os.path.exists(alt)


def test_cli_file_log_env_vars(cli, project_dir, monkeypatch):
    """``DBT_LOG_LEVEL_FILE``, ``DBT_LOG_FORMAT_FILE`` and
    ``DBT_LOG_FILE_MAX_BYTES`` reach the file log through ``python -m
    dbt_spark``: each beats the project's ``flags:`` and loses to its
    command-line flag."""
    root = project_dir({
        "dbt_project.yml": ("name: clienv\nflags:\n  log_level_file: error\n"
                            "  log_format_file: json\n"
                            "  log_file_max_bytes: 99\n"),
        "models/m1.sql": "select 1 as x",
    })

    def file_log(*argv):
        code, _out, _err, _calls, engines = cli("ls", "--project-dir", root,
                                                *argv)
        assert code == 0
        ev = engines[0].events
        return (os.path.basename(ev.log_path), ev.file_level, ev.file_format,
                ev.max_bytes)

    assert file_log() == ("dbt.log.jsonl", "error", "json", 99)
    monkeypatch.setenv("DBT_LOG_LEVEL_FILE", "warn")
    monkeypatch.setenv("DBT_LOG_FORMAT_FILE", "text")
    monkeypatch.setenv("DBT_LOG_FILE_MAX_BYTES", "4096")
    assert file_log() == ("dbt.log", "warn", "text", 4096)
    assert file_log("--log-level-file", "info", "--log-format-file", "json",
                    "--log-file-max-bytes", "7") == (
        "dbt.log.jsonl", "info", "json", 7)
