"""Round-10 CLI parity flags.

Reference: core/dbt/cli/params.py — `--log-format-file` (:315, file sink
encoding independent of console), `--log-file-max-bytes` (:339, roll
dbt.log past the cap), `--record-timing-info` (:190, timing profile
path), plural `--resource-types`/`--exclude-resource-types` spellings
with the `all`/`default` expansion values
(core/dbt/task/base.py:478 resource_types_from_args), and deps
`--source hub|git|local` (:606) selecting the --add-package entry form.
"""

import json
import os

import yaml

from dbt_spark.runner import Engine

FILES = {
    "dbt_project.yml": "name: fl\n",
    "models/m1.sql": "select 1 as id",
    "seeds/s1.csv": "id\n1\n",
}


def _eng(project_dir, spark, **kw):
    return Engine(project_dir(FILES), spark=spark, **kw), None


def test_log_format_file_text_and_rotation(project_dir, spark):
    pdir = project_dir(FILES)
    eng = Engine(pdir, spark=spark, log_format_file="text",
                 log_file_max_bytes=400)
    assert eng.invoke(["run"]).success
    logd = os.path.join(pdir, "target", "logs")
    line = open(os.path.join(logd, "dbt.log")).readline()
    assert not line.startswith("{")  # human text line, not JSON
    assert "[" in line and "]" in line
    eng.invoke(["run"])  # enough lines to cross the 400-byte cap
    assert os.path.exists(os.path.join(logd, "dbt.log.1"))


def test_record_timing_info_writes_profile(project_dir, spark):
    pdir = project_dir(FILES)
    eng = Engine(pdir, spark=spark)
    tpath = os.path.join(pdir, "timing.json")
    assert eng.invoke(
        ["run", "--record-timing-info", tpath]).success
    prof = json.load(open(tpath))
    assert [p["unique_id"] for p in prof] == ["model.fl.m1"]
    assert all("execution_time" in p and "status" in p for p in prof)


def test_resource_types_plural_and_all(project_dir, spark):
    pdir = project_dir(FILES)
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["build", "--resource-types", "model"])
    assert {x.unique_id for x in r.results if not
            x.unique_id.startswith("operation.")} == {"model.fl.m1"}
    r = eng.invoke(["ls", "--resource-types", "all",
                    "--exclude-resource-types", "seed"])
    ids = {x.unique_id for x in r.results}
    assert "model.fl.m1" in ids and "seed.fl.s1" not in ids
    r = eng.invoke(["ls", "--resource-types", "default"])
    assert {"model.fl.m1", "seed.fl.s1"} <= {x.unique_id for x in r.results}


def test_deps_source_selects_entry_form(project_dir, spark):
    pdir = project_dir(FILES)
    eng = Engine(pdir, spark=spark)
    eng.invoke(["deps", "--add-package",
                "file:///tmp/nonexistent-repo@main", "--source", "git"])
    doc = yaml.safe_load(open(os.path.join(pdir, "packages.yml")))
    assert doc["packages"][-1] == {
        "git": "file:///tmp/nonexistent-repo", "revision": "main"}
    eng.invoke(["deps", "--add-package", "sub/pkg", "--source", "local"])
    doc = yaml.safe_load(open(os.path.join(pdir, "packages.yml")))
    assert {"local": "sub/pkg"} in doc["packages"]


def test_log_rotation_failure_keeps_logging(tmp_path, monkeypatch):
    """A failed rotation (os.replace raising) must not leave the log
    handle closed: the event that triggered it, and every later one, is
    appended to the unrotated file."""
    from dbt_spark.events import EventBus

    log = tmp_path / "logs" / "dbt.log"
    bus = EventBus(log_path=str(log), max_bytes=300)

    def refuse(src, dst):
        raise PermissionError(f"cannot rename {src}")

    monkeypatch.setattr(os, "replace", refuse)
    for i in range(10):
        bus.fire("Note", msg=f"event {i}")
    lines = log.read_text().splitlines()
    assert len(lines) == 10 and "event 9" in lines[-1]
    assert not os.path.exists(str(log) + ".1")
