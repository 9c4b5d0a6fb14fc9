"""Orchestration: the `dbt run/build/test/seed/snapshot/compile/ls` lifecycle.

Mirrors SURVEY §3.1's pipeline: load project → parse → manifest → link DAG →
select → priority-topological queue drained by a thread pool (graph/queue.py +
task/runnable.py:408-453) → per-node materialization → run_results.json v5-ish
artifact. Worker threads each submit independent Spark actions; the session
runs the FAIR scheduler so concurrent model builds share executors.

``build`` adds test-blocking edges (compilation.py:208-435) and runs
seeds/models/snapshots/tests in one DAG, exactly like BuildTask
(core/dbt/task/build.py:54-139).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Optional

from pyspark.sql import SparkSession

from dbt_spark.catalog import RelationStore
from dbt_spark.events import WarnErrorOptions
from dbt_spark.operators import MATERIALIZATIONS
from dbt_spark.operators.materialize import ExecutionContext
from dbt_spark.operators.tests import run_test
from dbt_spark.plans.graph import GraphQueue, Linker, add_test_edges, select_nodes
from dbt_spark.plans.manifest import Manifest, ManifestNode, NodeType
from dbt_spark.project import Project, parse_project


class TestFailure(Exception):
    """A data test failed at error severity; blocks descendants in `build`
    without double-reporting (the test's own result row is already recorded)."""


@dataclass
class RunResult:
    unique_id: str
    status: str  # success|partial success|error|skipped|pass|warn|fail
    execution_time: float
    message: str = ""
    # microbatch models: {"successful": [batch_id...], "failed": [batch_id...]}
    # (reference records per-batch results for retry, task/run.py:578-592)
    batch_results: Optional[dict] = None
    # wall-clock bounds for the run_results timing array (reference
    # run_results.json v5 timing entries)
    started_at: Optional[str] = None
    completed_at: Optional[str] = None
    # captured at construction inside the executing worker (run_results v5
    # requires a thread_id per result)
    thread_id: str = field(
        default_factory=lambda: __import__("threading").current_thread().name
    )


@dataclass
class RunnerResult:
    success: bool
    results: list[RunResult] = field(default_factory=list)
    manifest: Optional[Manifest] = None
    preview: Optional[list[dict]] = None  # `show` rows

    def by_id(self, unique_id: str) -> Optional[RunResult]:
        return next((r for r in self.results if r.unique_id == unique_id), None)


RESOURCE_FOR_COMMAND = {
    "run": {NodeType.Model},
    "seed": {NodeType.Seed},
    "snapshot": {NodeType.Snapshot},
    "test": {NodeType.Test, NodeType.UnitTest},
    "build": {NodeType.Model, NodeType.Seed, NodeType.Snapshot, NodeType.Test,
              NodeType.UnitTest, NodeType.Exposure, NodeType.Metric,
              NodeType.SemanticModel, NodeType.SavedQuery},
    "compile": {NodeType.Model, NodeType.Test, NodeType.Analysis},
    "ls": set(NodeType),
}

#: ``ls --output`` formats (reference task/list.py:27-212)
LS_OUTPUTS = ("selector", "name", "path", "fqn", "json")


class _FlagParser(argparse.ArgumentParser):
    """argparse that reports a bad argument list as ValueError: an
    in-process caller gets an exception, never a usage print and
    SystemExit."""

    def error(self, message: str):
        raise ValueError(message)


def _yaml_arg(text: str) -> Any:
    import yaml

    return yaml.safe_load(text) or {}


#: Every per-invocation flag, declared once. ``Engine.invoke`` parses its
#: argument list with this table, and ``python -m dbt_spark`` passes it every
#: flag the CLI does not take itself (reference: the ``dbt`` binary and
#: ``dbtRunner.invoke`` share one set of click params, cli/main.py:41-99).
#: Spellings match exactly (no abbreviations) and there is no ``-h``.
FLAGS = _FlagParser(prog="dbt_spark", add_help=False, allow_abbrev=False)
_flag = FLAGS.add_argument
_flag("--select", "-s", "--models", "--model", "-m", action="extend",
      type=lambda s: s.split(" "), help="node selection (reference "
      "-m/--models are aliases)")
_flag("--exclude", action="extend", type=lambda s: s.split(" "))
_flag("--selector", help="a named selector from selectors.yml")
_flag("--indirect-selection", default="eager")
# both spellings accepted (cli/params.py:500-501)
_flag("--resource-type", "--resource-types", action="append")
_flag("--exclude-resource-type", "--exclude-resource-types", action="append")
_flag("--full-refresh", action="store_true")
_flag("--state", help="artifacts of a previous run, for state: selection")
_flag("--defer", action="store_true")
_flag("--defer-state", help="state dir for --defer resolution (overrides "
      "--state)")
_flag("--favor-state", action="store_true",
      help="with --defer, unselected upstreams prefer --state")
_flag("--empty", action="store_true")
_flag("--sample", help="trailing event-time window, e.g. '3 days'")
_flag("--event-time-start", type=datetime.fromisoformat)
_flag("--event-time-end", type=datetime.fromisoformat)
_flag("--threads", type=int)
_flag("--fail-fast", "-x", action="store_true")
_flag("--warn-error", action="store_true")
_flag("--warn-error-options", type=WarnErrorOptions.parse,
      help="YAML/JSON {error|warn|silence: [EventName,...]} (error/warn "
           "alias include/exclude); default $DBT_WARN_ERROR_OPTIONS")
_flag("--store-failures", action="store_true")
# --export-saved-queries is the current spelling on `build`
# (cli/main.py:175); --include-saved-query is its deprecated alias
# (p.deprecated_include_saved_query)
_flag("--include-saved-query", "--export-saved-queries", action="store_true")
_flag("--inline")
# raw SQL straight to the engine: no Jinja, no ref()/source() resolution
# (reference cli/params.py "--inline-direct", task/show.py ShowTaskDirect)
_flag("--inline-direct", help="show: raw SQL with no Jinja/ref resolution")
_flag("--limit", type=int, default=5)
_flag("--args", type=_yaml_arg, help="run-operation: YAML macro kwargs")
# no choices: `source freshness --output` is a PATH (reference
# cli/params.py "--output" on freshness), while ls takes a format
# (LS_OUTPUTS, checked in invoke) and show takes json
_flag("--output", help="ls: selector|name|path|fqn|json; show: json; "
      "source freshness: sources.json path")
_flag("--output-keys", action="extend",
      type=lambda s: s.replace(",", " ").split(),
      help="keys to keep in --output json entries")
# low-level per-node timing profile written to the given path
# (cli/params.py:190 "--record-timing-info")
_flag("--record-timing-info", help="write the per-node timing profile here")
_flag("--no-partial-parse", action="store_true")
_flag("--partial-parse-file-path",
      help="override the partial-parse cache location")
_flag("--no-write-json", dest="write_json", action="store_false")
# dbt clean may delete clean-paths outside the project only with the
# explicit --no-clean-project-files-only opt-out (reference cli/params.py
# "--clean-project-files-only", default True)
_flag("--clean-project-files-only", action=argparse.BooleanOptionalAction,
      default=True)
_flag("--add-package", help="deps: add 'org/name@versionspec' to "
      "packages.yml and install")
# deps --add-package source (cli/params.py:606)
_flag("--source", default="hub", choices=["hub", "git", "local"])
_flag("--upgrade", action="store_true",
      help="deps: ignore package-lock.yml and re-resolve")
_flag("--lock", action="store_true",
      help="deps: resolve + write package-lock.yml, no install")
_flag("--connection", action="store_true",
      help="debug: test the connection only, skip project/parse checks")
# docs generate: skip warehouse introspection entirely (reference
# cli/params.py "--empty-catalog")
_flag("--empty-catalog", action="store_true")
# reference --static inlines manifest/catalog into one self-contained
# index.html; our site is always built that way, so the flag is a no-op
_flag("--static", action="store_true")
_flag("--port", type=int, help="docs serve port (default 8080)")
# docs serve bind address (reference cli/params.py "--host")
_flag("--host", default="127.0.0.1")
del _flag


class Engine:
    """Programmatic API (the dbtRunner analog, core/dbt/cli/main.py:41-99)."""

    def __init__(
        self,
        project_dir: str,
        spark: Optional[SparkSession] = None,
        profile: Optional[dict] = None,
        vars: Optional[dict] = None,
        target: Optional[str] = None,
        profile_name: Optional[str] = None,
        profiles_dir: Optional[str] = None,
        target_path: Optional[str] = None,
        log_path: Optional[str] = None,
        log_level_file: Optional[str] = None,
        log_format_file: Optional[str] = None,
        log_file_max_bytes: Optional[int] = None,
    ) -> None:
        from dbt_spark.session import get_spark

        self.project = Project.load(
            project_dir, profile=profile, target=target,
            profile_name=profile_name, profiles_dir=profiles_dir,
            target_path=target_path,
        )
        self.spark = spark or get_spark(f"dbt_spark:{self.project.name}")
        self.store = RelationStore(self.spark, self.project.profile["warehouse"])
        self.vars = vars or {}
        # CLI/programmatic vars participate in parse-phase rendering too
        # (reference: --vars merge scope, core/dbt/context/providers.py:806-848)
        self.project.vars = {**self.project.vars, **self.vars}
        self.manifest: Optional[Manifest] = None
        from dbt_spark.events import EventBus

        # --log-path / DBT_LOG_PATH override the log directory
        # (reference cli/params.py "--log-path")
        log_dir = (
            log_path
            or os.environ.get("DBT_LOG_PATH")
            or os.path.join(self.project.target_path, "logs")
        )
        fmt = (log_format_file
               or os.environ.get("DBT_LOG_FORMAT_FILE")
               or (self.project.flags or {}).get("log_format_file")
               or "json")
        max_bytes = log_file_max_bytes
        if max_bytes is None:
            max_bytes = int(
                os.environ.get("DBT_LOG_FILE_MAX_BYTES")
                or (self.project.flags or {}).get("log_file_max_bytes")
                or 0)
        # text/debug format writes the classic dbt.log name; json keeps the
        # engine's .jsonl (reference writes both formats into logs/dbt.log)
        log_name = "dbt.log" if fmt in ("text", "debug") else "dbt.log.jsonl"
        self.events = EventBus(
            os.path.join(log_dir, log_name),
            file_level=(log_level_file
                        or os.environ.get("DBT_LOG_LEVEL_FILE")
                        or (self.project.flags or {}).get("log_level_file")
                        or "debug"),
            file_format=fmt,
            max_bytes=max_bytes,
        )

    # -- lifecycle ----------------------------------------------------------

    def parse(self, partial: bool = True) -> Manifest:
        from dbt_spark.plans import compile as _compile
        from dbt_spark.plans.partial import ParseCache, project_cache_token

        target_dir = self.project.target_path
        os.makedirs(target_dir, exist_ok=True)
        # --partial-parse-file-path overrides the cache location
        # (reference cli/params.py "--partial-parse-file-path")
        cache_path = getattr(self, "_partial_parse_path", None) or os.path.join(
            target_dir, "partial_parse.pickle")
        cache = None
        if partial:
            cache = ParseCache.load(cache_path, project_cache_token(self.project))
        # record env_var() reads for the cache's environment validity gate
        prev_tracker, _compile.ENV_VAR_TRACKER = _compile.ENV_VAR_TRACKER, {}
        try:
            self.manifest = parse_project(self.project, cache=cache)
            seen_env = _compile.ENV_VAR_TRACKER
        finally:
            _compile.ENV_VAR_TRACKER = prev_tracker
        if cache is not None:
            cache.save(cache_path, env_vars=seen_env)
        self._resolve_fk_constraint_refs()
        self._check_model_deprecations()
        self._check_microbatch_inputs()
        self._check_resource_names()
        self._check_semantic_deprecations()
        if getattr(self, "_write_json", True):
            # --no-write-json skips artifact writes (cli/params.py:759).
            # A bare Engine (bench parse harness) carries no event bus —
            # the invocation fields stay None (schema allows null).
            ev = getattr(self, "events", None)
            if ev is not None:
                self.manifest.invocation_id = ev.invocation_id
                self.manifest.invocation_started_at = (
                    ev.invocation_started_at)
            self.manifest.write(os.path.join(target_dir, "manifest.json"))
            # the reference writes semantic_manifest.json beside it when
            # the project carries semantic nodes (parser/manifest.py:2088)
            if any(n.resource_type in (NodeType.SemanticModel,
                                       NodeType.Metric, NodeType.SavedQuery)
                   for n in self.manifest.nodes.values()):
                self.manifest.write_semantic_manifest(
                    os.path.join(target_dir, "semantic_manifest.json"))
        return self.manifest

    def _check_resource_names(self) -> None:
        """Behavior flag require_resource_names_without_spaces (reference
        ProjectFlags + SpacesInResourceNameDeprecation event,
        core/dbt/parser/manifest.py check_forbidden_projects analog): a
        space in a resource name errors when the flag is true, otherwise
        fires the deprecation warning (promotable via --warn-error)."""
        flags = getattr(self.project, "flags", None) or {}
        strict = bool(flags.get("require_resource_names_without_spaces"))
        offenders = [
            n.unique_id for n in self.manifest.nodes.values() if " " in n.name
        ]
        if not offenders:
            return
        if strict:
            from dbt_spark.plans.compile import CompilationError

            raise CompilationError(
                "resource names cannot contain spaces "
                f"(require_resource_names_without_spaces): {offenders}")
        if getattr(self, "events", None) is not None:
            for uid in offenders:
                self.events.warn_or_error(
                    "SpacesInResourceNameDeprecation",
                    warn_error=getattr(self, "_warn_error", False),
                    options=getattr(self, "_warn_error_options", None),
                    unique_id=uid,
                )

    def _check_semantic_deprecations(self) -> None:
        """The two MetricFlow behavior flags (reference ProjectFlags +
        contracts/graph/semantic_manifest.py:70-113):

        - ``require_nested_cumulative_type_params``: cumulative metrics
          carrying top-level ``type_params.window`` / ``grain_to_date``
          (the pre-1.9 spelling) error when true, else fire the D019
          deprecation;
        - ``require_yaml_configuration_for_mf_time_spines``: a legacy
          ``metricflow_time_spine`` model serving as the spine (semantic
          models present, no day-grain YAML ``time_spine:`` declared)
          errors when true, else fires the D018 deprecation."""
        flags = getattr(self.project, "flags", None) or {}
        old_params = []
        sm_present = False
        yaml_day_spine = False
        legacy_spine = False
        for n in self.manifest.nodes.values():
            if n.resource_type == NodeType.SemanticModel:
                sm_present = True
            elif n.resource_type == NodeType.Metric:
                m = n.config.meta
                tp = m.get("type_params") or {}
                if m.get("type") == "cumulative" and (
                        tp.get("window") or tp.get("grain_to_date")):
                    old_params.append(m.get("name") or n.name)
            elif n.resource_type == NodeType.Model:
                ts = n.config.meta.get("time_spine")
                if ts:
                    std = ts.get("standard_granularity_column")
                    gran = (n.columns.get(std) or {}).get("granularity")
                    if (gran or "day") == "day":
                        yaml_day_spine = True
                elif n.name == "metricflow_time_spine":
                    legacy_spine = True
        from dbt_spark.plans.compile import CompilationError

        if old_params:
            if flags.get("require_nested_cumulative_type_params"):
                raise CompilationError(
                    "cumulative fields type_params.window/grain_to_date "
                    "must be nested under type_params.cumulative_type_params"
                    f" (require_nested_cumulative_type_params): "
                    f"{sorted(old_params)}")
            if getattr(self, "events", None) is not None:
                self.events.warn_or_error(
                    "MFCumulativeTypeParamsDeprecation",
                    warn_error=getattr(self, "_warn_error", False),
                    options=getattr(self, "_warn_error_options", None),
                    metrics=sorted(old_params),
                )
        # require_batched_execution_for_custom_microbatch_strategy
        # (reference parser/manifest.py:660-675
        # check_for_microbatch_deprecations + manifest.py:1760
        # _microbatch_macro_is_core): a user-defined
        # `get_incremental_microbatch_sql` macro alongside microbatch
        # models fires D020 while the flag is off — this engine always
        # runs the batched executor, so the flag only governs the
        # deprecation, never the execution path. manifest.macros holds
        # only user/package macros (builtins are native code), so mere
        # presence means non-core locality.
        if not flags.get(
                "require_batched_execution_for_custom_microbatch_strategy"):
            has_microbatch = any(
                n.resource_type == NodeType.Model
                and n.config.materialized == "incremental"
                and n.config.incremental_strategy == "microbatch"
                for n in self.manifest.nodes.values())
            if (has_microbatch
                    and "get_incremental_microbatch_sql" in self.manifest.macros
                    and getattr(self, "events", None) is not None):
                self.events.warn_or_error(
                    "MicrobatchMacroOutsideOfBatchesDeprecation",
                    warn_error=getattr(self, "_warn_error", False),
                    options=getattr(self, "_warn_error_options", None),
                )
        if legacy_spine and sm_present and not yaml_day_spine:
            if flags.get("require_yaml_configuration_for_mf_time_spines"):
                raise CompilationError(
                    "the metricflow_time_spine model needs a YAML "
                    "time_spine: configuration "
                    "(require_yaml_configuration_for_mf_time_spines)")
            if getattr(self, "events", None) is not None:
                self.events.warn_or_error(
                    "MFTimespineWithoutYamlConfigurationDeprecation",
                    warn_error=getattr(self, "_warn_error", False),
                    options=getattr(self, "_warn_error_options", None),
                )

    def _check_microbatch_inputs(self) -> None:
        """Parse-time microbatch input validation (reference
        check_microbatch_model_has_a_filtered_input +
        check_forcing_batch_concurrency,
        core/dbt/parser/manifest.py:1478-1520):

        - a microbatch model none of whose inputs carries an event_time
          config gets NO upstream filtering — warn I074 (always fired,
          Fixes-20241209-113806);
        - a non-bool event_time on an input is a parse error;
        - concurrent_batches: true on a model that cannot run batches
          concurrently here (reads ``{{ this }}`` or is unpartitioned —
          operators/microbatch.py's should_run_in_parallel analog) warns
          I075 once with the model count."""
        if getattr(self, "events", None) is None:
            return
        weo = getattr(self, "_warn_error_options", None)
        we = getattr(self, "_warn_error", False)
        forcing = 0
        for node in self.manifest.nodes.values():
            if (node.resource_type != NodeType.Model
                    or node.get_materialization() != "incremental"
                    or (node.config.incremental_strategy or "append")
                    != "microbatch"):
                continue
            has_filtered_input = False
            for dep_uid in node.depends_on:
                dep = (self.manifest.nodes.get(dep_uid)
                       or self.manifest.sources.get(dep_uid))
                if dep is None:
                    continue
                et = dep.config.event_time or (
                    dep.loaded_at_field
                    if dep.resource_type == NodeType.Source else None)
                if et is not None and not isinstance(et, str):
                    from dbt_spark.plans.compile import CompilationError

                    raise CompilationError(
                        f"Microbatch model '{node.name}' depends on input "
                        f"'{dep.name}' with an 'event_time' config of "
                        f"invalid (non-string) type: {type(et)}")
                if et:
                    has_filtered_input = True
            if not has_filtered_input:
                self.events.warn_or_error(
                    "MicrobatchModelNoEventTimeInputs", warn_error=we,
                    options=weo, model_name=node.name)
            cb = node.config.meta.get("concurrent_batches")
            raw = node.raw_code or ""
            cannot_parallel = (
                not node.config.partition_by
                or "{{ this }}" in raw
                or "{{this}}" in raw.replace(" ", "")
            )
            if cb is True and cannot_parallel:
                forcing += 1
        if forcing:
            self.events.warn_or_error(
                "InvalidConcurrentBatchesConfig", warn_error=we,
                options=weo, num_models=forcing)

    def _check_model_deprecations(self) -> None:
        """Model deprecation warnings at parse time (reference
        check_for_model_deprecations, core/dbt/parser/manifest.py:588-594):
        a model past its deprecation_date fires DeprecatedModel I065; every
        model child of a deprecated model fires DeprecatedReference I067
        (past) or UpcomingReferenceDeprecation I066 (upcoming). All route
        through warn_or_error so --warn-error / --warn-error-options can
        promote or silence them by name."""
        weo = getattr(self, "_warn_error_options", None)
        we = getattr(self, "_warn_error", False)
        if getattr(self, "events", None) is None:
            return  # bare Engine (bench parse harness): no bus to warn on
        for node in self.manifest.nodes.values():
            if node.resource_type != NodeType.Model or not node.deprecation_date:
                continue
            past = node.is_past_deprecation_date
            if past:
                self.events.warn_or_error(
                    "DeprecatedModel", warn_error=we, options=weo,
                    model_name=node.name,
                    model_version=node.version,
                    deprecation_date=node.deprecation_date.isoformat(),
                )
            for child in self.manifest.nodes.values():
                if (child.resource_type != NodeType.Model
                        or node.unique_id not in child.depends_on):
                    continue
                self.events.warn_or_error(
                    "DeprecatedReference" if past
                    else "UpcomingReferenceDeprecation",
                    warn_error=we, options=weo,
                    model_name=child.name,
                    ref_model_package=node.package_name,
                    ref_model_name=node.name,
                    ref_model_version=node.version,
                    ref_model_latest_version=node.latest_version,
                    ref_model_deprecation_date=node.deprecation_date.isoformat(),
                )

    def drop_views(self) -> None:
        """Drop the temp views this engine's invocations left: its store's
        relations and its sources' ``src__*`` scans
        (``RelationStore.drop_views``)."""
        sources = self.manifest.sources.values() if self.manifest else ()
        self.store.drop_views(
            f"src__{s.source_name}__{s.name}" for s in sources)

    def _resolve_fk_constraint_refs(self) -> None:
        """Compile ``to: ref('model')`` in foreign-key constraints to the
        target's relation name (reference compilation.py:631-654
        _compile_constraint_refs); FK stays metadata-only like most adapters,
        but the artifact carries resolved names for downstream tooling."""
        import re as _re

        from dbt_spark.plans.compile import CompilationError

        for node in self.manifest.nodes.values():
            for spec in (node.columns or {}).values():
                for c in spec.get("constraints", []) or []:
                    if not (isinstance(c, dict) and c.get("to")):
                        continue
                    raw = str(c["to"])
                    m = _re.fullmatch(
                        r"\s*ref\(\s*['\"]([^'\"]+)['\"]\s*\)\s*", raw)
                    if m:
                        # resolves against models, seeds AND snapshots, like
                        # the reference's find_node_from_ref_or_source
                        # (compilation.py:641-654)
                        target = self.manifest.ref_lookup(m.group(1))
                        if target is None:
                            raise CompilationError(
                                f"{node.unique_id}: foreign-key constraint "
                                f"references unknown node {m.group(1)!r}")
                        c["to"] = (
                            f"{target.config.schema or 'main'}.{target.name}")
                        continue
                    ms = _re.fullmatch(
                        r"\s*source\(\s*['\"]([^'\"]+)['\"]\s*,"
                        r"\s*['\"]([^'\"]+)['\"]\s*\)\s*", raw)
                    if ms:
                        src = self.manifest.source_lookup(
                            ms.group(1), ms.group(2))
                        if src is None:
                            raise CompilationError(
                                f"{node.unique_id}: foreign-key constraint "
                                f"references unknown source "
                                f"{ms.group(1)!r}.{ms.group(2)!r}")
                        c["to"] = (
                            f"{src.config.schema or 'main'}."
                            f"{src.identifier or src.name}")

    def invoke(
        self,
        args: list[str],
        full_refresh: bool = False,
        snapshot_ts: Optional[str] = None,
        now: Optional[datetime] = None,
        retry_batches: Optional[dict] = None,
    ) -> RunnerResult:
        command, *rest = args
        if command == "docs" and rest and rest[0] == "generate":
            command, rest = "docs-generate", rest[1:]
        if command == "docs" and rest and rest[0] == "serve":
            command, rest = "docs-serve", rest[1:]
        if command == "source" and rest and rest[0] == "freshness":
            command, rest = "source-freshness", rest[1:]
        flags, extras = FLAGS.parse_known_args(rest)
        positional = []
        for arg in extras:
            if arg.startswith("-"):
                # an unrecognized flag must FAIL, not silently no-op — a
                # dropped flag (e.g. a typo of --full-refresh) changing run
                # semantics is far worse than an error
                raise ValueError(
                    f"unknown flag {arg!r} for command {command!r}")
            positional.append(arg)
        if command == "ls" and flags.output not in (None, *LS_OUTPUTS):
            raise ValueError(f"ls --output must be one of {LS_OUTPUTS}, "
                             f"not {flags.output!r}")
        full_refresh = full_refresh or flags.full_refresh
        if flags.partial_parse_file_path:
            self._partial_parse_path = flags.partial_parse_file_path
        if flags.connection:
            self._debug_connection_only = True
        #: this invocation's parsed flags (the CLI reads --output here)
        self.flags = flags

        if command == "clean":
            # remove the clean-targets dirs (reference: CleanTask,
            # core/dbt/task/clean.py:13-55 — defaults target/ +
            # dbt_packages/); protections mirrored: source paths are never
            # cleaned, and paths outside the project require the explicit
            # --no-clean-project-files-only opt-out
            import shutil
            from pathlib import Path as _P

            root = _P(self.project.root).resolve()
            targets = {(_P(self.project.root) / d).resolve()
                       for d in self.project.clean_targets}
            # all_source_paths in the reference = model + seed + snapshot +
            # analysis + macro (config/project.py:645); docs_paths defaults
            # to all_source_paths (project.py:412) so cover any explicit ones
            protected_dirs = (
                list(self.project.model_paths)
                + list(self.project.seed_paths)
                + list(self.project.snapshot_paths)
                + list(self.project.analysis_paths)
                + list(self.project.macro_paths)
                + list(self.project.test_paths)
                + list(getattr(self.project, "docs_paths", None) or [])
            )
            source_paths = {(_P(self.project.root) / d).resolve()
                            for d in protected_dirs}
            hit = targets & source_paths
            if hit:
                raise RuntimeError(
                    "dbt will not clean the following source paths: "
                    f"{sorted(str(p) for p in hit)}")
            outside = {p for p in targets if root not in p.parents}
            if outside and flags.clean_project_files_only:
                raise RuntimeError(
                    "dbt will not clean the following directories outside "
                    f"the project: {sorted(str(p) for p in outside)} "
                    "(pass --no-clean-project-files-only to allow)")
            for full in targets:
                if full.is_dir():
                    shutil.rmtree(full)
            return RunnerResult(success=True, results=[])
        if command == "retry":
            # --threads must reach the replayed command (reference fix
            # Fixes-20240822-122132: retry ignored --threads)
            return self._retry(full_refresh=full_refresh,
                               snapshot_ts=snapshot_ts, now=now,
                               threads_override=flags.threads)
        if command == "deps":
            return self._deps(add_package=flags.add_package,
                              source=flags.source, upgrade=flags.upgrade,
                              lock_only=flags.lock)
        if command == "debug":
            return self._debug()

        # an absent --warn-error-options falls back to its envvar
        # DBT_WARN_ERROR_OPTIONS (reference cli/params.py), then to the
        # dbt_project.yml `flags:` defaults the CLI can override (reference
        # ProjectFlags, core/dbt/contracts/project.py:318)
        env_weo = os.environ.get("DBT_WARN_ERROR_OPTIONS")
        if flags.warn_error_options is None and env_weo:
            flags.warn_error_options = WarnErrorOptions.parse(env_weo)
        pf = getattr(self.project, "flags", None) or {}
        if pf:
            flags.fail_fast = flags.fail_fast or bool(pf.get("fail_fast"))
            flags.warn_error = flags.warn_error or bool(pf.get("warn_error"))
            if (flags.warn_error_options is None
                    and pf.get("warn_error_options")):
                flags.warn_error_options = WarnErrorOptions.parse(
                    pf["warn_error_options"])
            if (flags.indirect_selection == "eager"
                    and pf.get("indirect_selection")):
                flags.indirect_selection = str(
                    pf["indirect_selection"]).lower()
            if pf.get("partial_parse") is False:
                flags.no_partial_parse = True
            if pf.get("write_json") is False:
                flags.write_json = False

        # --fail-fast asks for the earliest possible failure: views must
        # validate on THEIR node, so registration goes back to eager
        self.store.eager_views = bool(flags.fail_fast)

        # parse-time warnings (deprecations) honor the invocation's flags; a
        # promoted warning fails the invocation like the reference's
        # EventCompilationError out of warn_or_error
        self._warn_error = flags.warn_error
        self._warn_error_options = flags.warn_error_options
        from dbt_spark.events import WarnErrorPromotion

        self._write_json = flags.write_json
        try:
            manifest = self.parse(partial=not flags.no_partial_parse)
        except WarnErrorPromotion as e:
            return RunnerResult(False, [
                RunResult(e.event.name, "error", 0.0, message=str(e))
            ])
        self.state_dir = flags.state
        if command == "parse":
            # manifest.json already written by parse() (task/compile.py analog)
            return RunnerResult(success=True, results=[], manifest=manifest)

        if command == "run-operation":
            return self._run_operation(manifest, positional[0],
                                       flags.args or {})
        if command == "show":
            if flags.inline_direct is not None:
                self.store.ensure_registered_for(flags.inline_direct)
                rows = [r.asDict() for r in
                        self.spark.sql(flags.inline_direct)
                        .limit(flags.limit).collect()]
                res = RunnerResult(
                    True, [RunResult("show", "success", 0.0)], manifest)
                res.preview = rows
                return res
            return self._show(manifest, flags.inline, flags.select, flags.limit)
        if command == "docs-generate":
            return self._docs_generate(manifest, select=flags.select or None,
                                       exclude=flags.exclude or None,
                                       empty_catalog=flags.empty_catalog)
        if command == "docs-serve":
            return self._docs_serve(port=flags.port or 8080, host=flags.host)
        if command == "source-freshness":
            return self._source_freshness(
                manifest, now=now, warn_error=flags.warn_error,
                warn_error_options=flags.warn_error_options,
                select=flags.select or None, exclude=flags.exclude or None,
                # source freshness --output is a PATH (reference
                # cli/params.py "--output" on freshness), unlike ls/show
                # where --output picks a format
                output_path=flags.output,
            )
        if command == "clone":
            return self._clone(manifest, flags.select, flags.exclude)
        graph = Linker().link_graph(manifest)
        if command == "build":
            graph = add_test_edges(graph, manifest)
        self._write_graph_summary(graph)

        selector_def = None
        if flags.selector is not None:
            entry = self.project.selectors.get(flags.selector)
            if entry is None:
                raise ValueError(
                    f"--selector {flags.selector!r} not found in selectors.yml "
                    f"(available: {sorted(self.project.selectors)})"
                )
            selector_def = entry.get("definition")
        elif not flags.select:
            # a selector marked default: true applies when nothing is selected
            # (config/selectors.py default flag)
            for entry in self.project.selectors.values():
                if entry.get("default"):
                    selector_def = entry.get("definition")
                    break
        selected = select_nodes(
            manifest, graph, flags.select or None, flags.exclude or None,
            state=self._load_state(), indirect=flags.indirect_selection,
            selector_def=selector_def,
        )
        resource_types = RESOURCE_FOR_COMMAND[command]
        if flags.resource_type:
            # --resource-type narrows the command's executable set; the
            # special values expand per resource_types_from_args
            # (core/dbt/task/base.py:478: "all" -> every type the command
            # can touch, "default" -> the command's default set)
            names = set(flags.resource_type)
            if "all" in names:
                names.remove("all")
                names |= {t.value for t in RESOURCE_FOR_COMMAND[command]}
            if "default" in names:
                names.remove("default")
                names |= {t.value for t in RESOURCE_FOR_COMMAND[command]}
            wanted = {NodeType(v) for v in names}
            resource_types = {t for t in resource_types if t in wanted}
        if flags.exclude_resource_type:
            # --exclude-resource-type (reference cli/params.py:204)
            dropped = {NodeType(v) for v in flags.exclude_resource_type}
            resource_types = {t for t in resource_types if t not in dropped}
        runnable = {
            uid
            for uid in selected
            if uid in manifest.nodes
            and manifest.nodes[uid].resource_type in resource_types
            and manifest.nodes[uid].config.enabled
            and not manifest.nodes[uid].is_ephemeral
            # plugin-injected external nodes are ref()-able but never run
            # (parser/manifest.py:827-853 external nodes)
            and (command == "ls"
                 or manifest.nodes[uid].config.materialized != "external")
        }
        if command == "ls":
            # sources are listable too (they live outside manifest.nodes) —
            # but they still honor --resource-type
            listable = set(runnable)
            if NodeType.Source in resource_types:
                listable |= {uid for uid in selected if uid in manifest.sources}
            results = [
                RunResult(uid, "success", 0.0,
                          _ls_render(manifest, uid, flags.output or "selector",
                                     flags.output_keys))
                for uid in sorted(listable)
            ]
            return RunnerResult(success=True, results=results, manifest=manifest)

        defer_store = None
        if flags.defer and (flags.defer_state or flags.state):
            # --defer-state overrides --state for defer resolution only
            # (reference cli/params.py:105)
            wh = os.path.join(flags.defer_state or flags.state, "warehouse")
            if os.path.isdir(wh):
                defer_store = RelationStore(self.spark, wh)
        ctx = ExecutionContext(
            spark=self.spark,
            store=self.store,
            manifest=manifest,
            project=self.project,
            full_refresh=full_refresh,
            vars=self.vars,
            snapshot_ts=snapshot_ts,
            now=now,
            defer_store=defer_store,
            empty=flags.empty,
            warn_error=flags.warn_error,
            warn_error_options=flags.warn_error_options,
            retry_batches=retry_batches or {},
            event_time_start=flags.event_time_start,
            event_time_end=flags.event_time_end,
            include_saved_query=flags.include_saved_query,
            favor_state=flags.favor_state,
            selected=set(runnable),
            events=self.events,
        )
        if flags.store_failures:
            # --store-failures: flag-level override of the per-test config
            for uid in runnable:
                n = manifest.nodes[uid]
                if n.resource_type == NodeType.Test:
                    n.config.store_failures = True
        if flags.sample:
            ctx.event_time_filters["*"] = _sample_window(flags.sample, now)
        if command == "compile":
            if flags.inline is not None:
                # dbt compile --inline: render an ad-hoc jinja string against
                # the manifest without executing (ShowTaskDirect's sibling)
                tmp = ManifestNode(
                    unique_id=f"model.{self.project.name}.__inline__",
                    name="__inline__", package_name=self.project.name,
                    path="<inline>", resource_type=NodeType.Model,
                    raw_code=flags.inline,
                )
                sql = compile_sql_lenient(ctx, tmp)
                return RunnerResult(
                    True, [RunResult(tmp.unique_id, "success", 0.0, message=sql)],
                    manifest, preview=[{"compiled_inline": sql}],
                )
            return self._compile_only(ctx, manifest, runnable)

        # include upstream runnable deps in the queue graph for correct ordering
        queue = GraphQueue(graph, runnable)
        results: list[RunResult] = []
        threads = int(flags.threads
                      or self.project.profile.get("threads", 4))

        # reference startup event sequence (task/runnable.py before execution:
        # MainReportVersion A001 → FoundStats W006 → ConcurrencyLine Q027)
        from dbt_spark import __version__

        self.events.fire("MainReportVersion", version=__version__,
                         log_version=3)
        by_type: dict[str, int] = {}
        for uid in runnable:
            rt = manifest.nodes[uid].resource_type.value
            by_type[rt] = by_type.get(rt, 0) + 1
        self.events.fire(
            "FoundStats",
            stat_line=", ".join(f"{v} {k}s" for k, v in sorted(by_type.items())),
        )
        self.events.fire("ConcurrencyLine", num_threads=threads,
                         target_name=self.project.profile.get(
                             "target_name", "spark"),
                         node_count=len(runnable))
        if not runnable:
            # reference NothingToDo Q035 (task/runnable.py:585 warn_or_error:
            # silence drops it; --warn-error / an options match fails the run)
            from dbt_spark.events import WarnErrorPromotion

            try:
                self.events.warn_or_error(
                    "NothingToDo", warn_error=ctx.warn_error, options=ctx.weo
                )
            except WarnErrorPromotion as e:
                return RunnerResult(False, [
                    RunResult("NothingToDo", "error", 0.0, message=str(e))
                ], manifest)

        try:
            self._run_hooks(ctx, self.project.on_run_start, "on-run-start")
        except RuntimeError as e:
            # behavior flag skip_nodes_if_on_run_start_fails (reference
            # ProjectFlags): mark every selected node skipped instead of
            # aborting with a bare error
            if (getattr(self.project, "flags", None) or {}).get(
                    "skip_nodes_if_on_run_start_fails"):
                skipped = [
                    RunResult(uid, "skipped", 0.0, "on-run-start hook failed")
                    for uid in sorted(runnable)
                ]
                return RunnerResult(False, [
                    RunResult(f"operation.{self.project.name}.on-run-start",
                              "error", 0.0, str(e)),
                    *skipped,
                ], manifest)
            raise

        aborted = {"flag": False}

        def worker() -> None:
            while True:
                if aborted["flag"]:
                    return
                uid = queue.get()
                if uid is None:
                    if queue.empty() or queue.remaining() <= 0:
                        return
                    time.sleep(0.02)
                    continue
                node = manifest.nodes[uid]
                t0 = time.time()
                self.events.fire("NodeStart", node_id=uid)
                self.events.fire("LogStartLine", node_id=uid,
                                 resource_type=node.resource_type.value)
                n_before = len(results)
                try:
                    self._execute_node(ctx, node, command, results, t0)
                    for rr in results[n_before:]:
                        if rr.started_at is None:
                            rr.started_at = datetime.fromtimestamp(
                                t0, tz=timezone.utc).isoformat()
                            rr.completed_at = datetime.now(timezone.utc).isoformat()
                    queue.mark_done(uid)
                    elapsed = round(time.time() - t0, 4)
                    self.events.fire(
                        "NodeFinished", node_id=uid, status="success",
                        execution_time=elapsed,
                    )
                    # per-resource result lines (Q012/Q007/Q015/Q016); status
                    # comes from the node's own RunResult rows (tests append
                    # pass/warn/fail)
                    node_status = next(
                        (r.status for r in results[n_before:]
                         if r.unique_id == uid), "success")
                    result_event = {
                        NodeType.Test: "LogTestResult",
                        NodeType.UnitTest: "LogTestResult",
                        NodeType.Seed: "LogSeedResult",
                        NodeType.Snapshot: "LogSnapshotResult",
                    }.get(node.resource_type, "LogModelResult")
                    self.events.fire(result_event, node_id=uid,
                                     status=node_status,
                                     execution_time=elapsed)
                except Exception as e:  # noqa: BLE001
                    self.events.fire("NodeFinished", node_id=uid, status="error",
                                     level="error", msg=str(e)[:300])
                    if not isinstance(e, TestFailure):
                        # test failures already appended their own result row
                        results.append(
                            RunResult(
                                uid,
                                "error",
                                time.time() - t0,
                                message=f"{e}\n{traceback.format_exc(limit=4)}",
                            )
                        )
                    self.events.fire("RunResultError", node_id=uid,
                                     msg=str(e)[:300])
                    for skipped in queue.mark_failed(uid):
                        results.append(RunResult(skipped, "skipped", 0.0, "upstream failed"))
                        self.events.fire("SkippingDetails", node_id=skipped,
                                         reason="upstream failed")
                    if flags.fail_fast:
                        # --fail-fast: stop scheduling anything further
                        # (reference fail_fast flag, task/runnable.py)
                        aborted["flag"] = True
                        return

        with ThreadPoolExecutor(max_workers=threads) as pool:
            for _ in range(threads):
                pool.submit(worker)

        if aborted["flag"]:
            done = {r.unique_id for r in results}
            for uid in sorted(runnable - done):
                results.append(RunResult(uid, "skipped", 0.0, "fail-fast abort"))

        # View registration is lazy (catalog.py register): realize every
        # view still pending so a broken view fails ITS OWN node within the
        # run that built it (dbt parity — the warehouse validates CREATE
        # VIEW at run time), and attribute any analysis failure (including
        # ones a consuming statement hit mid-run) back to the owning node.
        lazy_errors = self.store.flush_lazy_views(
            threads=min(16, self.spark.sparkContext.defaultParallelism))
        # a failure with no runnable owner (an upstream view registered
        # for a subset run, a store.read or a deferral) is reported on its
        # own and fails the invocation
        orphaned = False
        if lazy_errors:
            ident_uid: dict[str, str] = {}
            for uid in runnable:
                n = manifest.nodes.get(uid)
                if n is None:
                    continue
                try:
                    ident_uid[
                        f"{ctx.schema_for(n)}__{ctx.name_for(n)}"] = uid
                except Exception:  # noqa: BLE001 — naming macros may raise
                    continue
            for ident, err in lazy_errors.items():
                uid = ident_uid.get(ident)
                if uid is None:
                    orphaned = True
                    self.events.fire(
                        "RunResultError",
                        msg=f"view registration failed for {ident}: "
                            f"{str(err)[:300]}")
                    continue
                for rr in results:
                    if rr.unique_id == uid and rr.status == "success":
                        rr.status = "error"
                        rr.message = (
                            f"view registration failed: {str(err)[:700]}")
                        self.events.fire("RunResultError", node_id=uid,
                                         msg=str(err)[:300])

        self._run_hooks(ctx, self.project.on_run_end, "on-run-end",
                        results=results)

        # release config(cache=true) block-manager memory (per-invocation)
        for ident in ctx.cached_idents:
            try:
                self.spark.sql(f"UNCACHE TABLE IF EXISTS {ident}")
            except Exception:  # noqa: BLE001 - cache release is best-effort
                pass

        success = not orphaned and all(
            r.status in ("success", "pass", "warn", "skipped") for r in results)
        if getattr(self, "_write_json", True):
            self._write_run_results(results, success, command=command)
        if flags.record_timing_info:
            # --record-timing-info: per-node timing profile at the given
            # path (cli/params.py:190; reference dumps the cProfile-style
            # trace — here the per-node wall timings the engine measures)
            try:
                with open(flags.record_timing_info, "w") as f:
                    json.dump(
                        [{"unique_id": r.unique_id, "status": r.status,
                          "execution_time": r.execution_time}
                         for r in results], f, indent=1)
            except OSError:
                pass
        # reference end-of-run sequence: StatsLine Z023 + EndOfRunSummary Z030
        # (task/runnable.py print_results_line / print_run_end_messages)
        stats = {"pass": 0, "warn": 0, "error": 0, "skip": 0,
                 "total": len(results)}
        for r in results:
            if r.status in ("success", "pass"):
                stats["pass"] += 1
            elif r.status == "warn":
                stats["warn"] += 1
            elif r.status == "skipped":
                stats["skip"] += 1
            else:
                stats["error"] += 1
        self.events.fire("StatsLine", stats=stats)
        self.events.fire("EndOfRunSummary", num_errors=stats["error"],
                         num_warnings=stats["warn"],
                         keyboard_interrupt=False)
        self.events.fire("CommandCompleted", command=command, success=success,
                         elapsed=sum(r.execution_time for r in results))
        return RunnerResult(success=success, results=results, manifest=manifest)

    def _write_graph_summary(self, graph) -> None:
        """graph_summary.json (compilation.py:679-689 writes graph.gpickle +
        summary; the summary alone serves the same introspection need)."""
        target_dir = self.project.target_path
        os.makedirs(target_dir, exist_ok=True)
        summary = {
            "_invocation_id": self.events.invocation_id,
            "linked": {
                n: sorted(graph.successors(n)) for n in sorted(graph.nodes)
            },
        }
        with open(os.path.join(target_dir, "graph_summary.json"), "w") as f:
            json.dump(summary, f, indent=1)

    # -- secondary commands ---------------------------------------------------

    def _load_state(self) -> Optional[dict]:
        """--state dir → {unique_id: node-dict} from its manifest.json."""
        state_dir = getattr(self, "state_dir", None)
        if not state_dir:
            return None
        path = os.path.join(state_dir, "manifest.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"--state: no manifest.json in {state_dir}")
        with open(path) as f:
            doc = json.load(f)
        out = {**doc.get("nodes", {}), **doc.get("sources", {})}
        # behavior flag state_modified_compare_vars (reference ProjectFlags):
        # old vars from the state manifest's metadata.env, current from this
        # invocation — graph.py diffs them per node's var() references
        if (getattr(self.project, "flags", None) or {}).get(
                "state_modified_compare_vars"):
            try:
                old_vars = json.loads(
                    doc.get("metadata", {}).get("env", {})
                    .get("DBT_SPARK_VARS", "{}"))
            except (ValueError, TypeError):
                old_vars = {}
            out["__compare_vars__"] = True
            out["__vars__"] = old_vars
            out["__current_vars__"] = {
                k: str(v)
                for k, v in {**self.project.vars, **self.vars}.items()
            }
        if (getattr(self.project, "flags", None) or {}).get(
                "state_modified_compare_more_unrendered_values"):
            out["__compare_unrendered__"] = True
        # semantic-layer sections are graph-participating too (state:new etc.)
        for section in ("exposures", "metrics", "groups", "semantic_models",
                        "saved_queries", "unit_tests"):
            out.update(doc.get(section) or {})
        # macro hashes for state:modified.macros (selector_methods.py:637-665).
        # v12-shape manifests store Macro objects keyed by unique_id; older
        # engine artifacts stored {internal_name: md5}. Normalize to
        # {internal_name: md5-of-source}.
        if doc.get("macros"):
            root = doc.get("metadata", {}).get("project_name")
            macros: dict[str, str] = {}
            for key, val in doc["macros"].items():
                if isinstance(val, dict):
                    pkg, mname = val.get("package_name"), val.get("name", key)
                    internal = mname if pkg in (root, None) else f"{pkg}.{mname}"
                    macros[internal] = hashlib.md5(
                        str(val.get("macro_sql", "")).encode()
                    ).hexdigest()
                else:
                    macros[key] = val
            out["__macros__"] = macros
        # result:<status> selector data (selector_methods.py ResultSelectorMethod)
        rr_path = os.path.join(state_dir, "run_results.json")
        if os.path.exists(rr_path):
            with open(rr_path) as f:
                rr = json.load(f)
            out["__results__"] = {
                r["unique_id"]: r["status"] for r in rr.get("results", [])
            }
        # source_status:fresher — the --state sources.json vs this project's
        # current target/sources.json (SourceStatusSelectorMethod)
        def _source_ages(path: str) -> Optional[dict]:
            if not os.path.exists(path):
                return None
            with open(path) as f:
                doc = json.load(f)
            return {
                r["unique_id"]: r.get("max_loaded_at")
                for r in doc.get("results", [])
            }

        old_src = _source_ages(os.path.join(state_dir, "sources.json"))
        if old_src is not None:
            out["__source_status__"] = old_src
            out["__current_source_status__"] = _source_ages(
                os.path.join(self.project.target_path, "sources.json")
            ) or {}
        return out

    def _run_operation(
        self, manifest: Manifest, macro_name: str, op_args: dict
    ) -> RunnerResult:
        """dbt run-operation <macro> --args '{...}'
        (core/dbt/task/run_operation.py:29-80)."""
        from dbt_spark.plans.compile import runtime_render
        from dbt_spark.plans.manifest import NodeType as NT

        if macro_name == "compact":
            # built-in maintenance operation (the OPTIMIZE analog):
            # dbt run-operation compact --args '{relation: name[, target_file_mb: N]}'
            t0 = time.time()
            rel_name = op_args.get("relation")
            schema = op_args.get("schema") or self.project.profile.get("schema", "main")
            try:
                before, after = self.store.compact(
                    schema, rel_name, int(op_args.get("target_file_mb", 128)),
                    zorder_by=op_args.get("zorder_by"),
                )
                return RunnerResult(True, [RunResult(
                    f"operation.{self.project.name}.compact", "success",
                    time.time() - t0, f"{rel_name}: {before} -> {after} files")],
                    manifest)
            except KeyError as e:
                return RunnerResult(False, [RunResult(
                    f"operation.{self.project.name}.compact", "error",
                    time.time() - t0, str(e))], manifest)
        if macro_name not in manifest.macros:
            return RunnerResult(False, [RunResult(
                f"operation.{self.project.name}.{macro_name}", "error", 0.0,
                message=f"macro {macro_name!r} not found")], manifest)
        ctx = ExecutionContext(
            spark=self.spark, store=self.store, manifest=manifest, project=self.project
        )
        arg_list = ", ".join(f"{k}={v!r}" for k, v in (op_args or {}).items())
        call = ManifestNode(
            unique_id=f"operation.{self.project.name}.{macro_name}",
            name=macro_name,
            package_name=self.project.name,
            path="",
            resource_type=NT.Operation,
            raw_code=f"{{{{ {macro_name}({arg_list}) }}}}",
        )
        t0 = time.time()
        # the macro's rendered text is discarded — side effects happen via
        # run_query inside the macro (core/dbt/task/run_operation.py:29-80)
        from dbt_spark.plans.macros import RuntimeAdapter

        runtime_render(
            call, manifest,
            resolve_ref=ctx.resolve_ref, resolve_source=ctx.resolve_source,
            this_name=macro_name, is_incremental=False, full_refresh=False,
            var_overrides={**self.project.vars, **self.vars},
            target=dict(self.project.profile), run_query=ctx.run_query,
            extra={"adapter": RuntimeAdapter(ctx)},
        )
        return RunnerResult(True, [RunResult(
            call.unique_id, "success", time.time() - t0)], manifest)

    def _show(
        self, manifest: Manifest, inline: Optional[str], select: list[str], limit: int
    ) -> RunnerResult:
        """dbt show --inline / --select (core/dbt/task/show.py:25-60,127-149).
        Rows land on RunnerResult.preview (list[dict])."""
        ctx = ExecutionContext(
            spark=self.spark, store=self.store, manifest=manifest, project=self.project
        )
        if inline is not None:
            node = ManifestNode(
                unique_id="model.inline.inline_query", name="inline_query",
                package_name=self.project.name, path="", resource_type=NodeType.Model,
                raw_code=inline,
            )
            from dbt_spark.plans.compile import parse_render

            _, refs, sources, _ = parse_render(
                inline, "inline_query", self.project.vars, dict(self.project.profile),
                macros=manifest.macros,
            )
            node.refs, node.sources = refs, sources
            manifest.nodes[node.unique_id] = node
            try:
                for pkg, name in refs:
                    dep = manifest.ref_lookup(name, pkg)
                    if dep is not None:
                        node.depends_on.append(dep.unique_id)
                from dbt_spark.operators.materialize import run_model_df

                df = run_model_df(ctx, node)
            finally:
                del manifest.nodes[node.unique_id]
        else:
            graph = Linker().link_graph(manifest)
            chosen = sorted(select_nodes(manifest, graph, select or None))
            models = [u for u in chosen if u in manifest.nodes
                      and manifest.nodes[u].resource_type == NodeType.Model]
            if not models:
                return RunnerResult(False, [RunResult("show", "error", 0.0,
                                                      "no model selected")], manifest)
            from dbt_spark.operators.materialize import run_model_df

            df = run_model_df(ctx, manifest.nodes[models[0]])
        # --limit -1 means NO limit (task/show.py:29,131 maps negative to
        # None instead of passing a negative int to the engine)
        shown = df if limit is None or limit < 0 else df.limit(limit)
        rows = [r.asDict() for r in shown.collect()]
        result = RunnerResult(True, [RunResult("show", "success", 0.0)], manifest)
        result.preview = rows
        return result

    def _docs_generate(self, manifest: Manifest, select=None,
                       exclude=None, empty_catalog=False) -> RunnerResult:
        """catalog.json from the warehouse state
        (core/dbt/task/docs/generate.py:73-114, artifact :354-371);
        --select/--exclude narrow the cataloged nodes (reference
        `dbt docs generate --select`); --empty-catalog skips warehouse
        introspection and writes an empty catalog (cli/params.py
        "--empty-catalog" — the fast-docs path for big deployments)."""
        ctx = ExecutionContext(
            spark=self.spark, store=self.store, manifest=manifest, project=self.project
        )
        chosen = None
        if select or exclude:
            graph = Linker().link_graph(manifest)
            chosen = select_nodes(manifest, graph, select, exclude,
                                  state=self._load_state())
        nodes_cat: dict[str, Any] = {}
        for uid, node in () if empty_catalog else manifest.nodes.items():
            if node.resource_type not in (NodeType.Model, NodeType.Seed, NodeType.Snapshot):
                continue
            if chosen is not None and uid not in chosen:
                continue
            rel = self.store.get(ctx.schema_for(node), ctx.name_for(node))
            if rel is None:
                continue
            ctx.ensure_upstream_registered(node)
            df = self.store.read(rel.schema, rel.name)
            stats: dict[str, Any] = {}
            if rel.path and os.path.isdir(rel.path):
                # row count from parquet footers (metadata-only, no scan) +
                # on-disk bytes — the reference's has_stats/row_count/bytes
                # (task/docs/generate.py stats from the warehouse catalog)
                try:
                    import pyarrow.dataset as _ds

                    n_rows = _ds.dataset(rel.path, format="parquet").count_rows()
                    n_bytes = sum(
                        os.path.getsize(os.path.join(dp, fn))
                        for dp, _d, fs in os.walk(rel.path)
                        for fn in fs if fn.endswith(".parquet")
                    )
                    # v1 StatsItem: {id, label, value, include[, description]}
                    # all required but description (catalog/v1.json)
                    stats = {
                        "row_count": {"id": "row_count", "label": "# Rows",
                                      "value": n_rows, "include": True,
                                      "description": None},
                        "bytes": {"id": "bytes",
                                  "label": "Approximate Size",
                                  "value": n_bytes, "include": True,
                                  "description": None},
                        "has_stats": {"id": "has_stats",
                                      "label": "Has Stats?",
                                      "value": True, "include": False,
                                      "description": None},
                    }
                except Exception:  # noqa: BLE001 — stats are best-effort
                    stats = {}
            if not stats:
                # the reference always carries a has_stats marker
                stats = {"has_stats": {"id": "has_stats",
                                       "label": "Has Stats?",
                                       "value": False, "include": False,
                                       "description": None}}
            doc_cols = rel.meta.get("doc_columns") or {}
            nodes_cat[uid] = {
                "metadata": {"type": rel.kind, "schema": rel.schema,
                             "name": rel.name,
                             "comment": rel.meta.get("doc_comment")},
                "columns": {
                    f.name: {"type": f.dataType.simpleString(), "index": i,
                             "name": f.name,
                             "comment": doc_cols.get(f.name)}
                    for i, f in enumerate(df.schema.fields)
                },
                "stats": stats,
            }
        sources_cat: dict[str, Any] = {}
        for uid, src in () if empty_catalog else manifest.sources.items():
            if chosen is not None and uid not in chosen:
                continue
            loc = src.config.meta.get("location")
            if not loc or not os.path.exists(loc):
                continue
            try:
                df = ctx.source_df(src)
                sources_cat[uid] = {
                    "metadata": {"type": "source", "schema": src.source_name,
                                 "name": src.name},
                    "columns": {
                        f.name: {"type": f.dataType.simpleString(), "index": i,
                                 "name": f.name}
                        for i, f in enumerate(df.schema.fields)
                    },
                    "stats": {},
                }
            except Exception:  # noqa: BLE001 — unreadable source: skip entry
                continue
        from dbt_spark.plans.compile import _INVOCATION_ID, DBT_VERSION

        payload = {
            # CatalogMetadata (catalog/v1.json): additionalProperties false —
            # no extra keys; env carries the engine tag instead
            "metadata": {
                "dbt_schema_version": "https://schemas.getdbt.com/dbt/catalog/v1.json",
                "dbt_version": DBT_VERSION,
                "generated_at": datetime.now(timezone.utc).isoformat(),
                "invocation_id": _INVOCATION_ID,
                # 1.10 field, present in the published catalog v1 schema
                # (run-results v5 predates it, so that artifact omits it)
                "invocation_started_at": self.events.invocation_started_at,
                "env": {"generator": "dbt_spark"},
            },
            "nodes": nodes_cat,
            "sources": sources_cat,
            "errors": None,
        }
        target_dir = self.project.target_path
        os.makedirs(target_dir, exist_ok=True)
        with open(os.path.join(target_dir, "catalog.json"), "w") as f:
            json.dump(payload, f, indent=1)
        with open(os.path.join(target_dir, "index.html"), "w") as f:
            f.write(self._docs_index_html(manifest, payload))
        return RunnerResult(True, [RunResult("docs.generate", "success", 0.0)], manifest)

    def _docs_index_html(self, manifest: Manifest, catalog: dict) -> str:
        """Static docs site (the reference ships the dbt-docs JS app; a
        self-contained HTML summary serves the same browse-the-project need
        without a bundled webapp): per-node tables of columns/types with
        descriptions, lineage (depends_on), and physical stats."""
        import html as _html

        def esc(s) -> str:
            return _html.escape(str(s if s is not None else ""))

        rows = []
        entries = {**catalog.get("nodes", {}), **catalog.get("sources", {})}
        for uid in sorted(entries):
            cat = entries[uid]
            node = manifest.nodes.get(uid) or manifest.sources.get(uid)
            desc = esc(node.description) if node is not None else ""
            deps = ", ".join(sorted(node.depends_on)) if node is not None else ""
            stats = cat.get("stats") or {}
            stat_bits = ", ".join(
                f"{esc(v.get('label', k))}: {esc(v.get('value'))}"
                for k, v in stats.items() if v.get("include", True)
            )
            cols = "".join(
                f"<tr><td>{esc(c['name'])}</td><td><code>{esc(c['type'])}</code></td></tr>"
                for c in sorted(cat.get("columns", {}).values(),
                                key=lambda c: c["index"])
            )
            rows.append(
                f"<section id='{esc(uid)}'><h2>{esc(uid)}</h2>"
                f"<p>{desc}</p>"
                + (f"<p><b>depends on:</b> {esc(deps)}</p>" if deps else "")
                + (f"<p><b>stats:</b> {stat_bits}</p>" if stat_bits else "")
                + f"<table border='1' cellpadding='4'>"
                  f"<tr><th>column</th><th>type</th></tr>{cols}</table></section>"
            )
        toc = "".join(
            f"<li><a href='#{esc(uid)}'>{esc(uid)}</a></li>"
            for uid in sorted(entries)
        )
        semantic_kinds = {"exposure", "metric", "semantic_model",
                          "saved_query", "group"}
        semantic = [
            n for n in manifest.nodes.values()
            if n.resource_type.value in semantic_kinds
        ]
        sem_html = ""
        if semantic:
            items = "".join(
                f"<li><b>{esc(n.resource_type.value)}</b> {esc(n.unique_id)}"
                + (f" — {esc(n.description)}" if n.description else "")
                + (f" <i>(depends on: {esc(', '.join(sorted(n.depends_on)))})</i>"
                   if n.depends_on else "")
                + "</li>"
                for n in sorted(semantic, key=lambda n: n.unique_id)
            )
            sem_html = f"<h2>Semantic layer</h2><ul>{items}</ul>"
        return (
            "<!DOCTYPE html><html><head><meta charset='utf-8'>"
            f"<title>{esc(self.project.name)} — dbt_spark docs</title></head>"
            f"<body><h1>{esc(self.project.name)}</h1>"
            f"<p>{len(entries)} cataloged relations. Raw artifacts: "
            "<a href='manifest.json'>manifest.json</a> · "
            "<a href='catalog.json'>catalog.json</a> · "
            "<a href='run_results.json'>run_results.json</a></p>"
            f"<ul>{toc}</ul>{sem_html}{''.join(rows)}</body></html>"
        )

    def _docs_serve(self, port: int = 8080, blocking: bool = True,
                    host: str = "127.0.0.1"):
        """dbt docs serve: static HTTP server over target/ (catalog.json +
        manifest.json; reference serves the docs site the same way,
        core/dbt/cli/main.py:294 docs serve). ``blocking=False`` returns the
        live server (tests shut it down)."""
        import http.server
        import socketserver
        import threading

        target_dir = self.project.target_path

        class Handler(http.server.SimpleHTTPRequestHandler):
            def __init__(self, *a: Any, **k: Any) -> None:
                super().__init__(*a, directory=target_dir, **k)

            def log_message(self, *a: Any) -> None:
                pass

        httpd = socketserver.TCPServer((host, port), Handler)
        if not blocking:
            threading.Thread(target=httpd.serve_forever, daemon=True).start()
            return httpd
        try:
            httpd.serve_forever()
        finally:
            httpd.server_close()
        return RunnerResult(True, [RunResult("docs.serve", "success", 0.0)])

    def _source_freshness(
        self, manifest: Manifest, now=None, warn_error: bool = False,
        warn_error_options=None, select=None, exclude=None,
        output_path: Optional[str] = None,
    ) -> RunnerResult:
        """dbt source freshness → sources.json v3-ish
        (core/dbt/task/freshness.py:111-181). --select/--exclude narrow the
        checked sources through the standard selection DSL (the reference
        FreshnessTask inherits node selection from GraphRunnableTask)."""
        from dbt_spark.sources.freshness import check_freshness

        ctx = ExecutionContext(
            spark=self.spark, store=self.store, manifest=manifest, project=self.project
        )
        chosen = None
        if select or exclude:
            graph = Linker().link_graph(manifest)
            chosen = select_nodes(manifest, graph, select, exclude,
                                  state=self._load_state())
        results: list[RunResult] = []
        artifacts = []
        # behavior flag source_freshness_run_project_hooks (reference
        # ProjectFlags): freshness runs project on-run-start/end like other
        # commands when opted in
        run_hooks = bool((getattr(self.project, "flags", None) or {}).get(
            "source_freshness_run_project_hooks"))
        if run_hooks:
            self._run_hooks(ctx, self.project.on_run_start, "on-run-start")
        elif ((self.project.on_run_start or self.project.on_run_end)
              and getattr(self, "events", None) is not None):
            # hooks exist but the flag is off: reference fires the D017
            # deprecation instead of running them
            # (core/dbt/task/freshness.py:271-276 get_hooks_by_type)
            self.events.warn_or_error(
                "SourceFreshnessProjectHooksNotRun",
                warn_error=getattr(self, "_warn_error", False),
                options=getattr(self, "_warn_error_options", None),
            )
        for uid, src in manifest.sources.items():
            if chosen is not None and uid not in chosen:
                continue
            if not src.freshness and not src.loaded_at_field and not src.loaded_at_query:
                continue
            t0 = time.time()
            try:
                fr = check_freshness(ctx, src, now=now)
                status = "pass" if fr.status == "pass" else fr.status
                if status == "warn" and (
                    warn_error
                    or (warn_error_options is not None
                        and warn_error_options.includes("LogFreshnessResult"))
                ):
                    status = "error"
                results.append(RunResult(uid, status, time.time() - t0,
                                         message=f"age={fr.age_seconds:.0f}s"))
                artifacts.append({
                    "unique_id": uid,
                    "max_loaded_at": str(fr.max_loaded_at),
                    "max_loaded_at_time_ago_in_s": fr.age_seconds,
                    "status": fr.status,
                })
            except Exception as e:  # noqa: BLE001
                results.append(RunResult(uid, "error", time.time() - t0, str(e)))
        out_path = output_path or os.path.join(
            self.project.target_path, "sources.json")
        os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump({
                "metadata": {
                    "dbt_schema_version":
                        "https://schemas.getdbt.com/dbt/sources/v3.json",
                    "generator": "dbt_spark",
                },
                "results": artifacts,
            }, f, indent=1)
        if run_hooks:
            self._run_hooks(ctx, self.project.on_run_end, "on-run-end",
                            results=results)
        ok = all(r.status in ("pass", "warn") for r in results)
        return RunnerResult(ok, results, manifest)

    def _clone(
        self, manifest: Manifest, select: list[str], exclude: list[str]
    ) -> RunnerResult:
        """dbt clone: zero-copy the --state warehouse's relations into this
        target (core/dbt/task/clone.py:19-99). Parquet analog of Delta
        SHALLOW CLONE: the catalog entry is copied, the data files are shared
        (a later overwrite in this target re-materializes, never touching the
        source files)."""
        state_dir = getattr(self, "state_dir", None)
        if not state_dir:
            raise ValueError("clone requires --state <dir> (with warehouse/)")
        src_store = RelationStore(self.spark, os.path.join(state_dir, "warehouse"))
        graph = Linker().link_graph(manifest)
        selected = select_nodes(manifest, graph, select or None, exclude or None,
                                state=self._load_state())
        results: list[RunResult] = []
        for uid in sorted(selected):
            node = manifest.nodes.get(uid)
            if node is None or node.resource_type not in (
                NodeType.Model, NodeType.Seed, NodeType.Snapshot
            ) or node.is_ephemeral:
                continue
            schema = node.config.schema or self.project.profile["schema"]
            phys = str(node.config.meta.get("alias") or node.name)
            rel = src_store.get(schema, phys)
            t0 = time.time()
            if rel is None:
                results.append(RunResult(uid, "skipped", 0.0, "no relation in state"))
                continue
            import copy as _copy

            clone_rel = _copy.deepcopy(rel)
            with self.store._lock:
                self.store.relations[self.store.key(schema, phys)] = clone_rel
                self.store._registered.discard(clone_rel.identifier)
                self.store._save_state()
            results.append(RunResult(uid, "success", time.time() - t0, "cloned"))
        ok = all(r.status in ("success", "skipped") for r in results)
        return RunnerResult(ok, results, manifest)

    def _debug(self) -> RunnerResult:
        """dbt debug: project/profile/connection checks
        (core/dbt/task/debug.py:74-171). --connection runs ONLY the
        connection/warehouse probes (reference --connection: skip project
        and dependency checks)."""
        results: list[RunResult] = []

        def check(name: str, fn) -> None:
            t0 = time.time()
            try:
                msg = fn() or "OK"
                results.append(RunResult(f"debug.{name}", "success",
                                         time.time() - t0, str(msg)))
            except Exception as e:  # noqa: BLE001
                results.append(RunResult(f"debug.{name}", "error",
                                         time.time() - t0, str(e)))

        if getattr(self, "_debug_connection_only", False):
            check("connection", lambda: str(
                self.spark.sql("SELECT 1 AS ok").collect()[0]["ok"])
                and "query OK")
            ok = all(r.status == "success" for r in results)
            return RunnerResult(ok, results, self.manifest)

        check("project", lambda: f"dbt_project.yml at {self.project.root}")
        check("profile", lambda: f"warehouse={self.project.profile['warehouse']} "
                                 f"schema={self.project.profile['schema']} "
                                 f"threads={self.project.profile['threads']}")
        check("parse", lambda: f"{len(self.parse().nodes)} node(s)")
        check("spark", lambda: f"Spark {self.spark.version} "
                               f"({self.spark.sparkContext.master})")
        check("connection", lambda: str(
            self.spark.sql("SELECT 1 AS ok").collect()[0]["ok"]) and "query OK")

        def warehouse_writable() -> str:
            probe = os.path.join(self.project.profile["warehouse"], ".dbt_probe")
            os.makedirs(self.project.profile["warehouse"], exist_ok=True)
            with open(probe, "w") as f:
                f.write("ok")
            os.remove(probe)
            return "writable"

        check("warehouse", warehouse_writable)
        ok = all(r.status == "success" for r in results)
        return RunnerResult(ok, results, self.manifest)

    def _deps(self, add_package: Optional[str] = None, source: str = "hub",
              upgrade: bool = False, lock_only: bool = False) -> RunnerResult:
        """dbt deps: resolve packages.yml into dbt_packages/.

        local: resolves in place (deps/local.py:26); git: clones the URL (a
        remote, a file:// URL, or a local repo path) and checks out
        ``revision`` (deps/git.py:46); tarball: extracts the archive
        (deps/tarball.py:30). Hub packages need the registry (network) and
        report an actionable error (deps/registry.py:30).

        ``--add-package name@versionspec`` appends/replaces the entry in
        packages.yml before installing (cli/params.py:29 add_package).
        Every run writes package-lock.yml with the resolved hub versions +
        a hash of the package config; later runs reuse the locked exact
        versions while the config is unchanged, and ``--upgrade`` ignores
        the lock to re-resolve at the newest satisfying versions
        (reference deps task lock/upgrade semantics, core/dbt/task/deps.py)."""
        import hashlib
        import shutil
        import subprocess
        import tarfile

        import yaml as _yaml

        if add_package:
            name, _, spec = add_package.partition("@")
            # --source picks the entry form (cli/params.py:606: hub | git |
            # local): hub -> {package, version}, git -> {git, revision},
            # local -> {local}
            if source == "git":
                entry: dict = {"git": name}
                if spec:
                    entry["revision"] = spec
            elif source == "local":
                entry = {"local": name}
            else:
                entry = {"package": name}
                if spec:
                    entry["version"] = [spec]
            pk_path = os.path.join(self.project.root, "packages.yml")
            doc = {"packages": []}
            if os.path.exists(pk_path):
                with open(pk_path) as f:
                    doc = _yaml.safe_load(f) or {"packages": []}
            key = {"git": "git", "local": "local"}.get(source, "package")
            pkgs = [p for p in (doc.get("packages") or [])
                    if p.get(key) != name] + [entry]
            doc["packages"] = pkgs
            with open(pk_path, "w") as f:
                _yaml.safe_dump(doc, f, sort_keys=False)
            self.project.packages = pkgs

        lock_path = os.path.join(self.project.root, "package-lock.yml")
        config_hash = hashlib.sha1(
            _yaml.safe_dump(self.project.packages, sort_keys=True).encode()
        ).hexdigest()
        locked: dict[str, str] = {}
        if not upgrade and os.path.exists(lock_path):
            with open(lock_path) as f:
                lock_doc = _yaml.safe_load(f) or {}
            if lock_doc.get("sha1_hash") == config_hash:
                locked = {
                    e["package"]: str(e["version"])
                    for e in (lock_doc.get("packages") or [])
                    if isinstance(e, dict) and "package" in e
                }

        results: list[RunResult] = []
        install_root = os.path.join(self.project.root, "dbt_packages")
        if lock_only:
            # resolve into a throwaway dir: the solver reads transitive
            # packages.yml files during solving, but nothing persists
            import tempfile as _tf

            install_root = _tf.mkdtemp(prefix="dbt_spark_lockonly_")
            upgrade = True  # --lock re-resolves by definition
        for pkg in self.project.packages:
            if "local" in pkg:
                path = pkg["local"]
                if not os.path.isabs(path):
                    path = os.path.join(self.project.root, path)
                ok = os.path.exists(os.path.join(path, "dbt_project.yml"))
                results.append(RunResult(
                    f"package.local.{os.path.basename(path)}",
                    "success" if ok else "error", 0.0,
                    path if ok else f"no dbt_project.yml at {path}",
                ))
            elif "git" in pkg:
                url = pkg["git"]
                name = os.path.basename(url.rstrip("/")).removesuffix(".git")
                dest = os.path.join(install_root, name)
                t0 = time.time()
                try:
                    if os.path.isdir(dest):
                        shutil.rmtree(dest)
                    os.makedirs(install_root, exist_ok=True)
                    subprocess.run(
                        ["git", "clone", "--quiet", url, dest],
                        check=True, capture_output=True, text=True, timeout=120,
                    )
                    if pkg.get("revision"):
                        subprocess.run(
                            ["git", "-C", dest, "checkout", "--quiet",
                             str(pkg["revision"])],
                            check=True, capture_output=True, text=True, timeout=60,
                        )
                    if not os.path.exists(os.path.join(dest, "dbt_project.yml")):
                        raise FileNotFoundError("cloned repo has no dbt_project.yml")
                    results.append(RunResult(
                        f"package.git.{name}", "success", time.time() - t0, dest))
                except Exception as e:  # noqa: BLE001
                    msg = getattr(e, "stderr", "") or str(e)
                    results.append(RunResult(
                        f"package.git.{name}", "error", time.time() - t0, msg.strip()))
            elif "tarball" in pkg:
                path = pkg["tarball"]
                if not os.path.isabs(path) and not path.startswith(("http://", "https://")):
                    path = os.path.join(self.project.root, path)
                name = pkg.get("name") or os.path.basename(path).split(".tar")[0]
                dest = os.path.join(install_root, name)
                t0 = time.time()
                try:
                    if path.startswith(("http://", "https://")):
                        raise ConnectionError(
                            "remote tarballs require network; download and point "
                            "`tarball:` at the local file")
                    if os.path.isdir(dest):
                        shutil.rmtree(dest)
                    os.makedirs(dest, exist_ok=True)
                    with tarfile.open(path) as tf:
                        tf.extractall(dest, filter="data")
                    # archives usually wrap a single top-level dir — flatten it
                    entries = os.listdir(dest)
                    if len(entries) == 1 and os.path.isdir(os.path.join(dest, entries[0])):
                        inner = os.path.join(dest, entries[0])
                        for item in os.listdir(inner):
                            shutil.move(os.path.join(inner, item), dest)
                        os.rmdir(inner)
                    if not os.path.exists(os.path.join(dest, "dbt_project.yml")):
                        raise FileNotFoundError("tarball has no dbt_project.yml")
                    results.append(RunResult(
                        f"package.tarball.{name}", "success", time.time() - t0, dest))
                except Exception as e:  # noqa: BLE001
                    results.append(RunResult(
                        f"package.tarball.{name}", "error", time.time() - t0, str(e)))
            elif "package" in pkg:
                # hub-style entry: semver range solving against a local
                # registry mirror (plans/deps.py; reference deps/registry.py:30
                # + resolver.py:28 — transport swapped for a filesystem mirror)
                pass  # resolved in one batch below, after the loop
            else:
                kind = next(iter(pkg.keys() - {"version", "revision"}), "unknown")
                results.append(RunResult(
                    f"package.{kind}.{pkg.get(kind, '?')}", "error", 0.0,
                    f"unknown package type; use `package:` (registry mirror), "
                    "`local:`, `git:`, or `tarball:`",
                ))
        hub_pkgs = [p for p in self.project.packages if "package" in p]
        if locked:
            # lock hit: pin every locked root to its exact resolved version
            hub_pkgs = [
                {"package": p["package"], "version": [f"={locked[p['package']]}"]}
                if p["package"] in locked else p
                for p in hub_pkgs
            ]
        if hub_pkgs:
            from dbt_spark.plans.deps import DepsError, resolve_registry

            registry_root = os.environ.get("DBT_SPARK_REGISTRY") or os.path.join(
                self.project.root, "package_registry"
            )
            hub_url = os.environ.get("DBT_PACKAGE_HUB_URL")
            if registry_root.startswith(("http://", "https://")):
                hub_url = registry_root
            t0 = time.time()
            try:
                if hub_url:
                    # live hub-protocol registry (reference
                    # clients/registry.py:23-26 DBT_PACKAGE_HUB_URL override)
                    from dbt_spark.plans.compile import DBT_VERSION
                    from dbt_spark.plans.registry_http import HubClient, resolve_hub

                    client = HubClient(hub_url)
                    resolved = resolve_hub(
                        hub_pkgs, client, install_root,
                        # engine tracks dbt 1.10 semantics; the -spark local
                        # tag is not a semver prerelease for compat purposes
                        dbt_version=DBT_VERSION.split("-")[0],
                    )
                    for old_name, new_name in client.redirects:
                        # reference deprecations.warn("package-redirect")
                        # (clients/registry.py:121)
                        self.events.fire(
                            "PackageRedirectDeprecation",
                            old_name=old_name, new_name=new_name,
                        )
                elif os.path.isdir(registry_root):
                    resolved = resolve_registry(
                        hub_pkgs, registry_root, install_root)
                else:
                    raise DepsError(
                        "hub packages need a registry: set DBT_PACKAGE_HUB_URL "
                        "(hub protocol over HTTP) or point DBT_SPARK_REGISTRY "
                        "(or <project>/package_registry/) at a local mirror"
                    )
                for name, version, dest in resolved:
                    results.append(RunResult(
                        f"package.hub.{name}", "success", time.time() - t0,
                        f"{version} -> {dest}"))
                with open(lock_path, "w") as f:
                    _yaml.safe_dump(
                        {"packages": [{"package": n, "version": str(v)}
                                      for n, v, _ in resolved],
                         "sha1_hash": config_hash},
                        f, sort_keys=False)
            except DepsError as e:
                results.append(RunResult("package.hub", "error",
                                         time.time() - t0, str(e)))
        ok = all(r.status == "success" for r in results)
        return RunnerResult(ok, results, self.manifest)

    def _retry(self, **kwargs: Any) -> RunnerResult:
        """dbt retry: re-run previous invocation's failed/skipped nodes
        (core/dbt/task/retry.py:45-121)."""
        path = os.path.join(self.project.target_path, "run_results.json")
        if not os.path.exists(path):
            raise FileNotFoundError("retry: no previous run_results.json")
        with open(path) as f:
            doc = json.load(f)
        prev_command = doc.get("args", {}).get("command", "build")
        retryable = ("error", "fail", "skipped", "partial success")
        failed_names = [
            r["unique_id"].split(".")[-1]
            for r in doc["results"]
            if r["status"] in retryable
        ]
        # partial-success microbatch nodes replay ONLY their failed batches
        # (task/run.py:578-592 previous_batch_results). batch_results live
        # under args (v5 results allow no extra keys); older artifacts kept
        # them inline on the result row.
        stored_batches = doc.get("args", {}).get("batch_results", {})
        retry_batches = {
            r["unique_id"]: br
            for r in doc["results"]
            if r["status"] == "partial success"
            and (br := (r.get("batch_results") or stored_batches.get(r["unique_id"])))
            and br.get("failed")
        }
        if not failed_names:
            return RunnerResult(True, [], self.manifest)
        argv = [prev_command, "--select", " ".join(failed_names)]
        # --threads flows to the replayed command as a CLI flag (invoke
        # parses it from argv, not kwargs) — Fixes-20240822-122132
        threads = kwargs.pop("threads_override", None)
        if threads:
            argv += ["--threads", str(threads)]
        return self.invoke(argv, retry_batches=retry_batches, **kwargs)

    # -- node execution -------------------------------------------------------

    def _execute_node(
        self,
        ctx: ExecutionContext,
        node: ManifestNode,
        command: str,
        results: list[RunResult],
        t0: float,
    ) -> None:
        self.events.fire("NodeCompiling", node_id=node.unique_id)
        # Spark-native query-comment (reference tags every executed statement
        # with the node/invocation id via query_header.py; the Spark analog is
        # the job group + description, which the Spark UI and event logs use
        # to attribute stages to the model that launched them — the
        # observability handle at cluster scale). The group is
        # <invocation_id>:<unique_id>, so one node's jobs can be listed
        # (statusTracker().getJobIdsForGroup). setJobGroup/setLocalProperty
        # are THREAD-local, so each worker thread tags only its own node.
        sc = ctx.spark.sparkContext
        sc.setJobGroup(
            f"{self.events.invocation_id}:{node.unique_id}",
            f"{node.unique_id} invocation_id={self.events.invocation_id}",
        )
        try:
            self._execute_node_inner(ctx, node, command, results, t0)
        finally:
            # clear so post-run driver work isn't attributed to the last node
            sc.setJobGroup("", "")
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _execute_node_inner(
        self,
        ctx: ExecutionContext,
        node: ManifestNode,
        command: str,
        results: list[RunResult],
        t0: float,
    ) -> None:
        # Microbatch models run hooks WITH the batches — pre_hook only on
        # the first batch, post_hook only on the last (task/run.py:829-833
        # blanks the other batches' hooks). The executors close over the
        # render so run_microbatch fires them at the right batch index.
        is_microbatch = (
            node.resource_type == NodeType.Model
            and node.get_materialization() == "incremental"
            and (node.config.incremental_strategy or "append") == "microbatch"
        )
        if is_microbatch:
            ctx.microbatch_hooks = {
                "pre": lambda batch=None: [
                    ctx.execute_sql(
                        self._render_hook(ctx, node, h, batch=batch),
                        node=node, artifact=False)
                    for h in node.config.pre_hook],
                "post": lambda batch=None: [
                    ctx.execute_sql(
                        self._render_hook(ctx, node, h, batch=batch),
                        node=node, artifact=False)
                    for h in node.config.post_hook],
            }
        else:
            for hook in node.config.pre_hook:
                ctx.execute_sql(self._render_hook(ctx, node, hook), node=node,
                                artifact=False)
        self.events.fire("NodeExecuting", node_id=node.unique_id)
        from dbt_spark.plans.manifest import METADATA_NODE_TYPES

        if node.resource_type in METADATA_NODE_TYPES:
            exports = node.config.meta.get("exports") or []
            if (node.resource_type == NodeType.SavedQuery
                    and ctx.include_saved_query and exports):
                # --include-saved-query: compile the saved query via the
                # metric compiler and materialize each export (the reference
                # parses exports, schema_yaml_readers.py:739, and hands
                # generation to MetricFlow; here generation is native)
                written = self._run_saved_query_exports(ctx, node, exports)
                results.append(RunResult(
                    node.unique_id, "success", time.time() - t0,
                    message=f"exports: {', '.join(written)}"))
            else:
                # NoOp leaf runners (core/dbt/runners/no_op_runner.py:11-40)
                results.append(RunResult(node.unique_id, "success", 0.0, "NO-OP"))
        elif node.resource_type == NodeType.UnitTest:
            from dbt_spark.operators.unit import run_unit_test

            status, message = run_unit_test(ctx, node)
            results.append(RunResult(node.unique_id, status, time.time() - t0, message))
            if status == "fail":
                raise TestFailure(f"unit test {node.name} failed: {message}")
        elif node.resource_type == NodeType.Test:
            tr = run_test(ctx, node)
            status = tr.status
            if status == "warn" and (
                ctx.warn_error or ctx.weo.includes("LogTestResult")
            ):
                # --warn-error / --warn-error-options {"error":
                # ["LogTestResult"]}: warn severity promotes to failure
                # (core/dbt/task/test.py:305-308)
                status = "fail"
            results.append(
                RunResult(node.unique_id, status, time.time() - t0,
                          message=f"failures={tr.failures}")
            )
            if status == "fail":
                raise TestFailure(f"test {node.name} failed with {tr.failures} failures")
        else:
            fresh_msg = self._model_freshness_skip(ctx, node)
            if fresh_msg is not None:
                results.append(RunResult(
                    node.unique_id, "success", time.time() - t0,
                    message=fresh_msg))
                if is_microbatch:
                    # no batches ran, so fire both hook sets once here
                    ctx.microbatch_hooks["pre"]()
                    ctx.microbatch_hooks["post"]()
                    ctx.microbatch_hooks = None
                else:
                    for hook in node.config.post_hook:
                        ctx.execute_sql(self._render_hook(ctx, node, hook),
                                        node=node, artifact=False)
                return
            mat = node.get_materialization()
            from dbt_spark.operators.custom_mat import (
                resolve_custom_materialization,
                run_custom_materialization,
            )

            custom_body = resolve_custom_materialization(
                ctx.manifest, mat,
                project_flags=getattr(self.project, "flags", None) or {},
                builtin_names=set(MATERIALIZATIONS),
            )
            if custom_body is not None:
                fn = (lambda c, n, _b=custom_body:
                      run_custom_materialization(c, n, _b))
            else:
                fn = MATERIALIZATIONS.get(mat)
            if fn is None:
                raise ValueError(f"{node.unique_id}: unknown materialization {mat!r}")
            from dbt_spark.operators.microbatch import MicrobatchPartialFailure

            try:
                fn(ctx, node)
            except MicrobatchPartialFailure as e:
                # Some batches written, some failed: PARTIAL SUCCESS — the
                # node's table is valid for the successful windows, so
                # descendants still run (reference RunStatus.PartialSuccess);
                # `dbt retry` replays only the failed batches.
                results.append(
                    RunResult(
                        node.unique_id, "partial success", time.time() - t0,
                        message=str(e), batch_results=e.batch_results,
                    )
                )
            else:
                results.append(RunResult(node.unique_id, "success", time.time() - t0))
            self._persist_docs(ctx, node)
            self._apply_grants(ctx, node)
        if is_microbatch:
            ctx.microbatch_hooks = None  # fired inside run_microbatch
            return
        for hook in node.config.post_hook:
            ctx.execute_sql(self._render_hook(ctx, node, hook), node=node,
                            artifact=False)

    _FRESHNESS_PERIOD_S = {"minute": 60, "hour": 3600, "day": 86400}

    def _model_freshness_skip(self, ctx: ExecutionContext,
                              node: ManifestNode) -> Optional[str]:
        """Model-level freshness gating (ModelFreshness/ModelBuildAfter —
        reference core/dbt/artifacts/resources/v1/model.py:38-52, parsed at
        core/dbt/parser/schemas.py:730-752): ``freshness.build_after`` makes
        a rebuild conditional — the model rebuilds only when BOTH
        (a) at least count×period has elapsed since its last build, and
        (b) upstream relations have actually been rebuilt since then
        (``depends_on: any`` — the default — needs one moved upstream;
        ``all`` needs every one). Otherwise the stored relation is reused
        (registered for downstream refs) and the node reports FRESH.
        --full-refresh bypasses; unknown timestamps rebuild (conservative).

        At 100 TB this is the difference between an hourly `dbt build`
        recomputing every mart vs touching only what moved — the model-side
        twin of source freshness."""
        if node.resource_type != NodeType.Model or ctx.full_refresh:
            return None
        ba = (node.config.meta.get("freshness") or {}).get("build_after") or {}
        if not ba:
            return None
        existing = ctx.store.get(ctx.schema_for(node), ctx.name_for(node))
        if existing is None:
            return None
        built = existing.meta.get("built_at")
        if built is None:
            return None
        now = time.time()
        window = int(ba.get("count", 0)) * self._FRESHNESS_PERIOD_S.get(
            str(ba.get("period", "hour")).lower(), 3600)
        if now - built < window:
            ctx.store.register(existing)
            return (f"FRESH (built {int(now - built)}s ago; "
                    f"builds after {ba.get('count')} {ba.get('period')})")
        moved = []
        for uid in node.depends_on:
            dep = ctx.manifest.nodes.get(uid)
            if dep is None or dep.resource_type not in (
                    NodeType.Model, NodeType.Seed, NodeType.Snapshot):
                # sources / non-relation deps: no build clock → rebuild
                return None
            if dep.is_ephemeral:
                return None
            # alias-aware: relations are stored under ctx.name_for (the
            # config(alias=)/generate_alias_name identifier), never the
            # bare model name
            rel = ctx.store.get(ctx.schema_for(dep), ctx.name_for(dep))
            t = rel.meta.get("built_at") if rel is not None else None
            if t is None:
                return None
            moved.append(t > built)
        if not moved:
            return None  # no upstreams: the elapsed window alone means due
        due = any(moved) if str(ba.get("depends_on", "any")).lower() == "any" \
            else all(moved)
        if due:
            return None
        ctx.store.register(existing)
        return "FRESH (no upstream rebuilds since last build)"

    # -- semantic layer execution (metric compiler, plans/metric_compile.py) --

    def _semantic_inputs(self, ctx: ExecutionContext):
        """Collect metric + semantic-model nodes and resolve each semantic
        model's underlying ref() to a registered SQL identifier."""
        import re as _re

        manifest = ctx.manifest
        metrics = [n for n in manifest.nodes.values()
                   if n.resource_type == NodeType.Metric]
        sms = [n for n in manifest.nodes.values()
               if n.resource_type == NodeType.SemanticModel]
        table_for_model: dict[str, str] = {}
        for sm in sms:
            model_str = str(sm.config.meta.get("model", ""))
            m = _re.search(r"ref\(\s*['\"]([^'\"]+)['\"]\s*\)", model_str)
            rname = m.group(1) if m else model_str
            target = manifest.ref_lookup(rname, None)
            if target is not None:
                table_for_model[rname] = ctx.resolve_ref(target)
        # user-declared time-spine models (model-level time_spine: config,
        # reference v1/model.py:26-35): register each spine's table and
        # carry its declaration to the metric compiler; the standard
        # column's grain comes from the column-level `granularity:` key
        time_spines: list[dict] = []
        for n in manifest.nodes.values():
            if n.resource_type != NodeType.Model:
                continue
            ts = n.config.meta.get("time_spine")
            if not ts:
                continue
            std = ts.get("standard_granularity_column")
            col = n.columns.get(std) or {}
            time_spines.append({
                "model": n.name,
                "standard_granularity_column": std,
                "granularity": col.get("granularity") or "day",
                "custom_granularities":
                    ts.get("custom_granularities") or [],
            })
            table_for_model.setdefault(n.name, ctx.resolve_ref(n))
        if not time_spines:
            # legacy fallback (reference contracts/graph/
            # semantic_manifest.py:196-227): a model named
            # `metricflow_time_spine` with a day-grain `date_day` column
            # serves as the project's spine when no time_spine: config is
            # declared
            legacy = manifest.ref_lookup("metricflow_time_spine", None)
            if legacy is not None:
                time_spines.append({
                    "model": legacy.name,
                    "standard_granularity_column": "date_day",
                    "granularity": "day",
                    "custom_granularities": [],
                })
                table_for_model.setdefault(
                    legacy.name, ctx.resolve_ref(legacy))
        return metrics, sms, table_for_model, time_spines

    def _run_saved_query_exports(self, ctx: ExecutionContext,
                                 node: ManifestNode,
                                 exports: list) -> list[str]:
        from dbt_spark.plans.metric_compile import compile_saved_query

        metrics, sms, tables, spines = self._semantic_inputs(ctx)
        sql = compile_saved_query(node, metrics, sms, tables,
                                  time_spines=spines)
        # saved-query-level config (SavedQueryConfig,
        # v1/saved_query.py:59-79): export_as / schema act as DEFAULTS for
        # exports that do not set their own; cache.enabled materializes the
        # compiled result ONCE (Spark persist) and writes every table
        # export from the cached relation instead of re-running the query.
        # The YAML config: block merges into NodeConfig — schema is a real
        # config field, export_as/cache land in config.meta
        default_as = node.config.meta.get("export_as")
        default_schema = node.config.schema
        cache_enabled = bool(
            (node.config.meta.get("cache") or {}).get("enabled"))
        df = None
        written = []
        try:
            for exp in exports:
                exp_name = exp["name"] if isinstance(exp, dict) else str(exp)
                exp_cfg = (exp.get("config") or {}) if isinstance(exp, dict) else {}
                # lowercase: validation accepts any casing ('VIEW'), the
                # dispatch below must agree
                kind = str(exp_cfg.get("export_as") or default_as
                           or "table").lower()
                # ExportConfig.alias / schema_name (v1/saved_query.py:24-30):
                # the physical identifier when set, else the export's name
                exp_name = exp_cfg.get("alias") or exp_name
                schema = (exp_cfg.get("schema") or exp_cfg.get("schema_name")
                          or default_schema or ctx.schema)
                if kind == "view":
                    ctx.store.save_view(schema, exp_name, sql)
                else:
                    if df is None:
                        ctx.store.ensure_registered_for(sql)
                        df = ctx.spark.sql(sql)
                        if cache_enabled:
                            df = df.persist()
                    ctx.store.write_table(schema, exp_name, df, kind="table")
                written.append(f"{schema}.{exp_name}")
        finally:
            if df is not None and cache_enabled:
                df.unpersist()
        return written

    def query_metrics(self, metric_names: list[str],
                      group_by: Optional[list[str]] = None,
                      where: Optional[str] = None,
                      order_by: Optional[list[str]] = None,
                      limit: Optional[int] = None):
        """Programmatic metric query (the `dbt sl query` shape): compile the
        requested metrics against the parsed project and return the result
        DataFrame. Referenced models must already be built."""
        from dbt_spark.plans.metric_compile import compile_metrics_sql

        manifest = self.manifest or self.parse()
        ctx = ExecutionContext(
            spark=self.spark, store=self.store, manifest=manifest,
            project=self.project, vars=self.vars,
        )
        metrics, sms, tables, spines = self._semantic_inputs(ctx)
        sql = compile_metrics_sql(
            metric_names, metrics, sms, tables,
            group_by=group_by, where=where, order_by=order_by, limit=limit,
            time_spines=spines,
        )
        self.store.ensure_registered_for(sql)
        return self.spark.sql(sql)

    def _render_hook(self, ctx: ExecutionContext, node: ManifestNode,
                     hook: str, batch=None) -> str:
        from dbt_spark.plans.compile import runtime_render

        hook_node = ManifestNode(
            unique_id=f"operation.{node.unique_id}",
            name=node.name,
            package_name=node.package_name,
            path=node.path,
            resource_type=NodeType.Operation,
            raw_code=hook,
        )
        return runtime_render(
            hook_node,
            ctx.manifest,
            resolve_ref=ctx.resolve_ref,
            resolve_source=ctx.resolve_source,
            this_name=ctx.identifier_for(node),
            is_incremental=False,
            full_refresh=ctx.full_refresh,
            var_overrides={**ctx.project.vars, **ctx.vars},
            target=dict(ctx.project.profile),
            # microbatch first/last-batch hooks see {{ model.batch }} like
            # the reference's batch runner (hooks compile on the node copy
            # whose .batch is set, task/run.py:354,829-833)
            batch=batch,
        )

    def _persist_docs(self, ctx: ExecutionContext, node: ManifestNode) -> None:
        """config(persist_docs={relation: true, columns: true}): write the
        node/column descriptions into the warehouse itself (reference
        persist_docs config — adapters run COMMENT ON; here the durable
        catalog is _catalog.json, and catalog-backed bucketed tables also get
        a real TBLPROPERTIES comment so SHOW TBLPROPERTIES surfaces it)."""
        pd_cfg = node.config.meta.get("persist_docs") or {}
        if not isinstance(pd_cfg, dict) or not pd_cfg:
            return
        rel = self.store.get(ctx.schema_for(node), ctx.name_for(node))
        if rel is None:
            return
        changed = False
        if pd_cfg.get("relation") and node.description:
            rel.meta["doc_comment"] = node.description
            changed = True
            if rel.meta.get("buckets"):
                comment = node.description.replace("'", "''")
                ctx.spark.sql(
                    f"COMMENT ON TABLE {rel.identifier} IS '{comment}'")
        if pd_cfg.get("columns") and node.columns:
            cols = {
                name: str(spec.get("description", ""))
                for name, spec in node.columns.items()
                if spec.get("description")
            }
            if cols:
                rel.meta["doc_columns"] = cols
                changed = True
        if changed:
            with self.store._lock:
                self.store._save_state()

    def _apply_grants(self, ctx: ExecutionContext, node: ManifestNode) -> None:
        """config(grants={'select': ['user_a', ...]}): the reference
        standardizes the grants dict and issues GRANT/REVOKE per privilege
        (adapter standardize_grants_dict / apply_grants). OSS local Spark has
        no ACL store, so the engine RECORDS the standardized grants in the
        durable catalog (the enforcement point at scale is the deployment's
        Ranger/Unity layer, which reads exactly this shape) and exposes them
        in manifest/catalog artifacts."""
        grants = node.config.meta.get("grants")
        if not isinstance(grants, dict) or not grants:
            return
        rel = self.store.get(ctx.schema_for(node), ctx.name_for(node))
        if rel is None:
            return
        std = {
            str(priv).lower(): sorted(
                [g] if isinstance(g, str) else [str(x) for x in g])
            for priv, g in grants.items()
        }
        rel.meta["grants"] = std
        with self.store._lock:
            self.store._save_state()

    def _run_hooks(
        self, ctx: ExecutionContext, hooks: list[str], phase: str,
        results: Optional[list] = None,
    ) -> None:
        """Project-level hooks render through the FULL jinja context before
        executing (reference safe_run_hooks, core/dbt/task/runnable.py:
        on-run-start/end are compiled as operation nodes); on-run-end
        additionally exposes ``results`` (the invocation's run results — the
        audit-table staple) and ``schemas``/``database_schemas``
        (core/dbt/context/providers.py on-run-end context)."""
        if not hooks:
            return
        from dbt_spark.plans.compile import runtime_render

        extra: dict = {"invocation_id": self.events.invocation_id}
        if phase == "on-run-end":
            rows = [
                {"unique_id": r.unique_id, "status": r.status,
                 "message": r.message,
                 "execution_time": r.execution_time}
                for r in (results or [])
            ]
            schemas = sorted({
                ctx.schema_for(ctx.manifest.nodes[u])
                for u in ctx.selected if u in ctx.manifest.nodes
            }) or [ctx.schema]
            extra.update(results=rows, schemas=schemas,
                         database_schemas=[(None, s) for s in schemas])
        for hook in hooks:
            hook_node = ManifestNode(
                unique_id=f"operation.{self.project.name}.{phase}",
                name=phase, package_name=self.project.name, path=phase,
                resource_type=NodeType.Operation, raw_code=hook,
            )
            try:
                sql = runtime_render(
                    hook_node, ctx.manifest,
                    resolve_ref=ctx.resolve_ref,
                    resolve_source=ctx.resolve_source,
                    this_name=phase, is_incremental=False,
                    full_refresh=ctx.full_refresh,
                    var_overrides={**ctx.project.vars, **ctx.vars},
                    target=dict(ctx.project.profile),
                    extra=extra,
                )
                ctx.execute_sql(sql, node=hook_node, artifact=False)
            except Exception as e:  # noqa: BLE001
                raise RuntimeError(f"{phase} hook failed: {e}") from e

    def _compile_only(
        self, ctx: ExecutionContext, manifest: Manifest, runnable: set[str]
    ) -> RunnerResult:
        from dbt_spark.operators.materialize import compile_sql

        results = []
        target_dir = os.path.join(self.project.target_path, "compiled")
        for uid in sorted(runnable):
            node = manifest.nodes[uid]
            if node.language != "sql" or node.test_metadata:
                continue
            try:
                # compile without requiring upstream relations to exist
                sql = compile_sql_lenient(ctx, node)
                node.compiled_code = sql
                out = os.path.join(target_dir, node.path)
                os.makedirs(os.path.dirname(out), exist_ok=True)
                with open(out, "w") as f:
                    f.write(sql)
                results.append(RunResult(uid, "success", 0.0))
            except Exception as e:  # noqa: BLE001
                results.append(RunResult(uid, "error", 0.0, message=str(e)))
        ok = all(r.status == "success" for r in results)
        return RunnerResult(success=ok, results=results, manifest=manifest)

    def _write_run_results(
        self, results: list[RunResult], success: bool, command: str = "run"
    ) -> None:
        target_dir = self.project.target_path
        os.makedirs(target_dir, exist_ok=True)
        # v5-strict shape (validated against the reference's published schema
        # /root/reference/schemas/dbt/run-results/v5.json in
        # tests/test_artifacts.py): results/metadata allow no extra keys, so
        # engine-internal extras (overall success, microbatch batch_results
        # for retry) live under the free-form `args` object.
        payload = {
            "metadata": {
                "dbt_schema_version": "https://schemas.getdbt.com/dbt/run-results/v5.json",
                "dbt_version": "1.10.0",
                "generated_at": datetime.now(timezone.utc).isoformat(),
                "invocation_id": self.events.invocation_id,
                "env": {},
            },
            "args": {
                "command": command,
                "success": success,
                "batch_results": {
                    r.unique_id: r.batch_results for r in results if r.batch_results
                },
            },
            "elapsed_time": round(sum(r.execution_time for r in results), 4),
            "results": [],
        }
        for r in results:
            # compute code/relation ONCE per result: _materialized_relation
            # walks the warehouse dir + parquet footers, so the previous
            # per-field recompute paid that twice
            code = self._compiled_code(r)
            rel = self._materialized_relation(r)
            payload["results"].append(
                {
                    "unique_id": r.unique_id,
                    "status": r.status,
                    "execution_time": round(r.execution_time, 4),
                    "message": r.message,
                    "thread_id": r.thread_id,
                    "adapter_response": self._adapter_response(r, rel),
                    "failures": None,
                    # reference emits a real boolean (run_results v5)
                    "compiled": code is not None,
                    "compiled_code": code,
                    "relation_name": (f"{rel.schema}.{rel.name}"
                                      if rel is not None else None),
                    "timing": (
                        [{"name": "execute", "started_at": r.started_at,
                          "completed_at": r.completed_at}]
                        if r.started_at else []
                    ),
                }
            )
        with open(os.path.join(target_dir, "run_results.json"), "w") as f:
            json.dump(payload, f, indent=1)

    def _materialized_relation(self, r: RunResult):
        """The relation a successful model/seed/snapshot result produced."""
        if r.status not in ("success", "pass") or "." not in r.unique_id:
            return None
        kind, _, rest = r.unique_id.partition(".")
        if kind not in ("model", "seed", "snapshot"):
            return None
        name = rest.rsplit(".", 1)[-1]
        node = (self.manifest.nodes.get(r.unique_id)
                if self.manifest is not None else None)
        if node is not None and node.config.meta.get("alias"):
            name = str(node.config.meta["alias"])
        schema = (node.config.schema if node and node.config.schema
                  else self.project.profile.get("schema", "main"))
        return self.store.get(schema, name)

    def _compiled_code(self, r: RunResult) -> Optional[str]:
        node = (self.manifest.nodes.get(r.unique_id)
                if self.manifest is not None else None)
        return node.compiled_code if node is not None else None

    def _adapter_response(self, r: RunResult, rel=None) -> dict:
        """Physical-write observability (the reference's adapter_response:
        rows_affected + adapter message). Bytes/files come from a driver-side
        walk (no Spark job); row counts from parquet footers via pyarrow —
        metadata reads only, never a data scan."""
        if rel is None:
            rel = self._materialized_relation(r)
        if rel is None or not rel.path or not os.path.isdir(rel.path):
            return {}
        n_files, n_bytes, n_rows = 0, 0, 0
        rows_known = True
        for dirpath, _dirs, files in os.walk(rel.path):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, fn)
                n_files += 1
                try:
                    n_bytes += os.path.getsize(full)
                except OSError:
                    pass
                if fn.endswith(".parquet"):
                    try:
                        import pyarrow.parquet as pq

                        n_rows += pq.ParquetFile(full).metadata.num_rows
                    except Exception:  # noqa: BLE001 - footer read best-effort
                        rows_known = False
                else:
                    rows_known = False
        out: dict = {"_message": "OK", "bytes_processed": n_bytes,
                     "files": n_files}
        if rows_known:
            out["rows_affected"] = n_rows
        return out


def _sample_window(spec: str, now: Optional[datetime]) -> tuple[str, str]:
    """Parse ``--sample '3 days'`` into a trailing [now - N grain, now) event-time
    window applied to every event_time-configured ref/source.

    Reference: core/dbt/event_time/sample_window.py:14-60 (relative window
    parsing) + providers.py:269-287 (filter merge into input scans).
    """
    import re as _re
    from datetime import timedelta

    m = _re.fullmatch(r"\s*(\d+)\s+(hour|day|month|year)s?\s*", spec)
    if not m:
        raise ValueError(
            f"--sample {spec!r}: expected '<n> <hour|day|month|year>[s]'"
        )
    n, grain = int(m.group(1)), m.group(2)
    end = now or datetime.utcnow()
    if grain == "hour":
        start = end - timedelta(hours=n)
    elif grain == "day":
        start = end - timedelta(days=n)
    elif grain == "month":
        start = end - timedelta(days=30 * n)
    else:
        start = end - timedelta(days=365 * n)
    fmt = "%Y-%m-%d %H:%M:%S"
    return (start.strftime(fmt), end.strftime(fmt))


def compile_sql_lenient(ctx: ExecutionContext, node: ManifestNode) -> str:
    """Compile-time ref resolution that doesn't require built relations:
    refs render to their would-be identifiers, and ephemeral refs inline as
    ``WITH __dbt__cte__<name>`` clauses (target/compiled parity with
    core/dbt/compilation.py:493-583 _recursively_prepend_ctes; prefix
    add_ephemeral_prefix :488-491)."""
    from dbt_spark.plans.compile import runtime_render

    ctes: dict[str, str] = {}  # name -> compiled body, dependency-ordered
    visiting: set[str] = set()

    def render_one(n: ManifestNode) -> str:
        def resolve_ref(dep: ManifestNode) -> str:
            if dep.is_ephemeral:
                if dep.name not in ctes and dep.name not in visiting:
                    visiting.add(dep.name)
                    # render FIRST so transitive CTEs insert before this one
                    body = render_one(dep)
                    ctes[dep.name] = body
                return f"__dbt__cte__{dep.name}"
            return ctx.identifier_for(dep)

        return runtime_render(
            n,
            ctx.manifest,
            resolve_ref=resolve_ref,
            resolve_source=lambda s: f"src__{s.source_name}__{s.name}",
            this_name=ctx.identifier_for(n),
            is_incremental=False,
            full_refresh=ctx.full_refresh,
            var_overrides={**ctx.project.vars, **ctx.vars},
            target=dict(ctx.project.profile),
        ).strip().rstrip(";")

    sql = render_one(node)
    if not ctes:
        return sql
    cte_clause = ",\n".join(
        f"__dbt__cte__{name} as (\n{body}\n)" for name, body in ctes.items()
    )
    stripped = sql.lstrip()
    if stripped[:4].lower() == "with":
        # merge with the model's own WITH clause
        return f"with {cte_clause},\n{stripped[4:].lstrip()}"
    return f"with {cte_clause}\n{sql}"


def _ls_render(manifest, uid: str, output: str, keys: list[str]) -> str:
    """`ls --output` formats (reference task/list.py:27-212: generate_names /
    _paths / _fqns / _json / _selectors + --output-keys filtering). The
    rendered form rides in RunResult.message; unique_id stays canonical."""
    node = manifest.nodes.get(uid) or manifest.sources.get(uid)
    if node is None:
        return uid
    fqn = ".".join(node.fqn or [node.package_name, node.name])
    if output == "name":
        return node.name
    if output == "path":
        return node.path
    if output == "fqn":
        return fqn
    if output == "json":
        d = {
            "name": node.name,
            "resource_type": node.resource_type.value,
            "package_name": node.package_name,
            "unique_id": uid,
            "original_file_path": node.path,
            "tags": list(node.config.tags),
            "config": {
                k: v for k, v in node.config.__dict__.items()
                if v not in (None, [], {})
            },
        }
        if keys:
            d = {k: d.get(k) for k in keys}
        return json.dumps(d, default=str, sort_keys=True)
    # default "selector": a string you can feed back to --select
    if node.resource_type == NodeType.Source:
        return f"source:{node.source_name}.{node.name}"
    return fqn


def invoke(project_dir: str, args: list[str], **kwargs: Any) -> RunnerResult:
    """One-shot convenience: Engine(project_dir).invoke(args)."""
    return Engine(project_dir, **{k: v for k, v in kwargs.items()
                                  if k in ("spark", "profile", "vars")}).invoke(args)
