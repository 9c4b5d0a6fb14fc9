"""Jinja compilation with the reference's two-phase render semantics.

Phase 1 (parse): render with ``execute=False``; ``ref``/``source``/``config``
calls are *captured* (dependencies + config) and return placeholder names —
mirrors core/dbt/context/providers.py:1215-1275 (execute flag) and the parse-time
resolvers (providers.py:576-673, 718-748, 414-527).

Phase 2 (runtime): render with ``execute=True``; ``ref``/``source`` resolve to
actual Spark relation identifiers (temp views registered over the warehouse),
``is_incremental()`` reflects relation existence (core/dbt/task/run.py:667-684).

Jinja is retained verbatim (SURVEY.md §2C) — it templates Spark SQL strings
exactly as it templates warehouse SQL in the reference.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from datetime import datetime, timezone
from typing import Any, Callable, Optional

import jinja2

from dbt_spark.plans.manifest import Manifest, ManifestNode


class CompilationError(Exception):
    pass


#: engine version surfaced as ``dbt_version`` (reference pins its own
#: version the same way: core/dbt/context/base.py:215-233)
DBT_VERSION = "1.10.0-spark"

#: one id per process/invocation (base.py invocation_id contextproperty)
_INVOCATION_ID: str = __import__("uuid").uuid4().hex

#: when set (by the partial-parse flow), every env_var() read during
#: rendering records ``name -> os.environ value (or None)`` so the cache
#: can be invalidated when the environment changes between invocations
#: (reference tracks per-file env vars and reparses them:
#: core/dbt/parser/manifest.py:854-975 validity gates; here the gate is
#: coarser — any tracked env var changing cold-starts the whole cache,
#: which over-invalidates but never goes stale)
ENV_VAR_TRACKER: "Optional[dict[str, Optional[str]]]" = None


def _base_context(var_overrides: dict, target: dict) -> dict[str, Any]:
    """Context members from core/dbt/context/base.py (§2C table)."""
    import itertools
    import threading
    from datetime import datetime as _dt
    from types import SimpleNamespace

    import re as _re

    def env_var(name: str, default: Any = None) -> Any:
        if name.startswith("DBT_ENV_SECRET_"):
            # secrets are banned from model/macro rendering so they can never
            # land in compiled SQL or logs (reference secret redaction,
            # providers.py:1510-1556)
            raise CompilationError(
                f"env_var {name!r}: DBT_ENV_SECRET_ variables are only usable "
                "in profiles/packages rendering, never in models"
            )
        if ENV_VAR_TRACKER is not None:
            ENV_VAR_TRACKER[name] = os.environ.get(name)
        val = os.environ.get(name, default)
        if val is None:
            raise CompilationError(f"env_var '{name}' not set and no default provided")
        return val

    def var(name: str, default: Any = None) -> Any:
        if name in var_overrides:
            return var_overrides[name]
        if default is not None:
            return default
        raise CompilationError(f"var '{name}' is undefined")

    # set/zip are lenient (return default on non-iterable); *_strict raise —
    # base.py:473-556
    def _set(it: Any, default: Any = None) -> Any:
        try:
            return set(it)
        except TypeError:
            return default

    def set_strict(it: Any) -> set:
        try:
            return set(it)
        except TypeError as e:
            raise CompilationError(f"set_strict: {e}") from e

    def _zip(*its: Any) -> Any:
        default = None
        try:
            return list(zip(*its))
        except TypeError:
            return default

    def zip_strict(*its: Any) -> list:
        try:
            return list(zip(*its))
        except TypeError as e:
            raise CompilationError(f"zip_strict: {e}") from e

    # toyaml/fromyaml (base.py:373-471)
    import yaml as _yaml

    def toyaml(value: Any, default: Any = None, sort_keys: bool = False) -> Any:
        try:
            return _yaml.safe_dump(value, sort_keys=sort_keys)
        except (_yaml.YAMLError, TypeError):
            return default

    def fromyaml(value: str, default: Any = None) -> Any:
        try:
            return _yaml.safe_load(value)
        except _yaml.YAMLError:
            return default

    modules = {"datetime": _dt, "re": _re, "itertools": itertools}
    try:  # modules.pytz (base.py:631-654) — gated, pytz may be absent
        import pytz as _pytz

        modules["pytz"] = _pytz
    except ImportError:
        pass

    return {
        "env_var": env_var,
        "var": var,
        "target": target,
        "tojson": lambda v, default=None: json.dumps(v, default=str),
        "fromjson": lambda s, default=None: json.loads(s),
        "toyaml": toyaml,
        "fromyaml": fromyaml,
        "local_md5": lambda s: hashlib.md5(str(s).encode()).hexdigest(),
        "log": lambda msg, info=False: "",
        "print": lambda msg: "",
        "set": _set,
        "set_strict": set_strict,
        "zip": _zip,
        "zip_strict": zip_strict,
        "run_started_at": datetime.now(timezone.utc),
        "invocation_id": _INVOCATION_ID,
        "thread_id": threading.current_thread().name,
        "dbt_version": DBT_VERSION,
        # flags namespace (base.py:215-233); runtime_render overrides
        # FULL_REFRESH/WHICH with the invocation's actual values
        "flags": SimpleNamespace(FULL_REFRESH=False, WHICH=None, STORE_FAILURES=False),
        "modules": modules,
        # write(payload) returns "" (the engine persists compiled SQL
        # itself); try_or_compiler_error wraps a call. `render` is rebound to
        # the LIVE context by parse_render/runtime_render below.
        "write": lambda payload: "",
        "try_or_compiler_error": _try_or_compiler_error,
        "exceptions": type(
            "exceptions",
            (),
            {
                "raise_compiler_error": staticmethod(
                    lambda msg, node=None: (_ for _ in ()).throw(CompilationError(msg))
                ),
                "warn": staticmethod(lambda msg: msg),
            },
        ),
    }


def _try_or_compiler_error(message_if_exception: str, func: Any, *args: Any, **kwargs: Any) -> Any:
    """providers.py try_or_compiler_error: call func, surface failures as
    compiler errors with the caller's message."""
    try:
        return func(*args, **kwargs)
    except Exception:  # noqa: BLE001
        raise CompilationError(str(message_if_exception))


# the reference's jinja env enables do/loopcontrols
# (core/dbt/clients/jinja.py get_environment)
_ENV = jinja2.Environment(
    undefined=jinja2.Undefined,
    keep_trailing_newline=True,
    extensions=["jinja2.ext.do", "jinja2.ext.loopcontrols"],
)


def parse_render(
    raw_code: str,
    node_name: str,
    var_overrides: Optional[dict] = None,
    target: Optional[dict] = None,
    macros: Optional[dict[str, str]] = None,
    dispatch_meta: Optional[dict] = None,
) -> tuple[str, list[tuple], list[tuple[str, str]], dict]:
    """Phase-1 render: returns (rendered_sql, refs, sources, config_calls)."""
    refs: list[tuple] = []
    sources: list[tuple[str, str]] = []
    config_calls: dict[str, Any] = {}

    def ref(*args: str, **kwargs: Any) -> str:
        version = kwargs.get("version", kwargs.get("v"))
        name = args[-1] if args else ""
        if version is not None:
            # versioned ref: resolves to the node parsed from <name>_v<k>.sql
            # (ref(name, version=) surface, providers.py:576-673)
            name = f"{name}_v{version}"
        if len(args) == 1:
            refs.append((None, name))
        elif len(args) == 2:
            refs.append((args[0], name))
        else:
            raise CompilationError(f"ref() takes 1-2 args, got {len(args)}")
        return f"__ref__{name}"

    def source(source_name: str, table_name: str) -> str:
        sources.append((source_name, table_name))
        return f"__source__{source_name}__{table_name}"

    class _Config:
        def __call__(self, *args: Any, **kwargs: Any) -> str:
            config_calls.update(kwargs)
            return ""

        @staticmethod
        def get(name: str, default: Any = None) -> Any:
            return config_calls.get(name, default)

        @staticmethod
        def require(name: str) -> Any:
            if name not in config_calls:
                raise CompilationError(f"config.require('{name}') not set")
            return config_calls[name]

    ctx = _base_context(var_overrides or {}, target or {})
    ctx.update(
        {
            "ref": ref,
            "source": source,
            "config": _Config(),
            "this": f"__this__{node_name}",
            "execute": False,
            "is_incremental": lambda: False,
            "should_full_refresh": lambda: False,
            # parse-phase model: name only, batch always None (the batch
            # context exists only while a microbatch batch compiles)
            "model": {"name": node_name, "unique_id": f"model.{node_name}",
                      "batch": None},
            "adapter": _ParseAdapter(),
            # parse-phase graph is empty (the reference populates it only at
            # execute time; macros guard with `if execute`)
            "graph": type("graph", (), {"nodes": {}, "sources": {}})(),
            # run_query returns None at parse time (execute=False guard idiom,
            # providers.py:1215-1275)
            "run_query": lambda sql: None,
            "store_result": lambda name, response=None, agate_table=None: "",
            "store_raw_result": lambda name, *a, **k: "",
            "load_result": lambda name: None,
        }
    )
    ctx["render"] = lambda s: _ENV.from_string(str(s)).render(**ctx)
    _bind_macros(ctx, macros, dispatch_meta)
    try:
        rendered = _ENV.from_string(raw_code).render(**ctx)
    except jinja2.TemplateError as e:
        raise CompilationError(f"jinja error in {node_name}: {e}") from e
    return rendered, refs, sources, config_calls


def _bind_macros(
    ctx: dict,
    macros: Optional[dict[str, str]],
    dispatch_meta: Optional[dict] = None,
) -> None:
    """Make project macros + adapter.dispatch callable inside the render.

    ``dispatch_meta`` carries the project-level ``dispatch:`` config, the
    root project name, and installed package names so dispatch honors
    ``macro_namespace`` search order (providers.py:126-224)."""
    if not macros:
        return
    from dbt_spark.plans.macros import MacroNamespace, make_dispatcher

    bound = MacroNamespace(_ENV, macros).bind(ctx)
    # don't let a macro shadow core context members
    ctx.update({k: v for k, v in bound.items() if k not in ctx})
    adapter = ctx.get("adapter")
    if adapter is not None:
        meta = dispatch_meta or {}
        adapter.dispatch = make_dispatcher(
            bound,
            dispatch_config=meta.get("config"),
            root_project=meta.get("root_project"),
            dependencies=meta.get("dependencies"),
        )


class _LazyGraph:
    """The ``graph`` context member (base.py:590-629): read-only manifest
    introspection — graph.nodes/sources values carry the fields package macros
    filter on (``selectattr`` over resource_type/tags/config). Built lazily on
    first access so plain renders pay nothing."""

    def __init__(self, manifest: Manifest) -> None:
        self._manifest = manifest
        self._nodes: Optional[dict] = None
        self._sources: Optional[dict] = None

    @staticmethod
    def _node_dict(n: ManifestNode) -> dict:
        return {
            "unique_id": n.unique_id,
            "name": n.name,
            "resource_type": getattr(n.resource_type, "value", str(n.resource_type)),
            "package_name": n.package_name,
            "path": n.path,
            "tags": list(n.config.tags),
            "config": {
                "enabled": n.config.enabled,
                "materialized": n.config.materialized,
                "tags": list(n.config.tags),
                "meta": dict(n.config.meta),
            },
            "depends_on": {"nodes": list(n.depends_on)},
            "source_name": n.source_name,
        }

    @property
    def nodes(self) -> dict:
        if self._nodes is None:
            self._nodes = {
                uid: self._node_dict(n) for uid, n in self._manifest.nodes.items()
            }
        return self._nodes

    @property
    def sources(self) -> dict:
        if self._sources is None:
            self._sources = {
                uid: self._node_dict(n) for uid, n in self._manifest.sources.items()
            }
        return self._sources


class _ParseAdapter:
    """Parse-phase adapter stub: dispatch/get_relation return inert values."""

    def dispatch(self, name: str, macro_namespace: Optional[str] = None) -> Callable:
        return lambda *a, **k: ""

    def get_relation(self, *a: Any, **k: Any) -> None:
        return None

    def quote(self, identifier: str) -> str:
        return f"`{identifier}`"


def runtime_render(
    node: ManifestNode,
    manifest: Manifest,
    resolve_ref: Callable[[ManifestNode], str],
    resolve_source: Callable[[ManifestNode], str],
    this_name: str,
    is_incremental: bool,
    full_refresh: bool,
    var_overrides: Optional[dict] = None,
    target: Optional[dict] = None,
    extra: Optional[dict] = None,
    macros: Optional[dict[str, str]] = None,
    run_query: Optional[Callable[[str], Any]] = None,
    batch: Optional[Any] = None,
) -> str:
    """Phase-2 render: refs/sources resolve to executable Spark relation names."""

    def ref(*args: str, **kwargs: Any) -> str:
        package, name = (None, args[0]) if len(args) == 1 else (args[0], args[1])
        version = kwargs.get("version", kwargs.get("v"))
        if version is not None:
            name = f"{name}_v{version}"
        found = manifest.ref_lookup(name, package)
        if found is None:
            raise CompilationError(f"{node.unique_id}: ref('{name}') not found")
        return resolve_ref(found)

    def source(source_name: str, table_name: str) -> str:
        found = manifest.source_lookup(source_name, table_name)
        if found is None:
            raise CompilationError(
                f"{node.unique_id}: source('{source_name}', '{table_name}') not found"
            )
        return resolve_source(found)

    class _Config:
        def __call__(self, *args: Any, **kwargs: Any) -> str:
            return ""

        @staticmethod
        def get(name: str, default: Any = None) -> Any:
            val = getattr(node.config, name, None)
            if val is None:
                val = node.config.meta.get(name, default)
            return default if val is None else val

        @staticmethod
        def require(name: str) -> Any:
            val = _Config.get(name)
            if val is None:
                raise CompilationError(f"config.require('{name}') not set")
            return val

    # STATIC fast path: when the static parser proves the template contains
    # nothing but {{ ref(...) }} / {{ source(...) }} / {{ config(...) }}
    # calls with constant arguments (the overwhelmingly common model shape),
    # the render needs exactly those three names — the full context build
    # plus _bind_macros (one wrapper per project macro, per node) was ~20%
    # of the engine's per-node cost at 2,000-model scale and provably
    # unreachable from such a template. Any other construct (a bare name
    # like {{ this }}, a block, a macro call) fails static_extract and
    # takes the full-context render below. The static parser mode applies
    # as at parse time (static_parser.extract_or_render): ``off`` always
    # renders in full, ``sample`` renders both ways and raises on a mismatch.
    from dbt_spark.plans.static_parser import parser_mode, static_render_parts

    mode = parser_mode((extra or {}).get("project_flags"))
    plan = static_render_parts(node.raw_code) if mode != "off" else None
    static_sql = None
    if plan is not None:
        out: list[str] = []
        for part in plan:
            if isinstance(part, str):
                out.append(part)
            elif part[0] == "ref":
                out.append(ref(part[2]) if part[1] is None
                           else ref(part[1], part[2]))
            elif part[0] == "source":
                out.append(source(part[1], part[2]))
            else:  # ("config",) renders as the runtime config() hook: ""
                out.append("")
        static_sql = "".join(out)
        if mode == "on":
            return static_sql

    from dbt_spark.plans.macros import RelationProxy

    results_store: dict[str, Any] = {}

    def store_result(name: str, response: Any = None, agate_table: Any = None) -> str:
        results_store[name] = agate_table if agate_table is not None else response
        return ""

    def load_result(name: str) -> Any:
        return results_store.get(name)

    ctx = _base_context(var_overrides or {}, target or {})
    ctx["flags"].FULL_REFRESH = full_refresh
    ctx["flags"].WHICH = (extra or {}).get("which")
    # dbt_project.yml flags: surface as UPPERCASE attrs, like the
    # reference's {{ flags }} (core/dbt/context/base.py flags property)
    for _fk, _fv in ((extra or {}).get("project_flags") or {}).items():
        setattr(ctx["flags"], str(_fk).upper(), _fv)
    ctx["graph"] = _LazyGraph(manifest)
    ctx.update(
        {
            "ref": ref,
            "source": source,
            "config": _Config(),
            "this": RelationProxy(this_name, name=node.name),
            "execute": True,
            "is_incremental": lambda: is_incremental,
            "should_full_refresh": lambda: full_refresh,
            # model.batch is populated (a BatchContext with id /
            # event_time_start / event_time_end) only while a microbatch
            # batch is compiling — core/dbt/contracts/graph/nodes.py:448-470
            # (BatchContext) set at core/dbt/task/run.py:354; None otherwise
            "model": {"name": node.name, "unique_id": node.unique_id,
                      "batch": batch},
            "adapter": _ParseAdapter(),
            "run_query": run_query or (lambda sql: None),
            "store_result": store_result,
            "store_raw_result": store_result,
            "load_result": load_result,
        }
    )
    ctx.update(extra or {})
    # render(string): evaluate a jinja string in the CURRENT context
    # (providers.py:1046-1080) — closure over ctx sees every member above
    ctx["render"] = lambda s: _ENV.from_string(str(s)).render(**ctx)
    _bind_macros(
        ctx,
        macros if macros is not None else manifest.macros,
        {
            "config": manifest.dispatch_config,
            "root_project": manifest.project_name,
            "dependencies": manifest.dependencies,
        },
    )
    try:
        rendered = _ENV.from_string(node.raw_code).render(**ctx)
    except jinja2.TemplateError as e:
        raise CompilationError(f"jinja error in {node.unique_id}: {e}") from e
    if static_sql is not None and static_sql != rendered:
        raise AssertionError(
            f"static render disagreement on {node.unique_id}: "
            f"static={static_sql!r} rendered={rendered!r}")
    return rendered


_CONFIG_BLOCK_RE = re.compile(r"{{\s*config\s*\(", re.DOTALL)


def has_config_call(raw_code: str) -> bool:
    return bool(_CONFIG_BLOCK_RE.search(raw_code))
