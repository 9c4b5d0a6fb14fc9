"""view / table / ephemeral materializations + the shared ExecutionContext.

Reference semantics: view = CREATE OR REPLACE VIEW (SURVEY §2A, dispatch
task/run.py:305-310); table = CTAS with atomic swap; ephemeral = never
materialized, inlined into consumers (core/dbt/compilation.py:493-583) — here
inlining is a registered temp view, which Catalyst folds into the consumer's
plan exactly like a CTE.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from dbt_spark.catalog import Relation, RelationStore
from dbt_spark.plans.compile import runtime_render
from dbt_spark.plans.manifest import Manifest, ManifestNode, NodeType
from dbt_spark.project import Project


@dataclass
class ExecutionContext:
    spark: SparkSession
    store: RelationStore
    manifest: Manifest
    project: Project
    full_refresh: bool = False
    vars: dict[str, Any] = field(default_factory=dict)
    event_time_filters: dict[str, tuple] = field(default_factory=dict)
    snapshot_ts: Optional[str] = None  # injectable for deterministic tests
    now: Optional[Any] = None  # injectable wall-clock for microbatch
    # --defer --state: unbuilt refs resolve to the prod namespace
    # (core/dbt/context/providers.py:634-655)
    defer_store: Optional[Any] = None
    # --empty: schema-only dry runs, refs/sources wrapped with LIMIT 0
    # (providers.py:242-243)
    empty: bool = False
    # --warn-error: promote warn-severity outcomes to failures
    # (reference: warn_error flag / WarnErrorOptions, core/dbt/flags.py)
    warn_error: bool = False
    # --warn-error-options: per-event-name promotion/silencing
    # (core/dbt/cli/params.py:749; dbt_spark.events.WarnErrorOptions)
    warn_error_options: Optional[Any] = None
    # invocation EventBus, when the caller wires one in — operators use it
    # for warn-level structured events (e.g. MV configuration drift)
    events: Optional[Any] = None

    @property
    def weo(self) -> Any:
        from dbt_spark.events import WarnErrorOptions

        return self.warn_error_options or WarnErrorOptions()
    # dbt retry: node unique_id -> failed batch_ids to replay (microbatch only;
    # reference previous_batch_results, core/dbt/task/run.py:578-592)
    retry_batches: dict = field(default_factory=dict)
    # --event-time-start/--event-time-end: explicit microbatch backfill window
    event_time_start: Optional[Any] = None
    event_time_end: Optional[Any] = None
    # --include-saved-query: materialize saved-query exports during build
    # (cli/params.py:132-134; export generation is the MetricFlow side there)
    include_saved_query: bool = False
    # --favor-state: with --defer, UNSELECTED upstreams resolve to the state
    # namespace even when a local relation exists (providers.py:636-646)
    favor_state: bool = False
    selected: set = field(default_factory=set)
    # identifiers CACHEd for this invocation (config(cache=true) views);
    # uncached by the runner at end of run
    cached_idents: list = field(default_factory=list)
    # defer__ identifiers already registered this invocation (state views
    # re-register their whole upstream subtree; memoized)
    _deferred_idents: set = field(default_factory=set)
    # source/external identifier -> the scan its temp view holds: every
    # node re-resolves its transitive sources, and an unchanged scan needs
    # no second temp-view swap (nor, for csv, a second inferSchema job)
    _location_scans: dict = field(default_factory=dict)
    _location_lock: Any = field(default_factory=threading.Lock)
    # (kind, unique_id) -> resolved physical schema/name (naming macros
    # render once per node per invocation)
    _naming_cache: dict = field(default_factory=dict)

    @property
    def schema(self) -> str:
        return self.project.profile.get("schema", "main")

    def schema_for(self, node: ManifestNode) -> str:
        """Physical schema: a project-defined generate_schema_name macro wins
        (reference get_custom_schema, core/dbt/context/providers.py — the
        macro receives (custom_schema_name, node)); else config schema
        literally, else the profile default."""
        cached = self._naming_cache.get(("s", node.unique_id))
        if cached is not None:
            return cached
        out = None
        if "generate_schema_name" in (self.manifest.macros or {}):
            out = self._render_naming_macro(
                "generate_schema_name", node.config.schema, node)
        if not out:
            out = node.config.schema or self.schema
        self._naming_cache[("s", node.unique_id)] = out
        return out

    def name_for(self, node: ManifestNode) -> str:
        """Physical relation name: generate_alias_name macro > config(alias=)
        > the model name (reference get_custom_alias; ref() stays keyed by
        MODEL name — only the materialized identifier changes)."""
        cached = self._naming_cache.get(("n", node.unique_id))
        if cached is not None:
            return cached
        custom = node.config.meta.get("alias")
        out = None
        if "generate_alias_name" in (self.manifest.macros or {}):
            out = self._render_naming_macro(
                "generate_alias_name", custom, node)
        if not out:
            out = str(custom) if custom else node.name
        self._naming_cache[("n", node.unique_id)] = out
        return out

    def _render_naming_macro(self, macro: str, custom, node: ManifestNode):
        from dbt_spark.plans.compile import runtime_render

        tmp = ManifestNode(
            unique_id=f"operation.{self.project.name}.{macro}",
            name=macro, package_name=node.package_name, path=macro,
            resource_type=NodeType.Operation,
            raw_code=f"{{{{ {macro}(custom_value, node) }}}}",
        )
        out = runtime_render(
            tmp, self.manifest,
            resolve_ref=lambda n: n.name,  # naming macros must not ref()
            resolve_source=lambda n: n.name,
            this_name=node.name, is_incremental=False,
            full_refresh=self.full_refresh,
            var_overrides={**self.project.vars, **self.vars},
            target=dict(self.project.profile),
            extra={"custom_value": custom, "node": node},
        ).strip()
        return out or None

    def identifier_for(self, node: ManifestNode) -> str:
        return f"{self.schema_for(node)}__{self.name_for(node)}"

    # ---- ref/source resolution (runtime phase) ---------------------------

    def resolve_ref(self, node: ManifestNode) -> str:
        if node.is_ephemeral:
            return self._register_ephemeral(node)
        ext = node.config.meta.get("external_location")
        if ext is not None:
            # plugin-injected external node: data maintained outside the
            # project, ref() resolves straight to its files
            ident = f"ext__{node.name}"
            self._register_location(ident, ext, node.config.meta.get("file_format", "parquet"))
            return self._wrap(node, ident)
        rel = self.store.get(self.schema_for(node), self.name_for(node))
        prefer_state = (
            self.favor_state
            and self.defer_store is not None
            and node.unique_id not in self.selected
        )
        if (rel is None or prefer_state) and self.defer_store is not None:
            state_rel = self.defer_store.get(self.schema_for(node), self.name_for(node))
            if state_rel is not None:
                return self._wrap(node, self._register_deferred(state_rel))
        if rel is None:
            raise RuntimeError(
                f"ref to {node.name}: relation not built yet (is it selected upstream?)"
            )
        ident = self.store.register(rel)
        return self._wrap(node, ident)

    def _register_deferred(self, state_rel) -> str:
        """Register a --state relation under a DISTINCT ``defer__`` identifier:
        the local relation of the same name may already own (or later claim)
        the plain identifier's temp view, and the two must never shadow each
        other within one session. For state VIEWS the compiled SQL's upstream
        identifiers are rewritten to their own defer__ registrations
        (recursively), so the whole view subtree reads the state namespace —
        a state view must never resolve an upstream against the local
        session (providers.py:634-655 defer semantics)."""
        import re as _re

        ident = f"defer__{state_rel.schema}__{state_rel.name}"
        if ident in self._deferred_idents:
            return ident
        self._deferred_idents.add(ident)
        if state_rel.kind == "view":
            sql = state_rel.compiled_sql
            for dep in self.defer_store.list_relations():
                plain = dep.identifier
                if _re.search(rf"\b{_re.escape(plain)}\b", sql):
                    dep_ident = self._register_deferred(dep)
                    sql = _re.sub(rf"\b{_re.escape(plain)}\b", dep_ident, sql)
            # the state view's rewritten SQL may still reference LOCAL
            # lazily-registered idents (favor-state mixes namespaces)
            self.store.ensure_registered_for(sql)
            self.spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {ident} AS {sql}")
            return ident
        self.defer_store._read_files(state_rel).createOrReplaceTempView(ident)
        return ident

    def _wrap(self, node: ManifestNode, ident: str) -> str:
        if self.empty:
            return f"(SELECT * FROM {ident} LIMIT 0)"
        return self._maybe_event_filter(node, ident)

    def resolve_source(self, node: ManifestNode) -> str:
        location = node.config.meta.get("location")
        if location is None:
            raise RuntimeError(f"source {node.unique_id} has no meta.location")
        ident = f"src__{node.source_name}__{node.name}"
        self._register_location(
            ident, location, node.config.meta.get("file_format", "parquet")
        )
        return self._wrap(node, ident)

    def _register_location(self, ident: str, location: str, fmt: str) -> None:
        """Point the temp view ``ident`` at the files under ``location``,
        swapping it only when the scan differs from the one it holds. A
        parquet scan is ``read_parquet``'s cached DataFrame, a new object
        once the files' listing changes (DataFrames compare by identity);
        other formats are keyed on the listing, so an unchanged csv source
        runs its inferSchema job once."""
        if fmt == "parquet":
            from dbt_spark.session import read_parquet

            df = scan = read_parquet(self.spark, location)
        else:
            from dbt_spark.session import _listing

            scan = (location, fmt, _listing(location))
            if self._location_scans.get(ident) == scan:
                return
            if fmt == "csv":
                df = self.spark.read.option("header", "true").option(
                    "inferSchema", "true"
                ).csv(location)
            else:
                df = getattr(self.spark.read, fmt)(location)
        with self._location_lock:
            if self._location_scans.get(ident) == scan:
                return
            df.createOrReplaceTempView(ident)
            self._location_scans[ident] = scan

    def drop_views(self) -> None:
        """Drop the temp views this context's store and source resolution
        registered (``RelationStore.drop_views``)."""
        with self.store._lock, self._location_lock:
            self.store.drop_views(self._location_scans)
            self._location_scans.clear()

    def source_df(self, node: ManifestNode) -> DataFrame:
        ident = self.resolve_source(node)
        return self.spark.sql(f"SELECT * FROM {ident}")

    def _maybe_event_filter(self, node: ManifestNode, ident: str) -> str:
        """Microbatch upstream pruning (core/dbt/context/providers.py:245-304):
        refs/sources with a configured event_time get the batch window pushed
        into their scan — Catalyst then prunes partitions/row-groups."""
        window = self.event_time_filters.get("*") or self.event_time_filters.get(
            node.unique_id
        )
        et = node.config.event_time or (
            node.loaded_at_field if node.resource_type == NodeType.Source else None
        )
        if window and et:
            start, end = window
            return (
                f"(SELECT * FROM {ident} WHERE {et} >= TIMESTAMP '{start}'"
                f" AND {et} < TIMESTAMP '{end}')"
            )
        return ident

    def _register_ephemeral(self, node: ManifestNode) -> str:
        ident = f"__eph__{node.name}"
        sql = compile_sql(self, node)
        node.compiled_code = sql
        self.execute_sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {ident} AS {sql}", node=node)
        if node.config.meta.get("cache"):
            # config(cache=true) on an ephemeral model: materialize the shared
            # subplan once in executor memory/disk instead of recomputing it
            # inside every consumer (SURVEY §4's common-subplan candidate —
            # Catalyst inlines ephemeral plans, so an expensive ephemeral
            # referenced by N models otherwise runs N times). Drop any cache
            # from a previous invoke first: upstream files may have been
            # rewritten in place since, and a stale CacheManager entry would
            # serve old data (Spark caches key on the analyzed plan/listing).
            try:
                self.spark.catalog.uncacheTable(ident)
            except Exception:  # noqa: BLE001 — not cached yet
                pass
            self.spark.catalog.cacheTable(ident)
        return ident

    def record_execution(
        self,
        sql: str,
        node: Optional[ManifestNode] = None,
        artifact: bool = True,
    ) -> str:
        """Attribution layer for one executed statement: render + attach the
        project's query-comment, set the Spark job description (UI
        attribution), persist the executed form under target/run/<path>.
        Returns the comment-bearing SQL (the adapter execute +
        MacroQueryStringSetter layer, core/dbt/context/query_header.py)."""
        from dbt_spark.plans.query_comment import (
            attach_comment,
            job_description,
            render_comment,
        )

        comment = render_comment(self.project, node)
        qc_cfg = getattr(self.project, "query_comment", None) or {}
        executed = attach_comment(sql, comment, qc_cfg.get("append", False))
        try:
            self.spark.sparkContext.setJobDescription(
                job_description(self.project, node, comment))
        except Exception:  # noqa: BLE001 — a stopped/Connect session
            pass
        if artifact and node is not None and getattr(node, "path", ""):
            try:
                out = os.path.join(
                    self.project.target_path, "run", node.path)
                os.makedirs(os.path.dirname(out), exist_ok=True)
                with open(out, "w") as f:
                    f.write(executed)
            except OSError:
                pass
        return executed

    def execute_sql(
        self,
        sql: str,
        node: Optional[ManifestNode] = None,
        artifact: bool = True,
    ):
        """Run one statement through the attribution layer above."""
        self.store.ensure_registered_for(sql)
        return self.spark.sql(self.record_execution(sql, node, artifact))

    def run_query(self, sql: str):
        """Driver-side query for macros (`run_query` context member,
        providers.py:971-1024 backing store). Collects — macro results are
        small control-flow values (column lists, partition sets), never data."""
        from dbt_spark.plans.macros import QueryResult

        df = self.execute_sql(sql)
        return QueryResult(list(df.columns), [tuple(r) for r in df.limit(10000).collect()])

    def ensure_upstream_registered(self, node: ManifestNode,
                                   direct_sources: bool = True) -> None:
        """Re-register upstream relations AND sources, transitively, in
        dependency order (fresh session / subset runs): a persisted *view*'s
        SQL references the temp views of its own upstreams, so those must be
        registered first — the role the warehouse metastore plays for the
        reference, recreated per session here.

        ``direct_sources=False`` skips the node's own source parents: a
        streaming model reads those as streams, never as batch views. A
        source reached through a ref parent still registers."""
        seen: set[str] = {node.unique_id}

        def visit(uid: str) -> None:
            if uid in seen:
                return
            seen.add(uid)
            dep = self.manifest.nodes.get(uid) or self.manifest.sources.get(uid)
            if dep is None:
                return
            for d in dep.depends_on:
                visit(d)
            if dep.resource_type == NodeType.Source:
                self.resolve_source(dep)
            elif dep.config.meta.get("external_location") is not None:
                self.resolve_ref(dep)
            elif dep.is_ephemeral:
                pass  # registered lazily by resolve_ref at consumer compile
            else:
                rel = self.store.get(self.schema_for(dep), dep.name)
                prefer_state = (
                    self.favor_state
                    and self.defer_store is not None
                    and dep.unique_id not in self.selected
                )
                if (rel is None or prefer_state) and self.defer_store is not None:
                    state_rel = self.defer_store.get(self.schema_for(dep), dep.name)
                    if state_rel is not None:
                        self._register_deferred(state_rel)
                        rel = None  # resolve_ref re-routes to the defer view
                if rel is not None:
                    self.store.register(rel)

        for dep_uid in node.depends_on:
            if direct_sources or dep_uid not in self.manifest.sources:
                visit(dep_uid)


def compile_sql(
    ctx: ExecutionContext, node: ManifestNode, is_incremental: bool = False
) -> str:
    from dbt_spark.plans.macros import RuntimeAdapter

    target = dict(
        ctx.project.profile,
        name=ctx.project.profile.get("target_name", "spark"),
        type="spark",
    )
    return runtime_render(
        node,
        ctx.manifest,
        resolve_ref=ctx.resolve_ref,
        resolve_source=ctx.resolve_source,
        this_name=ctx.identifier_for(node),
        is_incremental=is_incremental,
        full_refresh=ctx.full_refresh,
        var_overrides={**ctx.project.vars, **ctx.vars},
        target=target,
        run_query=ctx.run_query,
        extra={"adapter": RuntimeAdapter(ctx),
               "project_flags": getattr(ctx.project, "flags", None) or {}},
        # microbatch batches expose {{ model.batch.* }} to user SQL
        # (core/dbt/context/providers.py:268-280 consumes it; the batch
        # context is set per-batch at core/dbt/task/run.py:354)
        batch=getattr(ctx, "current_batch", None),
    ).strip().rstrip(";")


def run_model_df(ctx: ExecutionContext, node: ManifestNode, is_incremental: bool = False) -> DataFrame:
    """Compile and evaluate a model to a DataFrame (SQL or Python model)."""
    ctx.ensure_upstream_registered(node)
    if node.language == "python":
        df = _run_python_model(ctx, node)
    else:
        sql = compile_sql(ctx, node, is_incremental=is_incremental)
        node.compiled_code = sql
        df = ctx.execute_sql(sql, node=node)
    return _apply_output_transforms(node, df)


def _apply_output_transforms(node: ManifestNode, df: DataFrame) -> DataFrame:
    """Declarative output transforms from model config — the LLM-pipeline
    operators exposed through the same config/DAG/selector machinery as any
    materialization knob (SURVEY §7 beyond-reference integration):

    - config(dedup_keys=[...], dedup_id='col'): exact dedup, keep min-id row
      per key (struct-min hash aggregate, functions/dedup.py)
    - config(dedup_fingerprint='text_col', dedup_id='col'[, dedup_k=16]):
      near-exact dedup on the first-k-token md5 fingerprint
    """
    meta = node.config.meta

    # text-corpus filters first (cut rows before the dedup shuffle):
    # config(quality_min=0.2[, quality_col='text']) and
    # config(lang_filter=['en', ...][, lang_col='text'])
    quality_min = meta.get("quality_min")
    lang_filter = meta.get("lang_filter")
    if quality_min is not None or lang_filter:
        from dbt_spark.functions import text as X

        if quality_min is not None:
            df = df.filter(
                X.quality_score(meta.get("quality_col", "text"))
                >= float(quality_min)
            )
        if lang_filter:
            langs = ([lang_filter] if isinstance(lang_filter, str)
                     else list(lang_filter))
            df = df.filter(X.lang_id(meta.get("lang_col", "text")).isin(langs))

    # config(chunk_text={'content': col[, 'window': 200, 'stride': 150]}):
    # RAG sliding-window chunking at WRITE time — the model lands one row
    # per chunk with chunk_idx / chunk_start / <content> replaced by the
    # chunk slice (queries/llmops.py::chunk_with_overlap as an engine
    # knob). Pure map-side sequence/explode, zero shuffles; empty content
    # chunks to nothing (Spark sequence(0,-1) would DESCEND — guarded).
    chunk_cfg = meta.get("chunk_text")
    if chunk_cfg:
        from pyspark.sql import functions as F

        if not isinstance(chunk_cfg, dict) or "content" not in chunk_cfg:
            raise ValueError(
                f"{node.unique_id}: chunk_text needs "
                "{'content': col[, 'window': int, 'stride': int]}")
        content = chunk_cfg["content"]
        if content not in df.columns:
            raise ValueError(
                f"{node.unique_id}: chunk_text column {content!r} "
                "not in output")
        w = int(chunk_cfg.get("window", 200))
        s = int(chunk_cfg.get("stride", 150))
        if not (0 < s <= w):
            raise ValueError(
                f"{node.unique_id}: chunk_text needs 0 < stride <= window "
                f"(got window={w}, stride={s})")
        clash = [c for c in ("chunk_idx", "chunk_start") if c in df.columns]
        if clash:
            # ADVICE r12: injecting the aliases over an existing column of
            # the same name would make the later F.col("chunk_idx") ref an
            # opaque ambiguous-column AnalysisException — fail clearly.
            raise ValueError(
                f"{node.unique_id}: chunk_text injects columns "
                f"{clash} which already exist in the model output — "
                "rename or drop them before chunking")
        others = [c for c in df.columns if c != content]
        start = F.col("chunk_idx") * s
        # NULL content rows are dropped along with empty strings: a NULL
        # document has no chunkable bytes (F.length(NULL) >= 1 is NULL →
        # filtered). Documented here per ADVICE r12.
        df = (
            df.filter(F.length(content) >= 1)
            .select(
                *others, F.col(content),
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.length(content) - 1) / s).cast("bigint"),
                    )
                ).alias("chunk_idx"),
            )
            .select(
                *others,
                F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
                start.cast("bigint").alias("chunk_start"),
                F.substring(
                    F.col(content), (start + 1).cast("int"), w
                ).alias(content),
            )
        )

    # config(pii_redact=['text_col', ...]): chained email→phone→ipv4
    # scrub (functions/pii.py) applied in place to each listed column —
    # the scrub-before-landing privacy boundary as a materialization
    # knob; row-local codegen, composes before the dedup shuffle
    pii_cols = meta.get("pii_redact")
    if pii_cols:
        from pyspark.sql import functions as F

        from dbt_spark.functions.pii import redact_pii

        cols = [pii_cols] if isinstance(pii_cols, str) else list(pii_cols)
        for c in cols:
            if c not in df.columns:
                raise ValueError(
                    f"{node.unique_id}: pii_redact column {c!r} not in output"
                )
            df = df.withColumn(c, redact_pii(F.col(c))["redacted"])

    # config(turn_dedup={'conversation': 'conv', 'content': 'content'
    #        [, 'order': 'turn_idx']}): SFT turn-level dedup as a
    # materialization knob — first occurrence (min order col, else
    # arbitrary-but-deterministic by content) per (conversation,
    # whitespace-normalized lowercase content) survives, full rows kept.
    # Window partitioned by the dedup key: bounded groups, scalable.
    turn_dedup = meta.get("turn_dedup")
    if turn_dedup:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if not isinstance(turn_dedup, dict) or not {
                "conversation", "content"} <= set(turn_dedup):
            raise ValueError(
                f"{node.unique_id}: turn_dedup needs "
                "{'conversation': col, 'content': col[, 'order': col]}")
        conv, content = turn_dedup["conversation"], turn_dedup["content"]
        order = turn_dedup.get("order")
        for c in (conv, content, order):
            if c is not None and c not in df.columns:
                raise ValueError(
                    f"{node.unique_id}: turn_dedup column {c!r} not in output")
        norm = F.lower(F.trim(F.regexp_replace(F.col(content), r"\s+", " ")))
        # ADVICE r11: without an 'order' column, raw content alone ties for
        # rows identical in content but differing elsewhere — append every
        # remaining column as a tiebreaker so the survivor is deterministic
        if order:
            sort_cols = [F.col(order)]
        else:
            sort_cols = [F.col(content)] + [
                F.col(c).cast("string") for c in df.columns if c != content]
        w = Window.partitionBy(F.col(conv), norm).orderBy(*sort_cols)
        df = (df.withColumn("__sg_td_rn", F.row_number().over(w))
              .filter(F.col("__sg_td_rn") == 1).drop("__sg_td_rn"))

    dedup_keys = meta.get("dedup_keys")
    fp_col = meta.get("dedup_fingerprint")
    mh_col = meta.get("dedup_minhash")
    if not dedup_keys and not fp_col and not mh_col:
        return df
    from dbt_spark.functions.dedup import (
        exact_dedup,
        fingerprint_dedup,
        minhash_dedup_cc,
    )

    id_col = meta.get("dedup_id")
    if not id_col:
        raise ValueError(f"{node.unique_id}: dedup config requires dedup_id")
    if mh_col:
        # config(dedup_minhash='text_col'[, dedup_threshold=, dedup_num_perm=,
        # dedup_bands=]): NEAR-dup removal with connected-component survivor
        # selection, inside the materialization like every other dedup config
        return minhash_dedup_cc(
            df, mh_col, id_col,
            threshold=float(meta.get("dedup_threshold", 0.5)),
            num_perm=int(meta.get("dedup_num_perm", 16)),
            bands=int(meta.get("dedup_bands", 4)),
        )
    if fp_col:
        return fingerprint_dedup(df, fp_col, id_col, k=int(meta.get("dedup_k", 16)))
    keys = [dedup_keys] if isinstance(dedup_keys, str) else list(dedup_keys)
    return exact_dedup(df, keys, id_col)


def _run_python_model(ctx: ExecutionContext, node: ManifestNode) -> DataFrame:
    """Python models run natively: `session` IS the SparkSession and
    dbt.ref()/dbt.source() return DataFrames (SURVEY §2A Python-model row —
    strictly simpler than the reference's submit_python_job,
    core/dbt/context/providers.py:1566-1578)."""
    ctx.ensure_upstream_registered(node)

    class DbtObj:
        def ref(self, *args: str) -> DataFrame:
            name = args[-1]
            found = ctx.manifest.ref_lookup(name)
            if found is None:
                raise RuntimeError(f"dbt.ref('{name}') not found")
            ident = ctx.resolve_ref(found)
            ctx.store.ensure_registered_for(ident)
            return ctx.spark.sql(f"SELECT * FROM {ident}")

        def source(self, src: str, tbl: str) -> DataFrame:
            found = ctx.manifest.source_lookup(src, tbl)
            if found is None:
                raise RuntimeError(f"dbt.source('{src}','{tbl}') not found")
            return ctx.source_df(found)

        class _Cfg:
            def __call__(self, **kwargs: object) -> None:
                pass

            @staticmethod
            def get(key: str, default: object = None) -> object:
                # explicit None/sentinel checks: falsy config values
                # (False, 0, '') must be returned, not swallowed
                val = getattr(node.config, key, None)
                if val is not None:
                    return val
                if key in node.config.meta:
                    return node.config.meta[key]
                return default

        config = _Cfg()

        @property
        def this(self):  # noqa: ANN201 — RelationProxy
            from dbt_spark.plans.macros import RelationProxy

            return RelationProxy(ctx.identifier_for(node), name=ctx.name_for(node))

        @property
        def is_incremental(self) -> bool:
            # a PROPERTY, matching the reference python-model API
            # (`if dbt.is_incremental:` — a bound method would always be
            # truthy and silently break first builds)
            return (
                ctx.store.exists(ctx.schema_for(node), ctx.name_for(node))
                and not ctx.full_refresh
            )

    scope: dict[str, object] = {}
    exec(compile(node.raw_code, node.path, "exec"), scope)
    model_fn = scope.get("model")
    if not callable(model_fn):
        raise RuntimeError(f"python model {node.name} must define model(dbt, session)")
    df = model_fn(DbtObj(), ctx.spark)
    try:
        import pandas as _pd

        if isinstance(df, _pd.DataFrame):
            # reference python models may return pandas; lift to Spark
            df = ctx.spark.createDataFrame(df)
    except ImportError:
        pass
    if not isinstance(df, DataFrame):
        raise RuntimeError(f"python model {node.name} must return a DataFrame")
    return df


def materialize_view(ctx: ExecutionContext, node: ManifestNode) -> Relation:
    from dbt_spark.operators.contracts import enforce_contract

    ctx.ensure_upstream_registered(node)
    sql = compile_sql(ctx, node)
    node.compiled_code = sql
    if node.config.contract.get("enforced"):
        ctx.store.ensure_registered_for(sql)
        enforce_contract(node, ctx.spark.sql(sql))  # schema-only, no execution
    # the "executed statement" for a view is its registration DDL — record
    # it (query-comment + target/run + job description) without re-running
    ctx.record_execution(
        f"CREATE OR REPLACE VIEW "
        f"{ctx.schema_for(node)}.{ctx.name_for(node)} AS {sql}",
        node=node,
    )
    rel = ctx.store.save_view(ctx.schema_for(node), ctx.name_for(node), sql)
    if node.config.meta.get("cache"):
        # config(cache=true): a hot shared intermediate — materialize it once
        # into Spark's block-manager cache so N downstream consumers read the
        # InMemoryRelation instead of re-running the view's plan N times.
        # Spark-first feature (no reference analog: dbt models share via the
        # warehouse); LAZY so unconsumed caches cost nothing. The runner
        # uncaches at end of invocation.
        ctx.store.ensure_registered_for(rel.identifier)
        ctx.spark.sql(f"CACHE LAZY TABLE {rel.identifier}")
        ctx.cached_idents.append(rel.identifier)
    return rel


def materialize_table(ctx: ExecutionContext, node: ManifestNode) -> Relation:
    from dbt_spark.operators.contracts import enforce_constraints, enforce_contract

    df = run_model_df(ctx, node)
    enforce_contract(node, df)
    enforce_constraints(node, df)
    bucket_by = node.config.meta.get("bucket_by")
    if bucket_by:
        # config(bucket_by=..., buckets=N[, sort_by=...]): hash-bucketed
        # layout so co-bucketed downstream joins/aggs skip their shuffle
        # (Spark-first scale feature; no reference analog — dbt delegates
        # physical layout to the warehouse)
        bucket_by = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        sort_by = node.config.meta.get("sort_by")
        sort_by = [sort_by] if isinstance(sort_by, str) else sort_by
        return ctx.store.write_bucketed(
            ctx.schema_for(node), ctx.name_for(node), df,
            bucket_by=bucket_by,
            buckets=int(node.config.meta.get("buckets", 32)),
            sort_by=sort_by,
        )
    partition_by = node.config.partition_by
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    zorder = node.config.meta.get("zorder_by")
    sort_by = node.config.meta.get("sort_by")
    if zorder:
        # config(zorder_by=[a, b]): Morton-interleaved multi-dimensional
        # clustering — row groups prune selective predicates on EVERY keyed
        # column, where sort_by only prunes its leading column
        # (functions/layout.py; public analog: Delta OPTIMIZE ZORDER BY)
        from dbt_spark.functions.layout import zorder_layout

        df = zorder_layout(
            df, [zorder] if isinstance(zorder, str) else list(zorder),
            binning=str(node.config.meta.get("zorder_bin", "linear")))
    elif sort_by:
        # config(sort_by=...): cluster rows within each output file so
        # parquet row-group min/max statistics prune range predicates —
        # at 100 TB a time- or key-sorted fact table turns selective scans
        # from full-file reads into a handful of row groups
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        df = df.sortWithinPartitions(*sort_by)
    return ctx.store.write_table(
        ctx.schema_for(node), ctx.name_for(node), df, kind="table",
        partition_by=partition_by, **storage_options(node),
    )


def storage_options(node: ManifestNode) -> dict:
    """config(file_format=..., location_root=...) — the dbt-spark adapter's
    physical-storage knobs: parquet (default) | orc | json | csv, and an
    external location ``<location_root>/<identifier>`` (the alias when one
    is set; naming macros resolve through the ExecutionContext callers)."""
    out: dict = {}
    fmt = node.config.meta.get("file_format")
    if fmt:
        out["file_format"] = str(fmt).lower()
    loc_root = node.config.meta.get("location_root")
    if loc_root:
        phys = str(node.config.meta.get("alias") or node.name)
        out["location"] = os.path.join(str(loc_root), phys)
    return out


def materialize_ephemeral(ctx: ExecutionContext, node: ManifestNode) -> None:
    """Never materialized; consumers inline via _register_ephemeral."""
    return None


def _mv_config_sig(node: ManifestNode) -> str:
    """Deterministic signature of the MV-relevant physical configuration
    (the knobs this materialization honors): partition_by, file_format,
    location_root, sort_by, zorder_by. Stored in relation meta so the next
    run can detect configuration drift independently of the SQL body."""
    import json

    partition_by = node.config.partition_by
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    meta = node.config.meta
    return json.dumps({
        "partition_by": partition_by,
        "file_format": meta.get("file_format"),
        "location_root": meta.get("location_root"),
        "sort_by": meta.get("sort_by"),
        "zorder_by": meta.get("zorder_by"),
    }, sort_keys=True)


def materialize_materialized_view(ctx: ExecutionContext, node: ManifestNode) -> Relation:
    """Materialized view = table + recorded defining query, refreshed per run.

    Spark has no native MV (documented deviation, SURVEY §2A materialized_view
    row); the reference's ``on_configuration_change: apply|continue|fail``
    (core/dbt/artifacts/resources/v1/config.py:110-112) governs drift between
    the stored relation and the newly compiled node, in two layers mirroring
    the adapter materialization:

    - SQL definition drift: apply = adopt the new definition,
      continue = keep refreshing the stored one, fail = error out;
    - configuration drift with an UNCHANGED definition (partition/layout/
      format knobs — detected via a stored config signature): apply =
      rebuild under the new configuration, continue = warn (MVConfigDrift
      event) and leave the relation untouched this run, fail = error out.
    """
    from dbt_spark.operators.contracts import enforce_constraints, enforce_contract

    ctx.ensure_upstream_registered(node)
    sql = compile_sql(ctx, node)
    node.compiled_code = sql
    existing = ctx.store.get(ctx.schema_for(node), ctx.name_for(node))
    change = node.config.on_configuration_change
    if (
        existing is not None
        and existing.meta.get("defined_as")
        and existing.meta["defined_as"] != sql
        and not ctx.full_refresh
    ):
        if change == "fail":
            raise RuntimeError(
                f"{node.unique_id}: materialized view definition changed and "
                "on_configuration_change=fail"
            )
        if change == "continue":
            sql = existing.meta["defined_as"]  # refresh the stored definition
    cfg_sig = _mv_config_sig(node)
    if (
        existing is not None
        and not ctx.full_refresh
        and existing.meta.get("defined_as") == sql
        and existing.meta.get("config_sig") is not None
        and existing.meta["config_sig"] != cfg_sig
    ):
        # configuration drift (same SQL, different physical knobs)
        if change == "fail":
            raise RuntimeError(
                f"{node.unique_id}: materialized view configuration changed "
                "and on_configuration_change=fail"
            )
        if change == "continue":
            # warn + skip: the stored relation keeps its existing layout;
            # the new configuration is NOT applied this run
            if getattr(ctx, "events", None) is not None:
                ctx.events.fire(
                    "MVConfigDrift", level="warn", node_id=node.unique_id,
                    msg=(f"{node.unique_id}: configuration changed but "
                         "on_configuration_change=continue — not applied"),
                )
            ctx.store.register(existing)
            return existing
        # apply: fall through to a rebuild under the new configuration
    fp = _upstream_fingerprint(ctx, node)
    if (
        existing is not None
        and not ctx.full_refresh
        and existing.meta.get("defined_as") == sql
        and existing.meta.get("config_sig", cfg_sig) == cfg_sig
        and existing.meta.get("upstream_fingerprint") == fp
        and fp is not None
    ):
        # no-op refresh: same definition, upstream bytes unchanged — the
        # property a real MV's incremental refresh gives you (skip the
        # recompute entirely when the base relations didn't move). At 100 TB
        # this is the difference between an hourly `dbt run` costing one
        # metadata check vs a full rebuild.
        ctx.store.register(existing)
        return existing
    ctx.store.ensure_registered_for(sql)
    df = ctx.spark.sql(sql)
    enforce_contract(node, df)
    enforce_constraints(node, df)
    partition_by = node.config.partition_by
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    return ctx.store.write_table(
        ctx.schema_for(node),
        ctx.name_for(node),
        df,
        kind="materialized_view",
        partition_by=partition_by,
        defined_as=sql,
        upstream_fingerprint=fp,
        config_sig=cfg_sig,
        **storage_options(node),
    )


def _upstream_fingerprint(ctx: ExecutionContext, node: ManifestNode):
    """Metadata-only fingerprint of a node's upstream storage: (path, size,
    mtime) of every data file under each non-ephemeral upstream relation and
    each source location (ephemeral deps recurse to theirs). Pure os.walk —
    no Spark job, no data read. None when an upstream has no stable files
    (e.g. a temp-view-only upstream), which disables refresh skipping."""
    import hashlib

    paths: list[str] = []
    seen: set[str] = set()

    def add_node_deps(n: ManifestNode) -> bool:
        for uid in n.depends_on:
            if uid in seen:
                continue
            seen.add(uid)
            dep = ctx.manifest.nodes.get(uid)
            if dep is None:
                src = ctx.manifest.sources.get(uid)
                if src is not None:
                    loc = src.config.meta.get("location")
                    if not loc:
                        return False
                    paths.append(str(loc))
                    continue
                return False
            if dep.is_ephemeral:
                if not add_node_deps(dep):
                    return False
                continue
            rel = ctx.store.get(ctx.schema_for(dep), dep.name)
            if rel is None or not rel.path:
                return False
            paths.append(rel.path)
        return True

    if not add_node_deps(node) or not paths:
        return None
    h = hashlib.md5()
    for root in sorted(paths):
        if os.path.isfile(root):
            st = os.stat(root)
            h.update(f"{root}:{st.st_size}:{st.st_mtime_ns}".encode())
            continue
        if not os.path.isdir(root):
            return None
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for fn in sorted(files):
                if fn.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, fn))
                h.update(f"{dirpath}/{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()
