"""Scratch-directory ownership for registry queries.

A query that lands files, checkpoints a stream or builds a throwaway
warehouse takes a ``Scratch`` from the ``scratch_query`` wrapper instead
of calling ``mkdtemp`` itself, and the wrapper decides when each part of
the tree goes away (see ``scratch_query``).
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import weakref
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from dbt_spark.session import forget_scans


class Scratch:
    """One query call's scratch tree: a single ``mkdtemp`` root holding
    the named subdirs ``landing`` (created: file streams need it to exist
    at start), ``checkpoint``, ``output`` and ``store`` (paths only: the
    sink that writes one creates it), and ``path(name)`` for any other."""

    def __init__(self, prefix: str) -> None:
        self.root = tempfile.mkdtemp(prefix=f"dbt_spark_{prefix}_")
        self.landing = self.path("landing")
        self.checkpoint = self.path("checkpoint")
        self.output = self.path("output")
        self.store = self.path("store")
        os.mkdir(self.landing)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def remove(self) -> None:
        """Remove the whole tree now: for a query whose result is already
        materialized (a local checkpoint or driver-side rows)."""
        shutil.rmtree(self.root, ignore_errors=True)


def scratch_query(
    fn: Callable[[SparkSession, str, Scratch], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Give the registry query ``fn(spark, sf_dir, scratch)`` a fresh
    ``Scratch`` per call and return it as ``(spark, sf_dir) -> DataFrame``.

    What happens to the tree:
    - the query raises: the whole root is removed before the error
      propagates;
    - the query returns: ``landing`` and ``checkpoint`` are removed (the
      stream has drained; the result reads neither), and the root's
      scan-cache entries are dropped;
    - the rest of the root (output, store, warehouse) belongs to the
      returned DataFrame: ``weakref.finalize`` removes it when that
      object is garbage collected, or at interpreter exit.

    The contract for callers: keep the returned object alive while it, or
    anything derived from it, may still run. Every consumer in this repo
    (``tools/check.py``, ``bench.py``, ``perfbench``, the tests) executes
    the result object itself. A query that called ``scratch.remove()``
    leaves nothing to tie."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        scratch = Scratch(fn.__name__)
        try:
            df = fn(spark, sf_dir, scratch)
        except BaseException:
            scratch.remove()
            raise
        forget_scans(scratch.root)
        for done in (scratch.landing, scratch.checkpoint):
            shutil.rmtree(done, ignore_errors=True)
        if os.path.isdir(scratch.root):
            weakref.finalize(df, shutil.rmtree, scratch.root, True)
        return df

    return run
