"""Session helpers that hold state across calls: ``stream_conf``'s
saved batch partition count and ``read_parquet``'s scan cache."""

import os
import random
import sys
import threading
import time

import pandas as pd

from dbt_spark.session import read_parquet, stream_conf


def test_overlapping_stream_confs_restore_the_batch_value(spark, monkeypatch):
    """Two streams started from two threads on one session, interleaved
    A in, B in, A out, B out: the session must end at its batch value,
    and B's stream must keep its value after A leaves. Restoring per
    context left the session at the stream's count for good."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "13")
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def stream_a():
        with stream_conf(spark):
            a_in.set()
            b_in.wait(10)
        a_out.set()

    def stream_b():
        a_in.wait(10)
        with stream_conf(spark):
            b_in.set()
            a_out.wait(10)
            seen["after_a"] = spark.conf.get(key)

    threads = [threading.Thread(target=f) for f in (stream_a, stream_b)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
            assert not t.is_alive()
        assert seen["after_a"] == "3"
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, old)


def test_stream_conf_stress_restores_the_batch_value(spark, monkeypatch):
    """Eight threads (more than the session's cores) open and close
    stream_conf contexts at random overlaps; once all are out the session
    is back at its batch value."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "13")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        for _ in range(15):
            with stream_conf(spark):
                time.sleep(rng.random() / 200)
            time.sleep(rng.random() / 200)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
            assert not t.is_alive()
        assert spark.conf.get(key) == "13"
    finally:
        sys.setswitchinterval(interval)
        spark.conf.set(key, old)


def test_read_parquet_sees_files_added_to_a_directory(spark, tmp_path):
    """The scan cache must not serve a directory's old file list after a
    file lands in it; an unchanged directory still hits the cache."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    pd.DataFrame({"k": [1, 2, 3]}).to_parquet(os.path.join(src, "a.parquet"))
    first = read_parquet(spark, src)
    assert first.count() == 3
    assert read_parquet(spark, src) is first
    pd.DataFrame({"k": [4, 5]}).to_parquet(os.path.join(src, "b.parquet"))
    assert sorted(r.k for r in read_parquet(spark, src).collect()) == [
        1, 2, 3, 4, 5]


def test_shuffle_partitions_follow_cpus_set_after_import():
    """``SPARK_GRAFT_CPUS`` set after ``dbt_spark.session`` is imported (as
    the test fixture's ``setdefault`` does) sizes both the local master and
    the shuffle partition count: the built session has as many shuffle
    partitions as cores. Own Spark process: the shared session is built."""
    import json
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ.pop("SPARK_GRAFT_CPUS", None)
from dbt_spark import session
os.environ["SPARK_GRAFT_CPUS"] = "3"
spark = session.get_spark("cpus_probe")
print(json.dumps({{
    "cores": spark.sparkContext.defaultParallelism,
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions")}}))
spark.stop()
"""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, env=env, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"cores": 3, "shuffle": "3"}
