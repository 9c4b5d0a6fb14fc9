"""Driver-contract registry rotation (VERDICT r9 directive #3).

The driver samples the HEAD of ``queries()`` for its per-round
CORRECTNESS gate; rounds 1-9 sampled the same 50 keys because the
registry order was static. ``__spark_entry__._rotation_order`` sorts
keys least-driver-checked first (by committed ``CORRECTNESS_r*.json``
files), so the sample window walks the whole inventory (305 keys at r14,
290 of them oracle-paired).

The expectations below are derived from that sort key and the committed
history as it stands, so they hold however many rounds have been recorded.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402


def _driver_seen() -> dict[str, int]:
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        for k in json.load(open(path)):
            seen[k] = seen.get(k, 0) + 1
    return seen


def test_head50_prefers_never_driver_seen_keys():
    from dbt_spark.queries import ORACLES, QUERIES

    seen = _driver_seen()
    q = list(entry.queries())
    assert len(q) >= 230
    head = q[:50]
    # oracle-paired keys no committed round has sampled lead, in registry order
    fresh = [k for k in QUERIES if k in ORACLES and k not in seen]
    n = min(50, len(fresh))
    assert head[:n] == fresh[:n], f"head-50 starts {head[:n]}, want {fresh[:n]}"
    # no head key was sampled more often than any oracle-paired key after it
    for i, k in enumerate(head):
        later = [seen.get(j, 0) for j in q[i + 1:] if j in ORACLES]
        assert all(seen.get(k, 0) <= c for c in later), (
            f"{k} (sampled {seen.get(k, 0)}x) leads a less-sampled key")


def test_rotation_is_deterministic_and_total():
    from dbt_spark.queries import QUERIES

    a = entry._rotation_order(list(QUERIES))
    b = entry._rotation_order(list(QUERIES))
    assert a == b
    assert sorted(a) == sorted(QUERIES)


def test_oracles_follow_query_order():
    q = list(entry.queries())
    o = list(entry.oracle_sql())
    assert o == [k for k in q if k in set(o)]


def test_oracle_less_keys_sort_last():
    """A driver sample slot spent on a key with no oracle pairing verifies
    nothing (it reports ``no_oracle``): every key lacking an oracle must sort
    after every oracle-paired key, regardless of sample history."""
    from dbt_spark.queries import ORACLES, QUERIES

    order = entry._rotation_order(list(QUERIES))
    no_oracle = [k for k in order if k not in ORACLES]
    assert no_oracle, "inventory unexpectedly fully oracle-paired"
    first_bare = order.index(no_oracle[0])
    assert all(k not in ORACLES for k in order[first_bare:])
    head = order[:50]
    assert all(k in ORACLES for k in head)
    # the r13 rewrites get driver-checked: each leads the sample until a
    # committed round has checked it
    seen = _driver_seen()
    for k in ("copurchase_triangle_stats", "bm25_topk"):
        assert k in head or k in seen, f"{k} neither sampled nor in head-50"


def test_rotation_counts_multiplicity(tmp_path, monkeypatch):
    # Keys sampled twice sort after keys sampled once, which sort after
    # never-sampled keys; registry position breaks ties.
    keys = ["a", "b", "c", "d"]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": {}, "b": {}}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": {}}))
    monkeypatch.setattr(
        entry.os.path, "dirname", lambda p: str(tmp_path)
    )
    order = entry._rotation_order(keys)
    assert order == ["c", "d", "b", "a"]
