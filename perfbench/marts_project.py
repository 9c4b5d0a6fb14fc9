"""The ``marts_daily`` dbt project: a TPC-H star built through the engine.

Six staging views over parquet sources, eight table marts shaped like
TPC-H q1/q3/q4/q5/q10/q18 plus two roll-ups, two incremental models
(``merge`` and ``delete+insert``), one check-strategy snapshot, one seed
and twelve generic tests. Each landed batch is its own parquet file named
by the ``batch`` var, so a build reads exactly one new batch.

Beside them sit ``chains`` ref chains of ``depth`` views each (the run2k
shape: views over views, pure engine metadata work), rooted on
``stg_nation`` with seed-permuted names; chain ``c``'s tail returns the
row ``(c, tag)`` of its head.

Model SQL sticks to syntax Spark and DuckDB share: the output check
renders the same text for DuckDB (``duckdb_sql``) and recomputes every
relation independently.
"""

from __future__ import annotations

import os
import re

PROJECT_YML = """name: marts_daily
models:
  marts_daily:
    staging:
      +materialized: view
    marts:
      +materialized: table
    chains:
      +materialized: view
"""

RAW_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem")

STAGING = {
    "stg_nation": """
select n.n_nationkey, n.n_name, r.r_name
from {{ source('raw', 'nation') }} n
join {{ source('raw', 'region') }} r on n.n_regionkey = r.r_regionkey""",
    "stg_supplier": """
select s_suppkey, s_nationkey, s_acctbal from {{ source('raw', 'supplier') }}""",
    "stg_part": """
select p_partkey, p_brand, p_type, p_size from {{ source('raw', 'part') }}""",
    "stg_customer": """
select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
from {{ source('raw', 'customer') }}""",
    "stg_orders": """
select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
from {{ source('raw', 'orders') }}""",
    "stg_lineitem": """
select l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
       l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
       l_extendedprice * (1 - l_discount) as revenue
from {{ source('raw', 'lineitem') }}""",
}

INCREMENTAL = {
    "fct_orders": """
{{ config(materialized='incremental', incremental_strategy='merge',
          unique_key='o_orderkey') }}
{% if is_incremental() %}
select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, batch_id
from {{ source('landing', 'orders_batch') }}
{% else %}
select *, 0 as batch_id from {{ ref('stg_orders') }}
{% endif %}""",
    "dim_customer": """
{{ config(materialized='incremental', incremental_strategy='delete+insert',
          unique_key='c_custkey') }}
{% if is_incremental() %}
select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
from {{ source('landing', 'customer_batch') }}
{% else %}
select * from {{ ref('stg_customer') }}
{% endif %}""",
}

MARTS = {
    "mart_pricing_summary": """
select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty,
       sum(l_extendedprice) as sum_base_price, sum(revenue) as sum_disc_price,
       sum(revenue * (1 + l_tax)) as sum_charge, count(*) as count_order
from {{ ref('stg_lineitem') }}
where l_shipdate <= date '1998-09-02'
group by l_returnflag, l_linestatus""",
    "mart_shipping_priority": """
select o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       sum(l.revenue) as revenue
from {{ ref('dim_customer') }} c
join {{ ref('fct_orders') }} o on c.c_custkey = o.o_custkey
join {{ ref('stg_lineitem') }} l on l.l_orderkey = o.o_orderkey
where c.c_mktsegment = 'BUILDING' and o.o_orderdate < date '1997-03-15'
  and l.l_shipdate > date '1997-03-15'
group by o.o_orderkey, o.o_orderdate, o.o_orderpriority""",
    "mart_order_priority": """
select o.o_orderpriority, count(*) as order_count
from {{ ref('fct_orders') }} o
where o.o_orderdate >= date '1996-07-01' and o.o_orderdate < date '1996-10-01'
  and exists (select 1 from {{ ref('stg_lineitem') }} l
              where l.l_orderkey = o.o_orderkey
                and l.l_shipdate > o.o_orderdate)
group by o.o_orderpriority""",
    "mart_local_supplier": """
select n.n_name, sum(l.revenue) as revenue
from {{ ref('dim_customer') }} c
join {{ ref('fct_orders') }} o on c.c_custkey = o.o_custkey
join {{ ref('stg_lineitem') }} l on l.l_orderkey = o.o_orderkey
join {{ ref('stg_supplier') }} s
  on l.l_suppkey = s.s_suppkey and c.c_nationkey = s.s_nationkey
join {{ ref('stg_nation') }} n on s.s_nationkey = n.n_nationkey
where n.r_name = 'ASIA' and o.o_orderdate >= date '1996-01-01'
  and o.o_orderdate < date '1997-01-01'
group by n.n_name""",
    "mart_returned_items": """
select c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       sum(l.revenue) as revenue
from {{ ref('dim_customer') }} c
join {{ ref('fct_orders') }} o on c.c_custkey = o.o_custkey
join {{ ref('stg_lineitem') }} l on l.l_orderkey = o.o_orderkey
join {{ ref('stg_nation') }} n on c.c_nationkey = n.n_nationkey
where o.o_orderdate >= date '1996-10-01' and o.o_orderdate < date '1997-01-01'
  and l.l_returnflag = 'R'
group by c.c_custkey, c.c_name, c.c_acctbal, n.n_name""",
    "mart_large_orders": """
select o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       sum(l.l_quantity) as total_qty
from {{ ref('fct_orders') }} o
join {{ ref('stg_lineitem') }} l on l.l_orderkey = o.o_orderkey
group by o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
having sum(l.l_quantity) > 200""",
    "mart_segment_revenue": """
select c.c_mktsegment, count(*) as orders, sum(o.o_totalprice) as revenue,
       max(t.target_revenue) as target_revenue
from {{ ref('fct_orders') }} o
join {{ ref('dim_customer') }} c on o.o_custkey = c.c_custkey
join {{ ref('segment_targets') }} t on t.c_mktsegment = c.c_mktsegment
group by c.c_mktsegment""",
    "mart_nation_revenue": """
select n.n_name, year(o.o_orderdate) as o_year,
       sum(o.o_totalprice) as revenue, count(*) as orders
from {{ ref('fct_orders') }} o
join {{ ref('dim_customer') }} c on o.o_custkey = c.c_custkey
join {{ ref('stg_nation') }} n on c.c_nationkey = n.n_nationkey
group by n.n_name, year(o.o_orderdate)""",
}

SNAPSHOT = """{% snapshot snap_customer %}
{{ config(unique_key='c_custkey', strategy='check',
          check_cols=['c_acctbal', 'c_mktsegment']) }}
select * from {{ ref('dim_customer') }}
{% endsnapshot %}
"""

SEED_CSV = """c_mktsegment,target_revenue
AUTOMOBILE,750000000
BUILDING,760000000
FURNITURE,740000000
HOUSEHOLD,755000000
MACHINERY,745000000
"""

SEGMENTS = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"

SCHEMA_YML = f"""version: 2
models:
  - name: fct_orders
    columns:
      - name: o_orderkey
        tests: [unique, not_null]
      - name: o_orderstatus
        tests:
          - accepted_values: {{values: ['F', 'O', 'P']}}
      - name: o_orderpriority
        tests:
          - accepted_values:
              values: ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
      - name: o_custkey
        tests:
          - relationships: {{to: "ref('dim_customer')", field: c_custkey}}
  - name: dim_customer
    columns:
      - name: c_custkey
        tests: [unique, not_null]
      - name: c_mktsegment
        tests:
          - accepted_values: {{values: {SEGMENTS}}}
  - name: mart_pricing_summary
    columns:
      - name: l_returnflag
        tests: [not_null]
  - name: mart_segment_revenue
    columns:
      - name: c_mktsegment
        tests: [unique]
  - name: mart_nation_revenue
    columns:
      - name: n_name
        tests: [not_null]
seeds:
  - name: segment_targets
    columns:
      - name: c_mktsegment
        tests: [unique]
"""


def sources_yml(data_dir: str, landing_dir: str) -> str:
    raw = "".join(
        f"      - name: {t}\n        meta:\n"
        f"          location: {data_dir}/{t}.parquet\n" for t in RAW_TABLES)
    landing = "".join(
        f"      - name: {t}_batch\n        meta:\n"
        f"          location: \"{landing_dir}/{t}_{{{{ var('batch') }}}}.parquet\"\n"
        for t in ("orders", "customer"))
    return ("version: 2\nsources:\n  - name: raw\n    tables:\n" + raw
            + "  - name: landing\n    tables:\n" + landing)


def chain_head_sql(c: int, tag: str) -> str:
    return (f"select n_nationkey as id, '{tag}' as v "
            f"from {{{{ ref('stg_nation') }}}} where n_nationkey = {c}\n")


def chain_sql(names: list[str], i: int) -> str:
    return f"select id, v from {{{{ ref('{names[i - 1]}') }}}}\n"


def write_project(root: str, data_dir: str, landing_dir: str,
                  chains: list[list[str]]) -> None:
    files = {
        "dbt_project.yml": PROJECT_YML,
        "models/sources.yml": sources_yml(data_dir, landing_dir),
        "models/schema.yml": SCHEMA_YML,
        "snapshots/snap_customer.sql": SNAPSHOT,
        "seeds/segment_targets.csv": SEED_CSV,
    }
    for name, sql in STAGING.items():
        files[f"models/staging/{name}.sql"] = sql.strip() + "\n"
    for name, sql in INCREMENTAL.items():
        files[f"models/staging/{name}.sql"] = sql.strip() + "\n"
    for name, sql in MARTS.items():
        files[f"models/marts/{name}.sql"] = sql.strip() + "\n"
    for c, names in enumerate(chains):
        files[f"models/chains/{names[0]}.sql"] = chain_head_sql(c, "t0")
        for i in range(1, len(names)):
            files[f"models/chains/{names[i]}.sql"] = chain_sql(names, i)
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)


_REF = re.compile(r"\{\{\s*ref\('(\w+)'\)\s*\}\}")
_SOURCE = re.compile(r"\{\{\s*source\('(\w+)',\s*'(\w+)'\)\s*\}\}")


def duckdb_sql(sql: str) -> str:
    """The non-incremental text of a model with refs and sources resolved
    to DuckDB view names (``ref('x')`` -> ``x``, ``source('raw', 't')`` ->
    ``raw_t``)."""
    sql = _REF.sub(r"\1", sql)
    return _SOURCE.sub(r"\1_\2", sql)
