"""Statement texts of the benchmark workloads, with their DuckDB oracles.

Every text here is the benchmark's own frozen copy: the `olap`
statements were copied from the suite's `sql_*` entries and their
`ORACLE` twins, so later edits to the suite cannot change a workload.
The engine only ever receives the dialect text; the DuckDB text is
used outside the timed region to check the returned rows.
"""

from __future__ import annotations

import random

# --- olap: heavy dialect statements on sf0.1 --------------------------------
#
# (name, dialect SQL, DuckDB SQL): nine TPC-H shapes, then the
# LLM-pipeline table functions annTopK, gopherQuality and hllDistinct.
OLAP = [
    (
        'sql_q1',
        """
select
    l_returnflag,
    l_linestatus,
    sum(floor(l_quantity * 10000)) / 10000.0 as sum_qty,
    sum(floor(l_extendedprice * 10000)) / 10000.0 as sum_base,
    sum(floor(l_extendedprice * (1 - l_discount) * 10000)) / 10000.0 as sum_disc_price,
    count(*) as count_order
from
    lineitem
where
    l_shipdate <= toDatetime('1998-11-21 00:00:00')
group by
    l_returnflag,
    l_linestatus
order by
    l_returnflag,
    l_linestatus
""",
        """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_qty,
  CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_base,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-11-21 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    ),
    (
        'sql_q4_exists',
        """
select
    o_orderpriority,
    count(*) as order_count
from orders
where
    o_orderdate >= toDatetime('1997-07-01 00:00:00')
    and o_orderdate < toDatetime('1997-07-01 00:00:00') + interval 3 month
    and exists (
        select * from lineitem
        where l_orderkey = o_orderkey
          and l_shipdate > o_orderdate + interval 2 month
    )
group by o_orderpriority
order by o_orderpriority
""",
        """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-07-01' + INTERVAL 3 MONTH
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 2 MONTH)
GROUP BY o_orderpriority
""",
    ),
    (
        'sql_q17_corr',
        """
select sum(floor(l_extendedprice * 100)) / 100.0 / 7.0 as avg_yearly
from lineitem
join part on p_partkey = l_partkey
where p_brand = 'Brand#4' and p_size < 15
  and l_quantity < (select 0.2 * avg(l_quantity) from lineitem
                    where l_partkey = p_partkey)
""",
        """
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4' AND p_size < 15
  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem
                    WHERE l_partkey = p_partkey)
""",
    ),
    (
        'sql_q21_corr',
        """
select s_name, count(*) as numwait
from supplier, lineitem as l1, orders, nation
where s_suppkey = l1.l_suppkey and o_orderkey = l1.l_orderkey
  and o_orderstatus = 'F'
  and l1.l_shipdate > o_orderdate + interval 1 month
  and exists (select * from lineitem as l2
              where l2.l_orderkey = l1.l_orderkey
                and l2.l_suppkey != l1.l_suppkey)
  and not exists (select * from lineitem as l3
                  where l3.l_orderkey = l1.l_orderkey
                    and l3.l_suppkey != l1.l_suppkey
                    and l3.l_shipdate > o_orderdate + interval 1 month)
  and s_nationkey = n_nationkey and n_name = 'NATION_5'
group by s_name
""",
        """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 1 MONTH
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 1 MONTH)
  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
GROUP BY s_name
""",
    ),
    (
        'sql_q22_corr',
        """
select toString(c_nationkey % 5) as cntrycode,
       count(*) as numcust,
       sum(floor(c_acctbal * 10000)) / 10000.0 as totacctbal
from customer
where c_acctbal > (select sum(floor(c_acctbal * 10000)) / 10000.0
                          / count(c_acctbal)
                   from customer where c_acctbal > 0)
  and not exists (select * from orders
                  where o_custkey = c_custkey
                    and o_totalprice > 300000)
group by toString(c_nationkey % 5)
""",
        """
SELECT CAST(c_nationkey % 5 AS VARCHAR) AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(FLOOR(c_acctbal * 10000) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT (CAST(SUM(CAST(FLOOR(c_acctbal * 10000)
                     AS BIGINT)) AS DOUBLE) / 10000.0) / COUNT(c_acctbal)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_totalprice > 300000)
GROUP BY cntrycode
""",
    ),
    (
        'sql_multi_join',
        """
-- corpus 10.sql shape: long left-join chain with expressions
select o.o_orderkey as o_orderkey,
       c.c_mktsegment as `seg`,
       case when o.o_orderpriority = '1-URGENT' then 3
            when o.o_orderpriority = '2-HIGH' then 2
            else (p.p_size >> 2) & 0x3 end as pri_bucket,
       n.n_regionkey | 8 as flags  /* bit ops over joins */
from orders as o
left join customer as c on o.o_custkey = c.c_custkey
left join nation as n on c.c_nationkey = n.n_nationkey
left join region as r on n.n_regionkey = r.r_regionkey
left join lineitem as l on o.o_orderkey = l.l_orderkey and l.l_linenumber = 1
left join part as p on l.l_partkey = p.p_partkey
left join supplier as s on l.l_suppkey = s.s_suppkey
where o.o_orderkey < 500
""",
        """
SELECT o_orderkey, seg, pri_bucket, flags
FROM (
  SELECT o.o_orderkey AS o_orderkey,
         c.c_mktsegment AS seg,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 3
              WHEN o.o_orderpriority = '2-HIGH' THEN 2
              ELSE (p.p_size >> 2) & 3 END AS pri_bucket,
         n.n_regionkey | 8 AS flags
  FROM orders o
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
  LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey AND l.l_linenumber = 1
  LEFT JOIN part p ON l.l_partkey = p.p_partkey
  LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE o.o_orderkey < 500) t
""",
    ),
    (
        'sql_window',
        """
select user_id, event_id,
       row_number() over (partition by user_id
                          order by ts, event_id) as rn,
       sum(floor(value * 10000))
         over (partition by user_id order by ts, event_id
               rows unbounded preceding) / 10000.0 as run_sum,
       lag(event_id, 1) over (partition by user_id
                              order by ts, event_id) as prev_id,
       lead(event_id, 1, -1) over (partition by user_id
                                   order by ts, event_id) as next_id,
       count(*) over (partition by user_id) as n_user,
       ntile(4) over (partition by user_id
                      order by ts, event_id) as quart,
       sum(floor(value * 10000))
         over (partition by user_id order by ts, event_id
               rows between 3 preceding and current row)
         / 10000.0 as last4
from events
where user_id < 30
""",
        """
SELECT user_id, event_id,
       ROW_NUMBER() OVER w AS rn,
       CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) / 10000.0 AS run_sum,
       LAG(event_id, 1) OVER w AS prev_id,
       LEAD(event_id, 1, -1) OVER w AS next_id,
       COUNT(*) OVER (PARTITION BY user_id) AS n_user,
       NTILE(4) OVER w AS quart,
       CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 10000.0 AS last4
FROM events
WHERE user_id < 30
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    ),
    (
        'sql_limit_by',
        """
select l_returnflag, l_orderkey, count(*) as n
from lineitem
group by l_returnflag, l_orderkey
order by n desc, l_orderkey, l_returnflag
limit 2 by l_returnflag
limit 5
""",
        """
SELECT l_returnflag, l_orderkey, n FROM (
  SELECT l_returnflag, l_orderkey, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY COUNT(*) DESC, l_orderkey) AS rn
  FROM lineitem GROUP BY l_returnflag, l_orderkey) t
WHERE rn <= 2
ORDER BY n DESC, l_orderkey, l_returnflag
LIMIT 5
""",
    ),
    (
        'sql_topk_rollup',
        """
select l_returnflag as k,
       arrayStringConcat(topK(2)(l_linestatus), ',') as top_status,
       count(*) as n
from lineitem group by l_returnflag with rollup
order by k nulls first
""",
        """
WITH c AS (
  SELECT l_returnflag AS k, l_linestatus AS val, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2),
u AS (
  SELECT k, val, cnt FROM c
  UNION ALL
  SELECT CAST(NULL AS VARCHAR), val, SUM(cnt) FROM c GROUP BY val)
SELECT k,
       list_aggregate((list(val ORDER BY cnt DESC, val))[1:2],
                      'string_agg', ',') AS top_status,
       CAST(SUM(cnt) AS BIGINT) AS n
FROM u GROUP BY k
ORDER BY k NULLS FIRST
""",
    ),
    (
        'sql_table_fn_ann',
        """
select query_id, neighbor_id, rank
from annTopK('embeddings', 'vec_id', 'embedding', 5, 10)
order by query_id, rank
""",
        """
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS s FROM embeddings),
n AS (
  SELECT vec_id, label, s,
         CAST(list_sum(list_transform(range(1, len(s) + 1), i -> s[i] * s[i])) AS BIGINT) AS n2
  FROM v)

SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY CAST(CAST(list_sum(list_transform(range(1, len(q.s) + 1), i -> q.s[i] * c.s[i])) AS BIGINT) AS DOUBLE) / sqrt(CAST(q.n2 AS DOUBLE)) / sqrt(CAST(c.n2 AS DOUBLE)) DESC,
                    c.vec_id) AS rank
  FROM n q JOIN n c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10) t
WHERE rank <= 5
ORDER BY query_id, rank
""",
    ),
    (
        'sql_table_fn_gopher',
        """
select doc_id, n_words, n_stop_hits, ok_words, passes from gopherQuality('documents', 'doc_id', 'text', 'english') where doc_id < 200 order by doc_id
""",
        r"""
SELECT doc_id, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) AS n_words,
       CAST(len(list_filter(['the', 'a', 'and', 'of', 'to', 'in', 'is', 'for', 'that', 'it', 'on', 'with', 'as'], s -> list_contains(list_transform(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0), t -> lower(t)), s))) AS BIGINT) AS n_stop_hits,
       (CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) >= 50 AND CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) <= 100000) AS ok_words, ((CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) >= 50 AND CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) <= 100000) AND (CAST(coalesce(list_sum(list_transform(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0), t -> CAST(length(t) AS BIGINT))), 0) AS BIGINT) >= 3 * CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) AND CAST(coalesce(list_sum(list_transform(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0), t -> CAST(length(t) AS BIGINT))), 0) AS BIGINT) <= 10 * CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT)) AND (10 * CAST(len(regexp_extract_all(text, '#')) AS BIGINT) <= CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) AND 10 * CAST(len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) <= CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT)) AND (10 * CAST(len(list_filter(list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0), l -> regexp_matches(l, '^\s*[-*]'))) AS BIGINT) <= 9 * CAST(len(list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0)) AS BIGINT)) AND (10 * CAST(len(list_filter(list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0), l -> regexp_matches(l, '\.\.\.\s*$'))) AS BIGINT) <= 3 * CAST(len(list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0)) AS BIGINT)) AND (5 * CAST(len(list_filter(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0), t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) >= 4 * CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT)) AND (CAST(len(list_filter(['the', 'a', 'and', 'of', 'to', 'in', 'is', 'for', 'that', 'it', 'on', 'with', 'as'], s -> list_contains(list_transform(list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0), t -> lower(t)), s))) AS BIGINT) >= 2)) AS passes
FROM documents WHERE doc_id < 200 ORDER BY doc_id
""",
    ),
    (
        'sql_table_fn_hll',
        """
select event_type, n_zero, est from hllDistinct('events', 'event_type', 'user_id') order by event_type
""",
        """
SELECT * FROM (
    SELECT event_type,
           CAST(256 - COUNT(*) AS BIGINT) AS n_zero,
           CAST(4.2399330249068963e+20 AS DOUBLE)
             / CAST(SUM(CAST(1 AS BIGINT) << (53 - m))
                    + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53)
                    AS DOUBLE) AS est
    FROM (
    SELECT event_type, base % 256 AS idx,
           CAST(MAX(CASE WHEN base // 256 = 0 THEN 53
                ELSE 52 - length(bin(base // 256)) + 1 END)
                AS BIGINT) AS m
    FROM (SELECT event_type, CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS base FROM events)
    GROUP BY event_type, idx)
    GROUP BY event_type) ORDER BY event_type
""",
    ),
]

# --- dashboard: short seeded SELECTs on sf0.01 -------------------------------
#
# Each template draws fresh literals from the client's RNG, so no two
# statements share a text; every statement shares one of the templates.
# Key ranges match the sf0.01 fixtures (fixtures.py).

_N_ORDERS, _N_CUST, _N_PART, _N_USERS = 15_000, 1_500, 2_000, 150


def _order_point(r: random.Random):
    k = r.randrange(_N_ORDERS)
    sql = (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        f"o_orderdate FROM orders WHERE o_orderkey = {k}"
    )
    return sql, sql


def _lineitem_range(r: random.Random):
    a = r.randrange(_N_ORDERS - 5)
    sql = (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        f"l_shipdate FROM lineitem WHERE l_orderkey BETWEEN {a} AND {a + 4} "
        "ORDER BY l_orderkey, l_linenumber"
    )
    return sql, sql


def _events_user_days(r: random.Random):
    u = r.randrange(_N_USERS)
    return (
        "SELECT toYYYYMMDD(ts) AS day, count() AS n, "
        "countUnique(event_type) AS kinds FROM events "
        f"WHERE user_id = {u} GROUP BY day ORDER BY day",
        "SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS day, "
        "COUNT(*) AS n, COUNT(DISTINCT event_type) AS kinds FROM events "
        f"WHERE user_id = {u} GROUP BY day",
    )


def _customer_orders_page(r: random.Random):
    c, off, n = r.randrange(_N_CUST), r.randrange(4), r.randrange(3, 6)
    head = (
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders "
        f"WHERE o_custkey = {c} ORDER BY o_orderkey "
    )
    return head + f"LIMIT {off}, {n}", head + f"LIMIT {n} OFFSET {off}"


def _customer_dims(r: random.Random):
    keys = ", ".join(str(r.randrange(_N_CUST)) for _ in range(3))
    sql = (
        "SELECT c.c_custkey, c.c_name, n.n_name, r.r_name FROM customer AS c "
        "JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
        "JOIN region AS r ON n.n_regionkey = r.r_regionkey "
        f"WHERE c.c_custkey IN ({keys})"
    )
    return sql, sql


def _orders_week(r: random.Random):
    day = f"{r.randrange(1995, 2001)}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}"
    tail = "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    return (
        "SELECT o_orderpriority, count() AS n, max(o_totalprice) AS top "
        f"FROM orders WHERE o_orderdate >= toDateTime('{day} 00:00:00') AND "
        f"o_orderdate < toDateTime('{day} 00:00:00') + INTERVAL 7 DAY " + tail,
        "SELECT o_orderpriority, COUNT(*) AS n, max(o_totalprice) AS top "
        f"FROM orders WHERE o_orderdate >= TIMESTAMP '{day} 00:00:00' AND "
        f"o_orderdate < TIMESTAMP '{day} 00:00:00' + INTERVAL 7 DAY " + tail,
    )


def _events_window(r: random.Random):
    start = f"2024-01-{r.randrange(1, 31):02d} {r.randrange(24):02d}:00:00"
    tail = "GROUP BY event_type ORDER BY event_type"
    return (
        "SELECT event_type, count() AS n, max(value) AS peak FROM events "
        f"WHERE ts >= toDateTime('{start}') AND "
        f"ts < toDateTime('{start}') + INTERVAL 2 HOUR " + tail,
        "SELECT event_type, COUNT(*) AS n, MAX(value) AS peak FROM events "
        f"WHERE ts >= TIMESTAMP '{start}' AND "
        f"ts < TIMESTAMP '{start}' + INTERVAL 2 HOUR " + tail,
    )


def _part_lines(r: random.Random):
    p = r.randrange(_N_PART)
    return (
        "SELECT p.p_name, p.p_brand, count() AS n, sum(l.l_quantity) AS qty "
        "FROM lineitem AS l JOIN part AS p ON l.l_partkey = p.p_partkey "
        f"WHERE l.l_partkey = {p} GROUP BY p.p_name, p.p_brand",
        "SELECT p.p_name, p.p_brand, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
        "FROM lineitem AS l JOIN part AS p ON l.l_partkey = p.p_partkey "
        f"WHERE l.l_partkey = {p} GROUP BY p.p_name, p.p_brand",
    )


DASHBOARD = {
    "order_point": _order_point,
    "lineitem_range": _lineitem_range,
    "events_user_days": _events_user_days,
    "customer_orders_page": _customer_orders_page,
    "customer_dims": _customer_dims,
    "orders_week": _orders_week,
    "events_window": _events_window,
    "part_lines": _part_lines,
}


def dashboard_stream(r: random.Random):
    """Endless (template, dialect SQL, DuckDB SQL) stream of one client:
    blocks of every template once, each block in a seeded order, so the
    template mix of a run does not depend on the seed."""
    names = sorted(DASHBOARD)
    while True:
        r.shuffle(names)
        for name in names:
            yield (name, *DASHBOARD[name](r))


# --- ingest: writes beside reads on one catalog table ----------------------

INGEST_BATCH_ROWS = 50
INGEST_KEYS = 100
INGEST_CATS = 8

INGEST_DDL = [
    "CREATE TABLE ing (id Int64, k Int32, cat String DEFAULT 'none', "
    "qty Int64, price Float64, CONSTRAINT qty_nonneg CHECK qty >= 0) "
    "ORDER BY (k, id)",
    "CREATE VIEW ing_v UPDATE BY Summing ORDER BY (k) AS SELECT k, qty FROM ing",
]
# the same table in DuckDB, replayed from the generated payload
INGEST_ORACLE_DDL = (
    "CREATE TABLE ing (id BIGINT, k INTEGER, cat VARCHAR, qty BIGINT, "
    "price DOUBLE)"
)


def ingest_batch(r: random.Random, first_id: int) -> list[tuple]:
    """One seeded INSERT payload: (id, k, cat, qty, price) rows."""
    return [
        (
            first_id + i,
            r.randrange(INGEST_KEYS),
            f"c{r.randrange(INGEST_CATS)}",
            r.randrange(1, 50),
            r.randrange(100, 99_999) / 100,
        )
        for i in range(INGEST_BATCH_ROWS)
    ]


def insert_values_sql(rows: list[tuple]) -> str:
    vals = ", ".join(f"({i}, {k}, '{c}', {q}, {p!r})" for i, k, c, q, p in rows)
    return f"INSERT INTO ing (id, k, cat, qty, price) VALUES {vals}"


def row_payload_bytes(row: tuple) -> int:
    """User payload of one row: fixed-width id/k/qty/price plus the
    category's characters."""
    return 8 + 4 + len(row[2]) + 8 + 8


def insert_select_sql(first_order: int) -> tuple[str, str]:
    """INSERT … SELECT of ten orders' lines from `lineitem` (dialect,
    DuckDB); `cat` takes its DEFAULT."""
    where = f"WHERE l_orderkey BETWEEN {first_order} AND {first_order + 9}"
    return (
        "INSERT INTO ing (id, k, qty, price) SELECT "
        "l_orderkey * 10 + l_linenumber + 1000000000, "
        "toInt32(l_partkey % 100), toInt64(l_quantity), l_extendedprice "
        f"FROM lineitem {where}",
        "INSERT INTO ing SELECT l_orderkey * 10 + l_linenumber + 1000000000, "
        "CAST(l_partkey % 100 AS INTEGER), 'none', CAST(l_quantity AS BIGINT), "
        f"l_extendedprice FROM lineitem {where}",
    )


def ingest_point_read(k: int) -> tuple[str, str]:
    return (
        f"SELECT k, qty FROM ing_v WHERE k = {k}",
        f"SELECT k, CAST(SUM(qty) AS BIGINT) AS qty FROM ing WHERE k = {k} "
        "GROUP BY k",
    )


INGEST_AGG_READ = (
    "SELECT cat, count() AS n, sum(qty) AS q, max(price) AS top FROM ing "
    "GROUP BY cat ORDER BY cat",
    "SELECT cat, COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q, "
    "MAX(price) AS top FROM ing GROUP BY cat",
)
INGEST_FINAL_CHECKS = [
    (
        "SELECT id, k, cat, qty, price FROM ing",
        "SELECT id, k, cat, qty, price FROM ing",
    ),
    (
        "SELECT k, qty FROM ing_v",
        "SELECT k, CAST(SUM(qty) AS BIGINT) AS qty FROM ing GROUP BY k",
    ),
]
