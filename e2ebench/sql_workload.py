"""SQL request templates for the interactive workload, and the DuckDB
oracle their previews are checked against.

Templates cover scan/agg, multi-join, window top-k, EXISTS, percentile and
an events rollup; every request draws its parameters from the seed. Each
template orders its result totally, so the first 200 rows are defined.
"""

from __future__ import annotations

import math
import random

#: name -> (Spark SQL, DuckDB SQL or None when identical, sources, params).
#: ``params`` lists the parameter values a request draws from.
TEMPLATES = {
    "pricing_summary": (
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                  sum(l_extendedprice) AS sum_base,
                  sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
                  avg(l_discount) AS avg_disc, count(*) AS n
           FROM lineitem WHERE l_shipdate <= DATE '{d}'
           GROUP BY l_returnflag, l_linestatus
           ORDER BY l_returnflag, l_linestatus""",
        None, ("lineitem",),
        {"d": ["1996-06-30", "1997-03-31", "1998-08-01", "1995-01-15"]}),
    "nation_revenue": (
        """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue,
                  count(*) AS n
           FROM customer JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE c_mktsegment = '{seg}' AND o_orderdate >= DATE '{d}'
             AND o_orderdate < DATE '{d}' + INTERVAL 1 YEAR
           GROUP BY n_name ORDER BY revenue DESC, n_name""",
        None, ("customer", "orders", "lineitem", "supplier", "nation"),
        {"seg": ["AUTOMOBILE", "BUILDING", "MACHINERY"],
         "d": ["1993-01-01", "1994-01-01", "1995-01-01"]}),
    "top_customers_per_nation": (
        """SELECT n_name, c_custkey, spend, rk FROM (
             SELECT n_name, c_custkey, spend, row_number() OVER (
                 PARTITION BY n_name ORDER BY spend DESC, c_custkey) AS rk
             FROM (SELECT c_nationkey, c_custkey, sum(o_totalprice) AS spend
                   FROM customer JOIN orders ON c_custkey = o_custkey
                   WHERE o_orderpriority = '{prio}'
                   GROUP BY c_nationkey, c_custkey) s
             JOIN nation ON c_nationkey = n_nationkey) t
           WHERE rk <= {k} ORDER BY n_name, rk""",
        None, ("customer", "orders", "nation"),
        {"prio": ["1-URGENT", "3-MEDIUM", "5-LOW"], "k": [2, 3, 5]}),
    "orders_with_bulk_lines": (
        """SELECT o_orderpriority, count(*) AS order_count
           FROM orders
           WHERE o_orderdate >= DATE '{d}'
             AND o_orderdate < DATE '{d}' + INTERVAL 3 MONTH
             AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                         AND l_quantity >= {q} AND l_shipmode = '{mode}')
           GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        None, ("orders", "lineitem"),
        {"d": ["1993-07-01", "1995-10-01", "1996-04-01"], "q": [30, 45],
         "mode": ["AIR", "RAIL", "TRUCK"]}),
    "price_percentiles": (
        """SELECT l_shipmode, percentile(l_extendedprice, {p}) AS pct,
                  count(*) AS n
           FROM lineitem WHERE l_discount >= {disc}
           GROUP BY l_shipmode ORDER BY l_shipmode""",
        """SELECT l_shipmode, quantile_cont(l_extendedprice, {p}) AS pct,
                  count(*) AS n
           FROM lineitem WHERE l_discount >= {disc}
           GROUP BY l_shipmode ORDER BY l_shipmode""",
        ("lineitem",),
        {"p": [0.5, 0.9, 0.99], "disc": [0.02, 0.05, 0.08]}),
    "events_rollup": (
        """SELECT month(event_date) AS m, event_type, count(*) AS n,
                  count(DISTINCT user_id) AS users, sum(amount) AS amount
           FROM events WHERE event_date >= DATE '{d}'
           GROUP BY month(event_date), event_type
           ORDER BY m, event_type""",
        None, ("events",),
        {"d": ["1998-01-01", "1998-04-01", "1998-09-01"]}),
    "brand_revenue": (
        """SELECT p_brand, p_type, sum(l_extendedprice * (1 - l_discount)) AS revenue
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_size BETWEEN {lo} AND {lo} + 10 AND l_shipmode = '{mode}'
           GROUP BY p_brand, p_type ORDER BY revenue DESC, p_brand, p_type
           LIMIT 50""",
        None, ("lineitem", "part"),
        {"lo": [1, 15, 30], "mode": ["MAIL", "SHIP", "FOB"]}),
    "top_suppliers": (
        """SELECT s_suppkey, s_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           WHERE l_shipdate >= DATE '{d}' AND l_shipdate < DATE '{d}' + INTERVAL 3 MONTH
           GROUP BY s_suppkey, s_name ORDER BY revenue DESC, s_suppkey LIMIT 20""",
        None, ("lineitem", "supplier"),
        {"d": ["1993-01-01", "1994-07-01", "1996-01-01", "1997-04-01"]}),
    "order_count_histogram": (
        """SELECT c_count, count(*) AS custdist FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '{prio}'
             GROUP BY c_custkey) c
           GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
        None, ("customer", "orders"),
        {"prio": ["1-URGENT", "2-HIGH", "4-NOT SPECIFIED"]}),
    "heavy_buyers": (
        """SELECT user_id, count(*) AS purchases, sum(amount) AS spent
           FROM events WHERE event_type = '{et}'
           GROUP BY user_id HAVING count(*) >= {n}
           ORDER BY purchases DESC, user_id LIMIT 50""",
        None, ("events",),
        {"et": ["purchase", "cart", "click"], "n": [2, 3]}),
}


class Request:
    __slots__ = ("template", "spark_sql", "duck_sql", "sources")

    def __init__(self, template, spark_sql, duck_sql, sources):
        self.template, self.spark_sql = template, spark_sql
        self.duck_sql, self.sources = duck_sql, sources


def request(seed: int, paths: dict[str, str], k: int) -> Request:
    """The ``k``-th request of the fixed sequence: rounds that visit every
    template once, in a seeded order, each with seeded parameters."""
    rnd, pos = divmod(k, len(TEMPLATES))
    names = sorted(TEMPLATES)
    random.Random(f"{seed}/order/{rnd}").shuffle(names)
    name = names[pos]
    spark_t, duck_t, srcs, params = TEMPLATES[name]
    rng = random.Random(f"{seed}/params/{k}")
    vals = {key: rng.choice(v) for key, v in sorted(params.items())}
    return Request(name, spark_t.format(**vals), (duck_t or spark_t).format(**vals),
                   {s: paths[s] for s in srcs})


class Oracle:
    """DuckDB over the same parquet files, one view per table."""

    def __init__(self, paths: dict[str, str]):
        import duckdb

        self.con = duckdb.connect(config={"threads": 1})
        for name, path in paths.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, tuple] = {}

    def expected(self, sql: str, limit: int, cap: int) -> tuple:
        if sql not in self._cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self._cache[sql] = (cols, rows[:limit], min(len(rows), cap))
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def check_preview(result: dict, expected: tuple) -> str | None:
    """None when the preview equals the oracle's rows, else a reason."""
    cols, rows, total = expected
    if result["columns"] != cols:
        return f"columns {result['columns']} != {cols}"
    if result["total_rows"] != total:
        return f"total_rows {result['total_rows']} != {total}"
    got = [tuple(r[c] for c in cols) for r in result["rows"]]
    if len(got) != len(rows):
        return f"{len(got)} preview rows != {len(rows)}"
    for i, (g, e) in enumerate(zip(got, rows)):
        if len(g) != len(e) or not all(_same(x, y) for x, y in zip(g, e)):
            return f"row {i}: {g} != {e}"
    return None
