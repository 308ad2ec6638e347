"""The seeded reference-dialect SQL stream of the ``sql_interactive``
workload, its in-memory tables, its UDFs and its pinned answers.

Every template is one statement shape the reference engine serves, with
a DuckDB statement that computes the same answer. The stream repeats
each template its ``repeats`` times with seeded constants, in seeded
order, so every seed issues the same mix of shapes and only the
constants and the data change. Answers are computed by DuckDB over the
same generated tables before the engine runs, which pins them per seed.
"""

from __future__ import annotations

import asyncio
import random
from dataclasses import dataclass, field

PARQUET_TABLES = ("lineitem", "orders", "customer", "nation")
CITIES = {"NYC": "east", "Boston": "east", "LA": "west", "Seattle": "west", "Austin": "south"}
NAMES = ["Alice", "Bob", "Charlie", "Diana", "Eve", "Frank", "Grace", "Heidi"]
REPEATS = 3
STRICT_SHARE = 0.25


def shout_value(s):
    return None if s is None else s.upper() + "!"


def llm_value(s):
    return None if s is None else f"{len(s)}:{s[::-1]}"


def rate_value(s):
    return None if s is None else float(len(s) % 5) + 0.5


def make_functions(counter=None) -> dict:
    """The stream's UDFs: ``shout`` (sync), ``llm`` (async) and ``rate``
    (sync, ``expensive=True``). Each evaluation adds 1 to ``counter``, a
    Spark accumulator, so the benchmark can count evaluated cells."""
    from pyspark.sql.types import DoubleType, StringType

    from squirreling_spark.functions.registry import FunctionSpec

    def counted(fn):
        def apply(s):
            if counter is not None:
                counter.add(1)
            return fn(s)

        return apply

    shout = counted(shout_value)
    llm_sync = counted(llm_value)

    async def llm(s):
        await asyncio.sleep(0)
        return llm_sync(s)

    return {
        "shout": FunctionSpec(apply=shout, return_type=StringType()),
        "llm": FunctionSpec(apply=llm, return_type=StringType()),
        "rate": FunctionSpec(
            apply=counted(rate_value), return_type=DoubleType(), expensive=True
        ),
    }


def memory_tables(rng: random.Random) -> dict[str, list[dict]]:
    """Small list-of-dicts tables, the reference's in-memory sources."""
    cities = list(CITIES)
    users = [
        {
            "id": i,
            "name": f"{rng.choice(NAMES)}{i}",
            "age": rng.randint(18, 70),
            "city": (city := rng.choice(cities)),
            "region": CITIES[city],
            "active": rng.random() < 0.6,
        }
        for i in range(1, 61)
    ]
    sales = [
        {"id": i, "region": rng.choice(["east", "west", "north"]), "amount": rng.randint(10, 500)}
        for i in range(1, 81)
    ]
    data = [{"id": i, "name": f"{rng.choice(NAMES)}-{i}"} for i in range(1, 41)]
    json_data = []
    for i in range(1, 41):
        keys = rng.sample(["a", "b", "c", "d", "e"], rng.randint(1, 4))
        body = ", ".join(f'"{k}": {rng.randint(0, 99)}' for k in sorted(keys))
        json_data.append({"id": i, "doc": "{" + body + "}"})
    arr_data = [
        {"id": i, "nums": [rng.randint(0, 50) for _ in range(rng.randint(1, 5))]}
        for i in range(1, 41)
    ]
    n_a, n_b = rng.randint(8, 16), rng.randint(8, 16)
    table_a = [{"id": i, "name": f"{rng.choice(NAMES)}{i}"} for i in range(n_a)]
    table_b = [{"code": f"C{i:02d}", "value": rng.randint(1, 999)} for i in range(n_b)]
    return {
        "users": users,
        "sales": sales,
        "data": data,
        "json_data": json_data,
        "arr_data": arr_data,
        "tableA": table_a,
        "tableB": table_b,
    }


@dataclass
class Template:
    name: str
    tables: tuple[str, ...]
    sql: str  # reference dialect, for execute_sql
    oracle: str  # DuckDB
    params: dict  # name -> candidate values
    strict_ok: bool = True
    functions: bool = False
    repeats: int = REPEATS


TEMPLATES = [
    Template(
        "lineitem_flag_agg",
        ("lineitem",),
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
        "MAX(l_extendedprice) AS top FROM lineitem "
        "WHERE l_discount >= {d} AND l_quantity < {q} GROUP BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
        "MAX(l_extendedprice) AS top FROM lineitem "
        "WHERE l_discount >= {d} AND l_quantity < {q} GROUP BY l_returnflag, l_linestatus",
        {"d": [0.02, 0.04, 0.06, 0.08], "q": [10, 25, 40, 51]},
    ),
    Template(
        "orders_nation_join",
        ("orders", "customer", "nation"),
        "SELECT n.n_name, COUNT(*) AS n_orders, MIN(o.o_totalprice) AS low "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE o.o_orderpriority = '{prio}' GROUP BY n.n_name",
        "SELECT n.n_name, COUNT(*) AS n_orders, MIN(o.o_totalprice) AS low "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE o.o_orderpriority = '{prio}' GROUP BY n.n_name",
        {"prio": ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]},
    ),
    Template(
        "users_group",
        ("users",),
        "SELECT city, COUNT(*) AS n, MAX(age) AS oldest FROM users "
        "WHERE age >= {a} GROUP BY city",
        "SELECT city, COUNT(*) AS n, MAX(age) AS oldest FROM users "
        "WHERE age >= {a} GROUP BY city",
        {"a": [18, 30, 45]},
    ),
    # A bare non-aggregated column: Spark rejects it, the engine retries
    # with any_value (its loose GROUP BY). region is fixed per city, so
    # the answer is deterministic.
    Template(
        "users_loose_group",
        ("users",),
        "SELECT city, region, COUNT(*) AS n FROM users WHERE age < {a} GROUP BY city",
        "SELECT city, MIN(region) AS region, COUNT(*) AS n FROM users "
        "WHERE age < {a} GROUP BY city",
        {"a": [40, 60, 71]},
        strict_ok=False,
    ),
    Template(
        "unnest_nums",
        ("arr_data",),
        "SELECT t.id, u.x FROM arr_data t JOIN UNNEST(t.nums) AS u(x) ON TRUE WHERE u.x > {v}",
        "SELECT t.id, u.x FROM arr_data t, UNNEST(t.nums) AS u(x) WHERE u.x > {v}",
        {"v": [0, 10, 25, 40]},
    ),
    Template(
        "json_each_doc",
        ("json_data",),
        "SELECT d.id, j.key, j.value FROM json_data d "
        "JOIN JSON_EACH(d.doc) AS j ON TRUE WHERE d.id <= {n}",
        "SELECT d.id, k AS key, json_extract_string(d.doc, '$.' || k) AS value "
        "FROM json_data d, UNNEST(json_keys(d.doc)) AS t(k) WHERE d.id <= {n}",
        {"n": [10, 25, 40]},
    ),
    Template(
        "positional_join",
        ("tableA", "tableB"),
        "SELECT tableA.name, tableB.code, tableB.value FROM tableA POSITIONAL JOIN tableB",
        "SELECT tableA.name, tableB.code, tableB.value FROM tableA POSITIONAL JOIN tableB",
        {},
        # Over twice any other shape's latency. Once per pass it is the
        # slowest statement; with two or more, p90 sat on the gap between
        # them and the rest and jumped across it from run to run.
        repeats=1,
    ),
    Template(
        "bigint_literal",
        ("sales",),
        "SELECT id, amount * {m}n AS scaled FROM sales WHERE amount > {x}n",
        "SELECT id, amount * {m} AS scaled FROM sales WHERE amount > {x}",
        {"m": [2, 3, 1000000007], "x": [50, 200, 400]},
    ),
    Template(
        "sales_row_number",
        ("sales",),
        "SELECT region, id, ROW_NUMBER() OVER (PARTITION BY region ORDER BY amount DESC, id) "
        "AS rn FROM sales WHERE amount >= {x}",
        "SELECT region, id, ROW_NUMBER() OVER (PARTITION BY region ORDER BY amount DESC, id) "
        "AS rn FROM sales WHERE amount >= {x}",
        {"x": [10, 100, 300]},
    ),
    Template(
        "udf_sync",
        ("users",),
        "SELECT id, shout(name) AS s FROM users WHERE age > {a}",
        "SELECT id, shout(name) AS s FROM users WHERE age > {a}",
        {"a": [20, 40, 60]},
        functions=True,
    ),
    Template(
        "udf_async",
        ("data",),
        "SELECT id, llm(name) AS r FROM data WHERE id <= {n}",
        "SELECT id, llm(name) AS r FROM data WHERE id <= {n}",
        {"n": [5, 20, 40]},
        functions=True,
    ),
    # The lazy-cell case: an expensive UDF over a LIMIT. The reference
    # evaluates the cell only for returned rows.
    Template(
        "udf_expensive_limit",
        ("data",),
        "SELECT id, rate(name) AS r FROM data WHERE id > {n} ORDER BY id LIMIT {k}",
        "SELECT id, rate(name) AS r FROM data WHERE id > {n} ORDER BY id LIMIT {k}",
        {"n": [0, 10, 20], "k": [3, 5, 8]},
        functions=True,
    ),
]


@dataclass
class Statement:
    template: str
    sql: str
    oracle: str
    tables: tuple[str, ...]
    strict: bool
    functions: bool
    key: str = field(default="")


def make_stream(rng: random.Random, repeats: int | None = None) -> list[Statement]:
    """Each template's ``repeats`` statements (or ``repeats`` of every
    template, when given) with seeded constants, shuffled."""
    out = []
    for tpl in TEMPLATES:
        for _ in range(repeats or tpl.repeats):
            values = {k: rng.choice(v) for k, v in tpl.params.items()}
            strict = tpl.strict_ok and rng.random() < STRICT_SHARE
            out.append(
                Statement(
                    tpl.name,
                    tpl.sql.format(**values),
                    tpl.oracle.format(**values),
                    tpl.tables,
                    strict,
                    tpl.functions,
                )
            )
    rng.shuffle(out)
    for i, st in enumerate(out):
        st.key = f"{i:03d}:{st.template}"
    return out


def duck_answers(statements: list[Statement], data_dir: str, mem: dict) -> dict:
    """DuckDB's answer to every distinct statement, as pandas frames."""
    import duckdb
    import pandas as pd
    from duckdb.typing import DOUBLE, VARCHAR

    con = duckdb.connect()
    try:
        for name in PARQUET_TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{name}.parquet')"
            )
        for name, rows in mem.items():
            frame = pd.DataFrame.from_records(rows)
            con.register(f"__{name}", frame)
            con.execute(f'CREATE TABLE "{name}" AS SELECT * FROM "__{name}"')
        con.create_function("shout", shout_value, [VARCHAR], VARCHAR)
        con.create_function("llm", llm_value, [VARCHAR], VARCHAR)
        con.create_function("rate", rate_value, [VARCHAR], DOUBLE)
        return {
            sql: con.execute(sql).df()
            for sql in dict.fromkeys(st.oracle for st in statements)
        }
    finally:
        con.close()
