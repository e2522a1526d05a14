"""Seeded KAJ-dialect queries, each paired with its ANSI twin.

Shapes are dealt round-robin so every run sees the same mix; the seed
picks only tables' literals. Literals are chosen from the generated
tables' known domains (see ``gen.star_schema``) so that every query
returns a bounded, usually non-empty result.
"""

from __future__ import annotations

import numpy as np

from perfbench.gen import PRIORITIES, SEGMENTS, STATUSES

SHAPES = (
    "filter_project",
    "join2",
    "join3",
    "join4",
    "theta_join",
    "distinct",
    "orderby",
    "agg_witness",
    "groupby",
)


def make_query(
    rng: np.random.Generator, i: int, rows: dict
) -> tuple[str, str, str, str | None]:
    """(shape, dialect text, ANSI SQL, sort column or None) for the
    i-th query. ``rows`` is the table-size map from ``star_schema``."""
    shape = SHAPES[i % len(SHAPES)]
    nation = int(rng.integers(0, 25))
    seg = str(rng.choice(SEGMENTS))
    status = str(rng.choice(STATUSES))
    prio = str(rng.choice(PRIORITIES))
    if shape == "filter_project":
        lo = int(rng.integers(1_000, 500_000))
        hi = lo + int(3_000_000_000 / rows["orders"]) + 1
        kaj = (
            "SELECT orders.o_orderkey, orders.o_totalprice, "
            "orders.o_orderpriority FROM orders WHERE "
            f'orders.o_totalprice > "{lo}", orders.o_totalprice < "{hi}", '
            f'orders.o_orderstatus = "{status}"'
        )
        ansi = (
            "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders "
            f"WHERE o_totalprice > {lo} AND o_totalprice < {hi} "
            f"AND o_orderstatus = '{status}'"
        )
        return shape, kaj, ansi, None
    if shape == "join2":
        kaj = (
            "SELECT customer.c_name, orders.o_orderkey, orders.o_totalprice "
            "FROM customer, orders WHERE customer.c_custkey = "
            f'orders.o_custkey, customer.c_nationkey = "{nation}", '
            f'orders.o_orderpriority = "{prio}"'
        )
        ansi = (
            "SELECT c.c_name, o.o_orderkey, o.o_totalprice FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            f"WHERE c.c_nationkey = {nation} AND o.o_orderpriority = '{prio}'"
        )
        return shape, kaj, ansi, None
    if shape == "join3":
        qty = int(rng.integers(2, 8))
        kaj = (
            "SELECT customer.c_custkey, orders.o_orderkey, "
            "lineitem.l_linenumber, lineitem.l_quantity FROM customer, "
            "orders, lineitem WHERE customer.c_custkey = orders.o_custkey, "
            "orders.o_orderkey = lineitem.l_orderkey, "
            f'customer.c_mktsegment = "{seg}", '
            f'customer.c_nationkey = "{nation}", lineitem.l_quantity < "{qty}"'
        )
        ansi = (
            "SELECT c.c_custkey, o.o_orderkey, l.l_linenumber, l.l_quantity "
            "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            f"WHERE c.c_mktsegment = '{seg}' AND c.c_nationkey = {nation} "
            f"AND l.l_quantity < {qty}"
        )
        return shape, kaj, ansi, None
    if shape == "join4":
        flag = str(rng.choice(["A", "N", "R"]))
        kaj = (
            "SELECT nation.n_name, customer.c_custkey, orders.o_orderkey, "
            "lineitem.l_extendedprice FROM nation, customer, orders, "
            "lineitem WHERE nation.n_nationkey = customer.c_nationkey, "
            "customer.c_custkey = orders.o_custkey, "
            "orders.o_orderkey = lineitem.l_orderkey, "
            f'nation.n_name = "NATION{nation:02d}", '
            f'orders.o_orderstatus = "{status}", '
            f'lineitem.l_returnflag = "{flag}"'
        )
        ansi = (
            "SELECT n.n_name, c.c_custkey, o.o_orderkey, l.l_extendedprice "
            "FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            f"WHERE n.n_name = 'NATION{nation:02d}' AND "
            f"o.o_orderstatus = '{status}' AND l.l_returnflag = '{flag}'"
        )
        return shape, kaj, ansi, None
    if shape == "theta_join":
        other = int(rng.integers(0, 25))
        kaj = (
            "SELECT customer.c_custkey, supplier.s_suppkey FROM customer, "
            "supplier WHERE customer.c_acctbal > supplier.s_acctbal, "
            f'customer.c_nationkey = "{nation}", '
            f'supplier.s_nationkey = "{other}"'
        )
        ansi = (
            "SELECT c.c_custkey, s.s_suppkey FROM customer c JOIN supplier s "
            f"ON c.c_acctbal > s.s_acctbal WHERE c.c_nationkey = {nation} "
            f"AND s.s_nationkey = {other}"
        )
        return shape, kaj, ansi, None
    if shape == "distinct":
        lo = int(rng.integers(100_000, 400_000))
        kaj = (
            "SELECT DISTINCT customer.c_mktsegment, orders.o_orderpriority "
            "FROM customer, orders WHERE customer.c_custkey = "
            f'orders.o_custkey, orders.o_totalprice > "{lo}"'
        )
        ansi = (
            "SELECT DISTINCT c.c_mktsegment, o.o_orderpriority FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            f"WHERE o.o_totalprice > {lo}"
        )
        return shape, kaj, ansi, None
    if shape == "orderby":
        supp = int(rng.integers(1, rows["supplier"] + 1))
        kaj = (
            "SELECT lineitem.l_orderkey, lineitem.l_extendedprice FROM "
            f'lineitem WHERE lineitem.l_suppkey = "{supp}" '
            "ORDERBY lineitem.l_extendedprice DESC"
        )
        ansi = (
            "SELECT l_orderkey, l_extendedprice FROM lineitem "
            f"WHERE l_suppkey = {supp}"
        )
        return shape, kaj, ansi, "l_extendedprice"
    if shape == "agg_witness":
        part = int(rng.integers(1, rows["part"] + 1))
        agg = str(rng.choice(["MIN", "MAX"]))
        kaj = (
            f"SELECT {agg}(lineitem.l_extendedprice), lineitem.l_orderkey, "
            "lineitem.l_linenumber FROM lineitem WHERE "
            f'lineitem.l_partkey > "{part}"'
        )
        ansi = (
            "SELECT DISTINCT m.v, l.l_orderkey, l.l_linenumber FROM lineitem l, "
            f"(SELECT {agg.lower()}(l_extendedprice) AS v, count(*) AS n "
            f"FROM lineitem WHERE l_partkey > {part}) m "
            f"WHERE l.l_partkey > {part} AND l.l_extendedprice = m.v "
            "AND m.n > 0"
        )
        return shape, kaj, ansi, None
    # groupby
    kaj = (
        "SELECT orders.o_orderpriority, COUNT(orders.o_orderkey), "
        "SUM(orders.o_totalprice), AVG(orders.o_totalprice) FROM orders, "
        "customer WHERE orders.o_custkey = customer.c_custkey, "
        f'customer.c_mktsegment = "{seg}" GROUPBY orders.o_orderpriority'
    )
    ansi = (
        "SELECT o.o_orderpriority, count(*), sum(o.o_totalprice), "
        "avg(o.o_totalprice) FROM orders o JOIN customer c "
        f"ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = '{seg}' "
        "GROUP BY o.o_orderpriority"
    )
    return shape, kaj, ansi, None
