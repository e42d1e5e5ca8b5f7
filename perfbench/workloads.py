"""The workloads: a fixed catalog mix and a seeded interactive load.

Every workload runs a sequence of *passes*. A batch pass builds every entry
of its mix with the catalog function and materialises it into the noop
sink. An interactive pass (a *round*) issues one statement per template,
each with seeded parameters, then one single-vector probe of the persisted
IVF index.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: Scale of the generated tables (lineitem = 6,000,000 x SF rows).
SF = 0.01

#: Reference SQL surface: register_sql pass-through (scan aggregate and a
#: 5-way join, each re-registering every view) plus the profile differ.
SQL_STAR = [
    "pricing_summary",
    "join_5way_region_revenue",
    "profile_diff_lineitem_orders",
]

WORKLOADS = ("sql_star", "interactive")

#: Typical pass time (s) on a 4-core host. A run makes a fixed number of
#: timed passes, ``--seconds`` over this: a count that followed the clock
#: would put slow runs' passes earlier on the JIT warm-up curve than fast
#: runs'.
NOMINAL_PASS_S = {"sql_star": 4.5, "interactive": 2.2}

#: Untimed passes between the output checks and the timed passes. Pass
#: times fall by about a quarter over the first passes of a fresh JVM
#: while the JIT warms up; these passes take most of that fall.
SETTLE_PASSES = {"sql_star": 3, "interactive": 3}


def timed_passes(workload: str, seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_PASS_S[workload]))


IVF_LISTS = 16
PROBE_K = 10
PROBE_N_PROBE = 4

N_CUSTOMERS = max(15, int(150_000 * SF))
N_ORDERS = max(150, int(1_500_000 * SF))
N_USERS = max(15, int(15_000 * SF))
N_VECTORS = max(500, int(20_000 * SF))


@dataclass(frozen=True)
class Op:
    kind: str  # "stmt" or "probe"
    template: str
    sql: str = ""
    vec_id: int = -1


def _stmt(template: str, rng: random.Random) -> Op:
    if template == "point_lookup":
        k = rng.randrange(N_ORDERS)
        sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               f"o_orderdate FROM orders WHERE o_orderkey = {k}")
    elif template == "customer_topk":
        c = rng.randrange(N_CUSTOMERS)
        sql = ("SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
               f"WHERE o_custkey = {c} "
               "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5")
    elif template == "nation_join_agg":
        r = rng.randrange(5)
        sql = ("SELECT n.n_name, count(*) AS n_customers, "
               "CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) "
               "AS total_acctbal FROM customer c "
               "JOIN nation n ON c.c_nationkey = n.n_nationkey "
               f"WHERE n.n_regionkey = {r} GROUP BY n.n_name ORDER BY n.n_name")
    elif template == "lineitem_window_agg":
        day = rng.randrange(0, 2400)
        lo = f"DATE '1995-01-02' + {day}"
        sql = ("SELECT l_returnflag, l_linestatus, count(*) AS n_lines, "
               "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) "
               "AS revenue FROM lineitem "
               f"WHERE l_shipdate >= CAST({lo} AS TIMESTAMP) "
               f"AND l_shipdate < CAST({lo} + 30 AS TIMESTAMP) "
               "GROUP BY l_returnflag, l_linestatus "
               "ORDER BY l_returnflag, l_linestatus")
    elif template == "user_events_agg":
        u = rng.randrange(N_USERS)
        sql = ("SELECT event_type, count(*) AS n_events, max(value) AS max_value "
               f"FROM events WHERE user_id = {u} "
               "GROUP BY event_type ORDER BY event_type")
    else:
        raise ValueError(f"unknown statement template {template!r}")
    return Op("stmt", template, sql=sql)


TEMPLATES = (
    "point_lookup",
    "customer_topk",
    "nation_join_agg",
    "lineitem_window_agg",
    "user_events_agg",
)


def interactive_round(rng: random.Random) -> list[Op]:
    """One round: every statement template once, then one probe."""
    ops = [_stmt(t, rng) for t in TEMPLATES]
    return ops + [Op("probe", "ivf_probe", vec_id=rng.randrange(N_VECTORS))]
