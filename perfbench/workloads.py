"""Workload definitions: which statements a pass runs, in which order.

Every workload's pass order is a permutation drawn from the workload
seed. `dml` also draws its statements from the seed: a fixed mix of
statement kinds with seeded key ranges and constants, run against work
tables that each pass rebuilds first.
"""
import random
import re

WORKLOADS = {
    # iterative kernels: driver round-trips per iteration
    "iterative": ["q_graph_pagerank", "q_graph_hits"],
    # candidate/verify and text operators: executor compute
    "dedup_text": [
        "q_dedup_jaccard", "q_dedup_minhash", "q_dedup_simhash",
        "q_text_novelty", "q_text_redact",
    ],
    # GP-dialect statement stream: interpreter + copy-on-write DML
    "dml": None,
}

# warm pass length on a 4-core box, in seconds: a run measures
# round(--seconds / this) whole passes, so every run of a workload does
# the same work and no run ends on a partial pass
NOMINAL_PASS_S = {"iterative": 3.2, "dedup_text": 3.3, "dml": 3.2}

# untimed passes before timing; the first one's results are checked
WARMUP_PASSES = 2

# statements of each kind in one dml pass, besides the two rebuilds
DML_MIX = [("insert_select", 2), ("insert_values", 1), ("update", 3),
           ("update_from", 2), ("delete", 2), ("select", 2)]

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]


def micros_sum(expr):
    """Exact, order-insensitive sum of a double expression, in millionths,
    as DECIMAL(38,0): each value is rounded to micros and split into two
    BIGINT halves that both engines sum exactly. No division follows, so
    Spark's exact decimal arithmetic and DuckDB's (which divides decimals
    in double precision) cannot round a tie differently."""
    v = f"CAST(floor(({expr}) * 1000000 + 0.5) AS BIGINT)"
    hi = f"CAST(floor({v} / 1000000.0) AS BIGINT)"
    lo = f"({v} - {hi} * 1000000)"
    return f"CAST(CAST(sum({hi}) AS DECIMAL(38,0)) * 1000000 + sum({lo}) AS DECIMAL(38,0))"


def dml_statements(rng, n_orders):
    """The rebuild CTAS pair plus one seeded stream of DML statements."""
    work = n_orders // 3          # orders keys in the work tables
    span = max(10, n_orders // 50)  # key range touched by one statement

    def key_range():
        a = rng.randrange(0, work - span)
        return a, a + span

    rebuild = [
        ("ctas", "CREATE TABLE w_orders AS SELECT o_orderkey, o_custkey, "
         "o_orderstatus, o_totalprice, o_orderpriority FROM orders "
         f"WHERE o_orderkey < {work} DISTRIBUTED BY (o_orderkey)"),
        ("ctas", "CREATE TABLE w_lineitem AS SELECT l_orderkey, l_linenumber, "
         "l_quantity, l_extendedprice, l_discount, l_returnflag FROM lineitem "
         f"WHERE l_orderkey < {work} DISTRIBUTED BY (l_orderkey)"),
    ]
    stream = []
    fresh = iter(range(1, 1000))  # disjoint blocks of new order keys
    for kind, count in DML_MIX:
        for i in range(count):
            if kind == "insert_select":
                a, b = key_range()
                if i % 3 == 2:
                    sql = ("INSERT INTO w_lineitem SELECT l_orderkey, "
                           "l_linenumber, l_quantity, l_extendedprice, "
                           "l_discount, l_returnflag FROM lineitem "
                           f"WHERE l_orderkey >= {a} AND l_orderkey < {b}")
                else:
                    off = n_orders * next(fresh)
                    sql = (f"INSERT INTO w_orders SELECT o_orderkey + {off}, "
                           "o_custkey, o_orderstatus, o_totalprice, "
                           "o_orderpriority FROM orders "
                           f"WHERE o_orderkey >= {a} AND o_orderkey < {b}")
            elif kind == "insert_values":
                base = n_orders * next(fresh)
                rows = ", ".join(
                    f"({base + j}, {rng.randrange(n_orders // 10)}, "
                    f"'{rng.choice(STATUSES)}', "
                    f"{rng.randrange(100000, 50000000) / 100}, "
                    f"'{rng.choice(PRIORITIES)}')" for j in range(3))
                sql = f"INSERT INTO w_orders VALUES {rows}"
            elif kind == "update":
                a, b = key_range()
                sql = [
                    "UPDATE w_orders SET o_totalprice = o_totalprice + "
                    f"{rng.randrange(100, 5000) / 100} "
                    f"WHERE o_orderkey >= {a} AND o_orderkey < {b}",
                    "UPDATE w_lineitem SET l_quantity = l_quantity + 1 "
                    f"WHERE l_returnflag = 'N' AND l_orderkey >= {a} "
                    f"AND l_orderkey < {b}",
                    f"UPDATE w_orders SET o_orderstatus = 'F' "
                    f"WHERE o_orderstatus = '{rng.choice('OP')}' "
                    f"AND o_orderkey >= {a} AND o_orderkey < {b}",
                ][i % 3]
            elif kind == "update_from":
                sql = [
                    "UPDATE w_lineitem SET l_discount = 0.0 FROM w_orders "
                    "WHERE l_orderkey = o_orderkey AND o_orderpriority = "
                    f"'{rng.choice(PRIORITIES)}'",
                    "UPDATE w_orders SET o_totalprice = o_totalprice * 0.5 "
                    "FROM customer WHERE o_custkey = c_custkey AND "
                    f"c_mktsegment = '{rng.choice(SEGMENTS)}'",
                ][i % 2]
            elif kind == "delete":
                a, b = key_range()
                sql = [
                    f"DELETE FROM w_lineitem WHERE l_returnflag = 'R' "
                    f"AND l_orderkey >= {a} AND l_orderkey < {b}",
                    f"DELETE FROM w_orders WHERE o_orderkey >= {a} "
                    f"AND o_orderkey < {b}",
                ][i % 2]
            else:
                a, b = key_range()
                sql = [
                    f"SELECT o_orderstatus, count(*) AS n, "
                    f"{micros_sum('o_totalprice')} AS total FROM w_orders "
                    "GROUP BY o_orderstatus ORDER BY o_orderstatus",
                    f"SELECT l_returnflag, count(*) AS n, "
                    f"{micros_sum('l_quantity')} AS qty, "
                    f"{micros_sum('l_extendedprice * (1 - l_discount)')} AS rev "
                    "FROM w_lineitem GROUP BY l_returnflag "
                    "ORDER BY l_returnflag",
                    f"SELECT o_orderpriority, count(*) AS n, "
                    f"{micros_sum('l_extendedprice')} AS rev FROM w_lineitem "
                    "JOIN w_orders ON l_orderkey = o_orderkey "
                    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
                    "SELECT count(*) AS n, count(DISTINCT o_custkey) AS custs, "
                    "max(o_orderkey) AS maxkey FROM w_orders "
                    f"WHERE o_orderkey >= {a} AND o_orderkey < {b}",
                ][i % 4]
            stream.append((kind, sql))
    return rebuild, stream


def passes(workload, seconds):
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def plan(workload, seed, n_orders, timed_passes):
    """Statements and per-pass orders, warm-up passes first.

    Returns (statements, orders): statements are dicts with name, kind
    and, for dialect statements, sql; orders index into statements."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "dml":
        rebuild, stream = dml_statements(rng, n_orders)
        stmts = [{"name": f"{k}_{i}", "kind": k, "sql": s}
                 for i, (k, s) in enumerate(rebuild + stream)]
        head = list(range(len(rebuild)))
        body = list(range(len(rebuild), len(stmts)))
    else:
        stmts = [{"name": n, "kind": "named"} for n in WORKLOADS[workload]]
        head, body = [], list(range(len(stmts)))
    orders = []
    for _ in range(WARMUP_PASSES + timed_passes):
        rng.shuffle(body)
        orders.append(head + list(body))
    return stmts, orders


GP_CLAUSES = re.compile(r"\s*DISTRIBUTED\s+(BY\s*\([^)]*\)|RANDOMLY|REPLICATED)",
                        re.I)


def duckdb_sql(sql):
    """The statement as DuckDB runs it: GP-only clauses removed, and a
    rebuild replaces the previous work table."""
    sql = GP_CLAUSES.sub("", sql)
    return re.sub(r"^CREATE TABLE", "CREATE OR REPLACE TABLE", sql)
