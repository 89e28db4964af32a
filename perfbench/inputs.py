"""Serving queries drawn from the seed, and the answers they must get.

The `upsert` readers send six short Pinot-shaped query templates whose
literals are drawn from the seed, so shapes repeat while values differ.
Each template also has a DuckDB form: the expected rows of every
answer come from DuckDB over the same parquet files.
"""
import math
import random

# name -> (Pinot SQL, DuckDB SQL, literal drawer)
TEMPLATES = {
    # selective filter + aggregation
    "filter_agg": (
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS q, MAX(l_extendedprice) AS mx "
        "FROM lineitem WHERE l_partkey = {pk} LIMIT 1",
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS q, MAX(l_extendedprice) AS mx "
        "FROM lineitem WHERE l_partkey = {pk}",
        lambda r: {"pk": r.randrange(20000)}),
    # group-by top-k
    "group_topk": (
        "SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS mx FROM orders "
        "WHERE o_custkey BETWEEN {lo} AND {hi} GROUP BY o_orderpriority "
        "ORDER BY n DESC, o_orderpriority LIMIT 3",
        "SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS mx FROM orders "
        "WHERE o_custkey BETWEEN {lo} AND {hi} GROUP BY o_orderpriority "
        "ORDER BY n DESC, o_orderpriority LIMIT 3",
        lambda r: (lambda lo: {"lo": lo, "hi": lo + 2000})(r.randrange(13000))),
    # Pinot's DISTINCTCOUNT
    "distinct_count": (
        "SELECT event_type, DISTINCTCOUNT(user_id) AS users FROM events "
        "WHERE value > {v} GROUP BY event_type ORDER BY event_type LIMIT 10",
        "SELECT event_type, COUNT(DISTINCT user_id) AS users FROM events "
        "WHERE value > {v} GROUP BY event_type ORDER BY event_type LIMIT 10",
        lambda r: {"v": r.randrange(10, 200)}),
    # point lookup on the primary key
    "point_lookup": (
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_custkey = {k} LIMIT 1",
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_custkey = {k}",
        lambda r: {"k": r.randrange(15000)}),
    # dimension lookup join
    "lookup_join": (
        "SELECT nt.n_name, COUNT(*) AS cnt FROM customer c JOIN nation nt "
        "ON c.c_nationkey = nt.n_nationkey WHERE c.c_mktsegment = '{seg}' "
        "AND c.c_acctbal > {bal} GROUP BY nt.n_name ORDER BY cnt DESC, nt.n_name LIMIT 5",
        "SELECT nt.n_name, COUNT(*) AS cnt FROM customer c JOIN nation nt "
        "ON c.c_nationkey = nt.n_nationkey WHERE c.c_mktsegment = '{seg}' "
        "AND c.c_acctbal > {bal} GROUP BY nt.n_name ORDER BY cnt DESC, nt.n_name LIMIT 5",
        lambda r: {"seg": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"]),
                   "bal": r.randrange(0, 9000)}),
    # Pinot function names and SET options
    "pinot_fn_set": (
        "SET timeoutMs = 30000; SET enableNullHandling = true; "
        "SELECT JSONEXTRACTSCALAR(props, '$.k', 'INT') AS k, COUNT(*) AS cnt FROM events "
        "WHERE user_id = {u} GROUP BY JSONEXTRACTSCALAR(props, '$.k', 'INT') "
        "ORDER BY cnt DESC, k LIMIT 5",
        "SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, COUNT(*) AS cnt "
        "FROM events WHERE user_id = {u} GROUP BY 1 ORDER BY cnt DESC, k LIMIT 5",
        lambda r: {"u": r.randrange(1500)}),
}


def draw(rng, name):
    pinot, duck, lits = TEMPLATES[name]
    v = lits(rng)
    return {"template": name, "sql": pinot.format(**v), "duck": duck.format(**v)}


def read_inputs(seed, n):
    """`n` serving queries in whole rounds of the templates (each
    template equally often, in a seeded order, with seeded literals),
    and a warm-up list with every template once."""
    rng = random.Random(seed)
    names = sorted(TEMPLATES)
    rounds = -(-n // len(names))
    order = [t for _ in range(rounds) for t in rng.sample(names, len(names))][:n]
    warm_rng = random.Random(seed + 7919)
    return [draw(rng, t) for t in order], [draw(warm_rng, t) for t in names]


def rows_equal(got, want):
    """Broker-response rows against DuckDB rows: same order, numbers
    within 1e-9 relative, everything else exact."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, (int, float)) and not isinstance(b, bool):
                if not isinstance(a, (int, float)) or isinstance(a, bool):
                    return False
                if not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True
