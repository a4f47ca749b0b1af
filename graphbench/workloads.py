"""Workload definitions: the statements each workload sends, generated from
the seed, and the answers each statement must return.

Nothing here starts Spark. Expected answers come from DuckDB over the same
parquet files the engine reads (``bolt_read``), and from a model of the
store state and the catalog's own oracles (``write_gds``).
"""

from __future__ import annotations

import random

from graph_data import N_CUSTOMER, PRIORITIES

# -- bolt_read ---------------------------------------------------------------

# The four read shapes. A shape's parameters are derived from one customer
# key, so one key table answers all four.
SHAPES = [
    (
        "point",
        "MATCH (c:Customer {c_custkey: $k}) "
        "RETURN c.c_name AS name, c.c_acctbal AS acctbal, c.c_mktsegment AS segment",
    ),
    (
        "orders_1hop",
        "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
        "RETURN o.o_orderkey AS orderkey, o.o_totalprice AS totalprice, "
        "o.o_orderstatus AS status",
    ),
    (
        "brands_2hop_top5",
        "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "RETURN p.p_brand AS brand, count(*) AS n ORDER BY n DESC, brand LIMIT 5",
    ),
    (
        "priority_scan_agg",
        "MATCH (o:Order) WHERE o.o_orderpriority = $prio AND o.o_totalprice >= $minprice "
        "RETURN o.o_orderstatus AS status, count(*) AS n, max(o.o_totalprice) AS maxprice",
    ),
]

_ORACLE_SQL = [
    "SELECT c_custkey AS k, c_name, c_acctbal, c_mktsegment FROM customer",
    "SELECT o_custkey AS k, o_orderkey, o_totalprice, o_orderstatus FROM orders",
    """
    SELECT k, brand, n FROM (
      SELECT o_custkey AS k, p_brand AS brand, COUNT(*) AS n,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY COUNT(*) DESC, p_brand) AS rn
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      JOIN part ON p_partkey = l_partkey
      GROUP BY o_custkey, p_brand)
    WHERE rn <= 5
    """,
    """
    SELECT keys.k, o_orderstatus, COUNT(*), MAX(o_totalprice)
    FROM keys JOIN orders
      ON o_orderpriority = keys.prio AND o_totalprice >= keys.minprice
    GROUP BY keys.k, o_orderstatus
    """,
]

# Warm-up statements draw keys from the first WARM_KEYS customers of a
# seeded permutation and the measured window from the rest, so what the
# window compiles does not depend on how long the warm-up ran.
WARM_KEYS = 300


def shape_params(shape: int, k: int) -> dict:
    """The statement parameters of ``shape`` for customer key ``k``."""
    if shape == 3:
        return {"prio": PRIORITIES[k % 5], "minprice": float((k // 5) * 1000)}
    return {"k": k}


class BoltRead:
    """Closed loop of 2 Bolt clients on one shared session. Each client
    sends rounds of the four shapes in a seeded order, one customer key per
    statement, keys uniform over its key set."""

    name = "bolt_read"
    clients = 2

    def __init__(self, seed: int):
        perm = list(range(N_CUSTOMER))
        random.Random(seed).shuffle(perm)
        self.keys = {"warm": perm[:WARM_KEYS], "window": perm[WARM_KEYS:]}
        self.seed = seed

    def stream(self, client: int, phase: str):
        """Endless statements for one client, as ``(shape, customer key)``."""
        rng = random.Random(f"{self.seed}/{client}/{phase}")
        keys = self.keys[phase]
        while True:
            order = list(range(len(SHAPES)))
            rng.shuffle(order)
            for shape in order:
                k = rng.choice(keys)
                yield shape, k

    @staticmethod
    def shape(op) -> int:
        return op[0]

    @staticmethod
    def statement(op):
        shape, k = op
        return SHAPES[shape][1], shape_params(shape, k)

    @staticmethod
    def expected_answers(con) -> dict:
        """``(shape, key) -> rows`` for every customer key, from DuckDB."""
        keys = [(k, *shape_params(3, k).values()) for k in range(N_CUSTOMER)]
        con.execute("CREATE TEMP TABLE keys (k BIGINT, prio VARCHAR, minprice DOUBLE)")
        con.executemany("INSERT INTO keys VALUES (?, ?, ?)", keys)
        out = {(s, k): [] for s in range(len(SHAPES)) for k in range(N_CUSTOMER)}
        for shape, sql in enumerate(_ORACLE_SQL):
            for row in con.execute(sql).fetchall():
                out[(shape, row[0])].append(list(row[1:]))
        return out


# -- the read-your-writes flow -------------------------------------------------

# Each statement's answer is checked against ``FlowModel``.
FLOW = [
    "CREATE (a:BenchUser {uid: $a, name: $na})-[:FOLLOWS {since: $since}]->"
    "(b:BenchUser {uid: $b, name: $nb})",
    "MATCH (u:BenchUser {uid: $a}) SET u.score = $score",
    "MATCH (u:BenchUser {uid: $a}) RETURN u.name AS name, u.score AS score",
    "MATCH (u:BenchUser {uid: $a})-[r:FOLLOWS]->(v:BenchUser) "
    "RETURN v.uid AS uid, r.since AS since",
    "MERGE (u:BenchUser {uid: $b}) ON MATCH SET u.seen = $seen "
    "RETURN u.uid AS uid, u.seen AS seen",
    "MATCH (u:BenchUser {uid: $a}) DETACH DELETE u",
    "MATCH (u:BenchUser) RETURN count(*) AS n",
]


class FlowModel:
    """The store state the flow expects: nodes by uid, FOLLOWS edges."""

    def __init__(self):
        self.nodes: dict[int, dict] = {}
        self.rels: list[tuple[int, int, dict]] = []

    def apply(self, step: int, p: dict):
        """Apply statement ``step`` of ``FLOW``; returns the rows it must
        answer, or None for a write that returns no rows."""
        if step == 0:
            self.nodes[p["a"]] = {"name": p["na"]}
            self.nodes[p["b"]] = {"name": p["nb"]}
            self.rels.append((p["a"], p["b"], {"since": p["since"]}))
            return None
        if step == 1:
            self.nodes[p["a"]]["score"] = p["score"]
            return None
        if step == 2:
            n = self.nodes.get(p["a"])
            return [] if n is None else [[n["name"], n.get("score")]]
        if step == 3:
            return [[b, r["since"]] for a, b, r in self.rels if a == p["a"] and b in self.nodes]
        if step == 4:
            if p["b"] in self.nodes:  # ON MATCH SET; a node MERGE creates has no `seen`
                self.nodes[p["b"]]["seen"] = p["seen"]
            node = self.nodes.setdefault(p["b"], {})
            return [[p["b"], node.get("seen")]]
        if step == 5:
            self.nodes.pop(p["a"], None)
            self.rels = [r for r in self.rels if p["a"] not in (r[0], r[1])]
            return None
        if step == 6:
            return [[len(self.nodes)]]
        raise IndexError(step)


# -- write_gds: the read-your-writes flow, then the GDS kernels -------------------

# The catalog rows a pass runs, and the kernel each one calls.
GDS_ROWS = [
    ("gds_wcc_supply_zones", "wcc"),
]


class WriteGds:
    """Closed loop of 1 in-process caller. One operation: a fresh
    ``GraphStore`` over the loaded graph and the read-your-writes flow once,
    then one pass over the catalog rows in ``GDS_ROWS`` with Spark's cache
    cleared first. The seed drives the flow's keys and values; the GDS rows
    have fixed inputs."""

    name = "write_gds"
    clients = 1

    def __init__(self, seed: int):
        self.seed = seed

    def stream(self, client: int, phase: str):
        rng = random.Random(f"{self.seed}/{client}/{phase}")
        words = ["Arne", "Bosse", "Armstrong", "Cleo", "Dora", "Edvin", "Frida"]
        while True:
            uid = rng.randrange(1, 1_000_000) * 2
            yield {
                "a": uid,
                "b": uid + 1,
                "na": rng.choice(words),
                "nb": rng.choice(words),
                "since": rng.randrange(1990, 2026),
                "score": round(rng.uniform(0.0, 100.0), 2),
                "seen": rng.randrange(1, 1000),
            }

    @staticmethod
    def shape(op) -> None:
        """Every operation has the same shape."""
        return None

    @staticmethod
    def flow_expected(params: dict) -> list:
        """What each statement of the flow must answer (None: not checked)."""
        model = FlowModel()
        return [model.apply(step, params) for step in range(len(FLOW))]

    @staticmethod
    def expected_answers(con) -> dict:
        """GDS row name -> its columns and rows, from the catalog's DuckDB
        oracles."""
        from docker_neo4j_spark.catalog import ORACLES, gds_queries  # noqa: F401

        out = {}
        for row, _ in GDS_ROWS:
            cur = con.execute(ORACLES[row])
            out[row] = {
                "columns": [d[0] for d in cur.description],
                "rows": [list(r) for r in cur.fetchall()],
            }
        return out


WORKLOADS = {w.name: w for w in (BoltRead, WriteGds)}
