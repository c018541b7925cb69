"""Seeded statement lists for the two benchmark workloads.

A workload is a list of passes. Every pass holds the same mix in the same
order: for graph_read, each MATCH template twice with seeded literals and
each graph analytics operator; for dml_curate, two seeded rounds of graph
writes and MATCH reads and each curation operator. The harness runs
whole passes until its time is up, so every run sees the same mix. The
same seed always gives a byte-identical list
(`statements_text`). The program receives only the statement text; the
oracle SQL stays with the benchmark and checks the results afterwards.
"""
import hashlib
import json
import random

PASSES = 200
# Each run checks the full results of this many statements of its first
# pass, a seeded choice; re-running them all would double a run's time.
VERIFIED = 3
# Fixed for later claims: a gain measured while tuning on other seeds must
# also hold on this one.
HELD_OUT_SEED = 9001

NATIONS = [f"NATION_{i}" for i in range(25)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

CURATE_OPS = [
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_keep_best",
    "q_text_quality", "q_c4_clean", "q_gopher_gate", "q_scrub_pii",
    "q_pii_redact", "q_text_repetition", "q_bm25", "q_nb_classify"]
ANALYTICS_OPS = [
    "q_kcore", "q_kcore_fixpoint", "q_ppr", "q_topo_layers", "q_scc",
    "q_lpa", "q_graphx_pagerank", "q_graphx_triangles"]
OPS = CURATE_OPS + ANALYTICS_OPS
WORKLOADS = ("graph_read", "dml_curate")
# MATCH templates (graph_read) and write/read rounds (dml_curate) per pass
ROUNDS = 2


def _path_json(ids):
    node = "'{\"NodeType\":\"Nation\",\"Id\":' || CAST(%s AS VARCHAR) || '}'"
    edge = "'{\"EdgeType\":\"next\"}'"
    parts = []
    for i, x in enumerate(ids):
        if i:
            parts.append(edge)
        parts.append(node % x)
    return "'[' || " + " || ',' || ".join(parts) + " || ']'"


RING = """WITH e AS (
  SELECT n_nationkey AS src, n_regionkey AS r,
         COALESCE(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey),
                  MIN(n_nationkey) OVER (PARTITION BY n_regionkey)) AS dst
  FROM nation)
"""


def _match_templates(rng):
    """(key, dialect statement, DuckDB oracle) per MATCH template."""
    nation = rng.choice(NATIONS)
    seg = rng.choice(SEGMENTS)
    price = rng.randrange(380_000, 490_000, 5_000)
    size = rng.randrange(38, 49)
    bal = rng.randrange(5_000, 9_500, 250)
    disc = rng.randrange(0, 11) / 100.0
    cnt = rng.randrange(8, 15)
    region = rng.randrange(0, 5)
    return [
        ("hop1",
         f"""SELECT c.c_custkey AS c_custkey, c.c_name AS c_name, n.n_name AS n_name
FROM Customer c, Nation n
MATCH c-[locatedIn]->n
WHERE n.n_name = '{nation}'
ORDER BY c.c_custkey""",
         f"""SELECT c_custkey, c_name, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_name = '{nation}'"""),
        ("chain2",
         f"""SELECT c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey, p.p_partkey AS p_partkey
FROM Customer c, Order o, Part p
MATCH c-[placed]->o-[contains]->p
WHERE o.o_totalprice > {price} AND p.p_size > {size}
ORDER BY c.c_custkey, o.o_orderkey, p.p_partkey""",
         f"""SELECT c_custkey, o_orderkey, p_partkey
FROM customer JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey
WHERE o_totalprice > {price} AND p_size > {size}"""),
        ("diamond",
         f"""SELECT c.c_custkey AS c_custkey, s.s_suppkey AS s_suppkey, n.n_name AS n_name
FROM Customer c, Nation n, Supplier s
MATCH c-[locatedIn]->n, s-[locatedIn]->n
WHERE n.n_name = '{nation}' AND c.c_acctbal > {bal}
ORDER BY c.c_custkey, s.s_suppkey""",
         f"""SELECT c_custkey, s_suppkey, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN supplier ON s_nationkey = n_nationkey
WHERE n_name = '{nation}' AND c_acctbal > {bal}"""),
        ("multi_edge",
         f"""SELECT c.c_custkey AS c_custkey, n.n_name AS n_name, o.o_orderkey AS o_orderkey
FROM Customer c, Nation n, Order o
MATCH c-[locatedIn]->n, c-[placed]->o
WHERE o.o_totalprice > {price} AND c.c_mktsegment = '{seg}'
ORDER BY c.c_custkey, o.o_orderkey""",
         f"""SELECT c_custkey, n_name, o_orderkey
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
WHERE o_totalprice > {price} AND c_mktsegment = '{seg}'"""),
        ("agg_having",
         f"""SELECT c.c_custkey AS c_custkey, COUNT(*) AS order_cnt,
  CAST(SUM(CAST(c_placed_o.totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM Customer c, Order o
MATCH c-[placed]->o
WHERE c.c_mktsegment = '{seg}'
GROUP BY c.c_custkey HAVING COUNT(*) > {cnt}
ORDER BY c.c_custkey""",
         f"""SELECT c_custkey, COUNT(*) AS order_cnt,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON o_custkey = c_custkey
WHERE c_mktsegment = '{seg}'
GROUP BY c_custkey HAVING COUNT(*) > {cnt}"""),
        ("edge_attr",
         f"""SELECT o.o_orderkey AS o_orderkey, p.p_partkey AS p_partkey,
       o_contains_p.quantity AS quantity
FROM Order o, Part p
MATCH o-[contains {{discount: {disc}}}]->p
WHERE p.p_size > {size}
ORDER BY o.o_orderkey, p.p_partkey, o_contains_p.quantity""",
         f"""SELECT l_orderkey AS o_orderkey, l_partkey AS p_partkey, l_quantity AS quantity
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_discount = {disc} AND p_size > {size}"""),
        ("varlen_path",
         f"""SELECT n.n_nationkey AS src, m.n_nationkey AS dst, p.*
FROM Nation n, Nation m
MATCH n-[next*1..3 AS p]->m
WHERE n.n_regionkey = {region}
ORDER BY src, dst, p""",
         RING + f"""SELECT a.src AS src, a.dst AS dst, {_path_json(['a.src', 'a.dst'])} AS p
FROM e a WHERE a.r = {region}
UNION ALL
SELECT a.src, b.dst, {_path_json(['a.src', 'a.dst', 'b.dst'])}
FROM e a JOIN e b ON a.dst = b.src WHERE a.r = {region}
UNION ALL
SELECT a.src, c.dst, {_path_json(['a.src', 'a.dst', 'b.dst', 'c.dst'])}
FROM e a JOIN e b ON a.dst = b.src JOIN e c ON b.dst = c.src WHERE a.r = {region}"""),
        ("exists",
         f"""SELECT c.c_custkey AS c_custkey, c.c_name AS c_name
FROM Customer c
WHERE EXISTS (SELECT 1 FROM Order o MATCH c-[placed]->o
              WHERE o.o_totalprice > {price})
ORDER BY c.c_custkey""",
         f"""SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > {price})"""),
        ("node_view",
         f"""SELECT x._NodeType AS ntype, x.name AS name, n.n_name AS nation
FROM Account x, Nation n
MATCH x-[locatedIn]->n
WHERE x.acctbal > {bal}
ORDER BY ntype, name, nation""",
         f"""SELECT ntype, name, nation FROM (
  SELECT 'Customer' AS ntype, c_name AS name, n_name AS nation, c_acctbal AS bal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT 'Supplier', s_name, n_name, s_acctbal
  FROM supplier JOIN nation ON s_nationkey = n_nationkey) t
WHERE bal > {bal}"""),
        ("global_view",
         """SELECT g._NodeType AS ntype, COUNT(*) AS cnt
FROM GlobalNodeView g
GROUP BY g._NodeType
ORDER BY ntype""",
         """SELECT ntype, cnt FROM (
  SELECT 'Region' AS ntype, COUNT(*) AS cnt FROM region
  UNION ALL SELECT 'Nation', COUNT(*) FROM nation
  UNION ALL SELECT 'Customer', COUNT(*) FROM customer
  UNION ALL SELECT 'Supplier', COUNT(*) FROM supplier
  UNION ALL SELECT 'Part', COUNT(*) FROM part
  UNION ALL SELECT 'Order', COUNT(*) FROM orders
  UNION ALL SELECT 'User', COUNT(DISTINCT user_id) FROM events
  UNION ALL SELECT 'Event', COUNT(*) FROM events) t"""),
    ]


MATCH_SETUP = [
    "DROP NODE VIEW IF EXISTS Account",
    """CREATE NODE VIEW Account AS
  SELECT c_name AS name, c_acctbal AS acctbal FROM Customer
  UNION ALL
  SELECT s_name, s_acctbal FROM Supplier""",
]

DML_SETUP = [
    "CREATE NODE TABLE Ord (ok BIGINT NODEID, oprice DOUBLE, ostatus STRING)",
    """CREATE NODE TABLE Cust (ck BIGINT NODEID, cname STRING, seg STRING,
  EDGE placed TO Ord (price DOUBLE, status STRING))""",
    """INSERT NODE INTO Ord SELECT o_orderkey AS ok, o_totalprice AS oprice,
  o_orderstatus AS ostatus FROM orders""",
    """INSERT NODE INTO Cust SELECT c_custkey AS ck, c_name AS cname,
  c_mktsegment AS seg FROM customer""",
    """INSERT EDGE INTO Cust.placed
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus FROM orders""",
]

# The edge count the dml_curate check compares against the statements'
# reported rows_affected.
DML_EDGE_COUNT = """SELECT COUNT(*) AS edges FROM Cust c, Ord o
MATCH c-[placed]->o"""


def _dml_pass(rng, n_cust, n_ord):
    batch = ", ".join(
        f"({rng.randrange(n_cust)}, {rng.randrange(n_ord)}, "
        f"{rng.randrange(100_000, 50_000_000) / 100:.2f}, 'N')"
        for _ in range(rng.randrange(10, 40)))
    lo = rng.randrange(1_000, 495_000)
    seg = rng.choice(SEGMENTS)
    price = rng.randrange(100_000, 450_000, 10_000)
    status = rng.choice("FOP")
    reads = [
        ("read", "read_hop1",
         f"""SELECT c.ck AS ck, o.ok AS ok, c_placed_o.price AS price
FROM Cust c, Ord o
MATCH c-[placed]->o
WHERE c.seg = '{seg}' AND c_placed_o.price > {price}"""),
        ("read", "read_two_edge",
         f"""SELECT c.ck AS ck, o.ok AS ok, p.ok AS ok2
FROM Cust c, Ord o, Ord p
MATCH c-[placed]->o, c-[placed]->p
WHERE c.seg = '{seg}' AND o.ok < p.ok AND c_placed_o.price > {price}
  AND c_placed_p.status = '{status}'"""),
    ]
    writes = [
        ("write", "insert_edge",
         f"INSERT EDGE INTO Cust.placed SELECT * FROM VALUES {batch} AS t(ck, ok, price, status)"),
        ("write", "delete_edge",
         f"""DELETE EDGE c-[placed]->o FROM Cust c, Ord o
WHERE c_placed_o.price BETWEEN {lo} AND {lo + 2_000}"""),
    ]
    return [writes[0], reads[0], writes[1], reads[1]]


def _interleave(a, b):
    """Merges two lists, spreading each evenly over the result."""
    keyed = [((i + 0.5) / len(a), 0, x) for i, x in enumerate(a)] + \
        [((j + 0.5) / len(b), 1, x) for j, x in enumerate(b)]
    return [x for _, _, x in sorted(keyed, key=lambda k: (k[0], k[1]))]


def _pass(rng, p, batch, verifiable=("op", "read")):
    """One pass, in the given order: a seeded order would put each
    statement's first (cold) execution at a seed-dependent place and
    spread the per-run figures. The first pass marks VERIFIED statements
    of the verifiable kinds, a seeded choice, for the output check."""
    pick = set()
    if p == 0:
        cands = [i for i, (kind, _, _) in enumerate(batch) if kind in verifiable]
        pick = set(rng.sample(cands, VERIFIED))
    return [{"pass": p, "kind": kind, "key": key, "text": text, "verify": i in pick}
            for i, (kind, key, text) in enumerate(batch)]


def build(workload, seed, n_cust, n_ord):
    """The statement list for one run: a dict with `setup`, `check` and
    `statements` (each statement: pass, kind, key, text) plus
    the `oracles` the checks use, keyed by statement text."""
    rng = random.Random(f"{workload}:{seed}")
    stmts, oracles, setup, check = [], {}, [], []
    if workload == "graph_read":
        setup = list(MATCH_SETUP)
        for p in range(PASSES):
            reads = []
            for _ in range(ROUNDS):
                for key, text, oracle in _match_templates(rng):
                    reads.append(("read", key, text))
                    oracles[text] = oracle
            ops = [("op", op, op) for op in ANALYTICS_OPS]
            stmts += _pass(rng, p, _interleave(reads, ops))
    elif workload == "dml_curate":
        setup = list(DML_SETUP)
        check = [DML_EDGE_COUNT]
        for p in range(PASSES):
            ops = [("op", op, op) for op in CURATE_OPS]
            dml = [st for _ in range(ROUNDS) for st in _dml_pass(rng, n_cust, n_ord)]
            stmts += _pass(rng, p, _interleave(dml, ops), verifiable=("op",))
    else:
        raise ValueError(f"unknown workload {workload}")
    return {"workload": workload, "seed": seed, "setup": setup,
            "check": check, "statements": stmts,
            "oracles": oracles}


def statements_text(plan):
    """The canonical serialization the harness reads: one JSON object per
    line, sorted keys, so equal seeds give equal bytes."""
    lines = [json.dumps({"section": s, "key": str(i), "text": t}, sort_keys=True)
             for s in ("setup", "check") for i, t in enumerate(plan[s])]
    lines += [json.dumps(dict(s, section="timed"), sort_keys=True)
              for s in plan["statements"]]
    return "\n".join(lines) + "\n"


def digest(text):
    return hashlib.sha256(text.encode()).hexdigest()
