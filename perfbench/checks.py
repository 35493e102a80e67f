"""Correctness checks of one benchmark run, made after the engine process
has exited (outside every timed region).

  * every warm pass must reproduce the cold pass's rows (digest compare);
  * faces: the SparkEntry DuckDB oracle, with tools/selfcheck.py's
    bit-strict compare;
  * task1: a DuckDB group-average recomputation over the raw text;
  * co-rating edges: the exact edge set recomputed in DuckDB;
  * betweenness: one positive credit per co-rating edge, the credits
    summing to the graph's Wiener index (all-pairs BFS in DuckDB);
  * communities: a partition of the graph's vertices into the components
    left below a cut of the Brandes betweenness ranking (numpy), whose
    reference modularity (DuckDB) is no lower than the uncut graph's;
  * graph kernels: DuckDB iterative SQL over the same edge parquet;
  * SON (when it finishes): Spark MLlib FPGrowth is not reachable from
    here, so the frequent itemsets are recounted in DuckDB instead.

Each check returns a list of failure strings; empty means correct.
"""
import contextlib
import io
import math
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa

def _selfcheck(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import selfcheck
    finally:
        sys.path.pop(0)
    return selfcheck


def _rows(con, path, cols):
    return sorted(con.sql(
        f"SELECT {', '.join(cols)} FROM '{path}/*.parquet'").fetchall())


def _same(got, exp, eq, what):
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected {len(exp)}"]
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e) or not all(eq(a, b) for a, b in zip(g, e)):
            return [f"{what} row {i}: got {g}, expected {e}"]
    return []


def _dat(path, cols):
    """DuckDB view over `::` text: split on ':' and keep every other field
    (the generators never put ':' inside a field)."""
    sel = ", ".join(f"column{2 * i:d} AS {c}" for i, c in enumerate(cols))
    return (f"(SELECT {sel} FROM read_csv('{path}', delim=':', header=false,"
            f" all_varchar=true))")


def digests(result):
    cold = {c["name"]: c["hash"] for c in result["passes"][0]["calls"]
            if c["status"] == "ok"}
    bad = []
    for p in result["passes"][1:]:
        for c in p["calls"]:
            if c["status"] == "ok" and c["name"] in cold \
                    and c["hash"] != cold[c["name"]]:
                bad.append(f"{c['name']}: pass {p['index']} rows differ "
                           f"from the cold pass")
    return bad


def faces(root, input_dir, out_dir):
    face_dir = os.path.join(out_dir, "outputs", "faces")
    if not any(os.path.isdir(os.path.join(face_dir, d))
               for d in os.listdir(face_dir)):
        return []
    # DuckDB's spill directory stays inside the run directory
    os.environ["SELFCHECK_TMP"] = os.path.join(out_dir, "duckdb_tmp")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = _selfcheck(root).main(input_dir, face_dir)
    if rc == 0:
        return []
    return [ln.strip() for ln in buf.getvalue().splitlines()
            if "[FAIL" in ln or "[ERR" in ln or "EMPTY" in ln] or ["selfcheck"]


def movielens(root, input_dir, out_dir, names):
    eq = _selfcheck(root).approx_eq
    jobs = os.path.join(out_dir, "outputs", "jobs")
    con = duckdb.connect()
    r = _dat(f"{input_dir}/ratings.dat", ["uid", "mid", "rating"])
    u = _dat(f"{input_dir}/users.dat", ["uid", "gender"])
    con.sql(f"CREATE VIEW ratings AS SELECT uid::BIGINT uid, mid::INT mid,"
            f" rating::BIGINT rating FROM {r}")
    con.sql(f"CREATE VIEW users AS SELECT uid::BIGINT uid, gender FROM {u}")
    con.sql(f"CREATE VIEW small AS SELECT DISTINCT userId::BIGINT u,"
            f" movieId::BIGINT m FROM read_csv('{input_dir}/ratings.csv',"
            f" header=true)")
    con.sql("CREATE TABLE edges AS SELECT a.u, b.u AS v FROM small a"
            " JOIN small b ON a.m = b.m AND a.u < b.u"
            " GROUP BY 1, 2 HAVING count(*) >= 3")
    bad = []
    if "task1_avg_by_gender" in names:
        exp = sorted(con.sql(
            "SELECT mid, gender, sum(rating)::DOUBLE / count(*) FROM ratings"
            " JOIN users USING (uid) GROUP BY 1, 2").fetchall())
        bad += _same(_rows(con, f"{jobs}/task1_avg_by_gender",
                           ["mid", "gender", "avg"]), exp, eq, "task1")
    if "corating_edges" in names:
        exp = sorted(con.sql("SELECT u, v FROM edges").fetchall())
        bad += _same(_rows(con, f"{jobs}/corating_edges", ["u", "v"]), exp,
                     eq, "corating_edges")
    if "betweenness_gn" in names:
        got = _rows(con, f"{jobs}/betweenness_gn", ["u", "v", "credit"])
        exp = sorted(con.sql("SELECT u, v FROM edges").fetchall())
        bad += _same([g[:2] for g in got], exp, eq, "betweenness_gn edges")
        if any(not (g[2] > 0 and math.isfinite(g[2])) for g in got):
            bad.append("betweenness_gn: a credit is not positive")
        # the reference's rule passes each unit of a vertex's weight down
        # its BFS DAG to the source, so it crosses exactly dist(s, x) edges
        # whatever the split: the halved credits sum to the Wiener index
        wiener = _wiener(con)
        total = math.fsum(g[2] for g in got)
        if not math.isclose(total, wiener, rel_tol=1e-9):
            bad.append(f"betweenness_gn: credits sum to {total}, the"
                       f" Wiener index is {wiener}")
    if "communities_gn" in names:
        comm = dict(_rows(con, f"{jobs}/communities_gn",
                          ["vertex", "community"]))
        edges = con.sql("SELECT u, v FROM edges ORDER BY u, v").fetchall()
        bad += gn_cut(con, edges, comm)
    return bad


def _wiener(con):
    """Sum of BFS distances over connected unordered vertex pairs of the
    `edges` table, by an all-sources BFS in DuckDB."""
    con.sql("CREATE OR REPLACE TABLE und AS SELECT u AS a, v AS b FROM edges"
            " UNION ALL SELECT v, u FROM edges")
    con.sql("CREATE OR REPLACE TABLE d AS SELECT DISTINCT a AS s, a AS x,"
            " 0 AS dist FROM und")
    level = 0
    while True:
        level += 1
        added = con.execute(
            f"INSERT INTO d SELECT DISTINCT d.s, und.b, {level} FROM d"
            f" JOIN und ON und.a = d.x AND d.dist = {level - 1}"
            f" ANTI JOIN d seen ON seen.s = d.s AND seen.x = und.b"
            ).fetchone()[0]
        if not added:
            break
    return con.sql("SELECT sum(dist) / 2 FROM d").fetchone()[0]


def _edge_betweenness(n, eu, ev):
    """Brandes edge betweenness of an undirected graph, all sources at once
    on dense (source x vertex) matrices, halved as the engine halves it."""
    adj = np.zeros((n, n))
    adj[eu, ev] = adj[ev, eu] = 1.0
    dist = np.full((n, n), -1)
    np.fill_diagonal(dist, 0)
    sigma = np.eye(n)
    levels = [np.eye(n, dtype=bool)]
    while True:
        reach = (sigma * levels[-1]) @ adj
        new = (reach > 0) & (dist < 0)
        if not new.any():
            break
        dist[new] = len(levels)
        sigma[new] = reach[new]
        levels.append(new)
    delta = np.zeros((n, n))
    flow = np.zeros((n, n))  # flow[v, w]: credit on v -> w, v nearer s
    for lv in range(len(levels) - 1, 0, -1):
        coeff = np.where(levels[lv], (1.0 + delta) / np.where(
            levels[lv], sigma, 1.0), 0.0)
        pred = np.where(levels[lv - 1], sigma, 0.0)
        flow += (pred.T @ coeff) * adj
        delta += pred * (coeff @ adj)
    return ((flow + flow.T) / 2.0)[eu, ev]


def _components(n, eu, ev):
    """Component label (smallest member index) of every vertex."""
    lab = np.arange(n)
    while True:
        new = lab.copy()
        np.minimum.at(new, eu, lab[ev])
        np.minimum.at(new, ev, lab[eu])
        new = new[new]
        if (new == lab).all():
            return lab
        lab = new


def gn_cut(con, edges, community):
    """Failures of a Girvan-Newman partition (vertex -> community): it must
    cover the graph's vertices, and be the components of what is left once
    the edges are removed in order of Brandes betweenness, down to the
    least central edge between two communities. Betweenness ties (many
    edges agree to 1e-9) are kept on either side of the cut, because their
    order, and with it the search's exact cut, is float noise: a replay of
    the search finds up to eight different partitions on one input under
    eight orders of the ties. The search only accepts a cut whose residual
    has edges and whose reference modularity (DuckDB) is no lower than the
    uncut graph's, so the kept residual must pass that too."""
    verts = sorted({x for e in edges for x in e})
    if sorted(community) != verts:
        return [f"communities_gn: {len(community)} vertices, the graph has"
                f" {len(verts)}"]
    n = len(verts)
    idx = {v: i for i, v in enumerate(verts)}
    eu = np.array([idx[u] for u, _ in edges])
    ev = np.array([idx[v] for _, v in edges])
    part = np.unique([community[v] for v in verts], return_inverse=True)[1]
    btw = _edge_betweenness(n, eu, ev)
    cut = part[eu] != part[ev]
    least = btw[cut].min() if cut.any() else math.inf
    left = ~cut & (btw <= least * (1.0 + 1e-9))
    n_left = len(set(_components(n, eu[left], ev[left]).tolist()))
    if n_left != part.max() + 1:
        return [f"communities_gn: {part.max() + 1} communities, but the edges"
                f" below the cut leave {n_left} components"]
    q_cut = _reference_modularity(con, eu[left], ev[left], part)
    q_all = _reference_modularity(con, eu, ev, _components(n, eu, ev))
    if q_cut is None or q_cut < q_all:
        return [f"communities_gn: modularity {q_cut} at the cut, {q_all}"
                f" uncut"]
    return []


def _reference_modularity(con, eu, ev, part):
    """The reference's modularity of a partition over a residual graph:
    degrees, m and A_ij from the residual, each pair counted once, so half
    the textbook value; None on an edgeless residual."""
    res = pa.table({"u": eu, "v": ev})  # noqa: F841 (read by DuckDB)
    grp = pa.table({"x": np.arange(len(part)), "c": part})  # noqa: F841
    return con.sql(
        "WITH m AS (SELECT count(*)::DOUBLE AS m FROM res),"
        " deg AS (SELECT x, count(*)::DOUBLE AS d FROM (SELECT u AS x"
        "   FROM res UNION ALL SELECT v FROM res) GROUP BY x),"
        " inside AS (SELECT a.c, count(*) AS l FROM res"
        "   JOIN grp a ON a.x = res.u JOIN grp b ON b.x = res.v"
        "   WHERE a.c = b.c GROUP BY 1),"
        " dsum AS (SELECT c, sum(coalesce(d, 0)) AS dc,"
        "   sum(coalesce(d, 0) ** 2) AS sc FROM grp LEFT JOIN deg USING (x)"
        "   GROUP BY c)"
        " SELECT CASE WHEN m > 0 THEN sum(coalesce(l, 0)"
        "   - (dc * dc - sc) / (4 * m)) / (2 * m) END"
        " FROM dsum LEFT JOIN inside USING (c), m GROUP BY m").fetchone()[0]


def son(root, input_dir, out_dir, names):
    """Recount every reported itemset's support over the same baskets and
    require every singleton at or above the support to be reported."""
    jobs = os.path.join(out_dir, "outputs", "jobs")
    con = duckdb.connect()
    r = _dat(f"{input_dir}/ratings.dat", ["uid", "mid"])
    u = _dat(f"{input_dir}/users.dat", ["uid", "gender"])
    con.sql(f"CREATE VIEW j AS SELECT DISTINCT r.uid::BIGINT uid,"
            f" r.mid::BIGINT mid, gender FROM {r} r JOIN {u} u USING (uid)")
    bad = []
    for name in names:
        case, support = name.split("_")[1:3]
        k, item = ("uid", "mid") if case == "case1" else ("mid", "uid")
        g = "M" if case == "case1" else "F"
        con.sql(f"CREATE OR REPLACE VIEW b AS SELECT {k} AS k, {item} AS i"
                f" FROM j WHERE gender = '{g}'")
        got = con.sql(f"SELECT itemset, size, support FROM"
                      f" '{jobs}/{name}/*.parquet'").fetchall()
        for itemset, size, n in got:
            items = [int(x) for x in itemset.split(",")]
            cnt, = con.sql(
                f"SELECT count(*) FROM (SELECT k FROM b WHERE i IN"
                f" ({', '.join(map(str, items))}) GROUP BY k"
                f" HAVING count(*) = {len(items)})").fetchone()
            if cnt != n or n < int(support) or size != len(items):
                bad.append(f"{name}: {itemset} support {n}, recount {cnt}")
                break
        ones, = con.sql(f"SELECT count(*) FROM (SELECT i FROM b GROUP BY i"
                        f" HAVING count(*) >= {support})").fetchone()
        if sum(1 for x in got if x[1] == 1) != ones:
            bad.append(f"{name}: frequent singletons differ from {ones}")
    return bad


def graph(root, input_dir, out_dir, names):
    """DuckDB replays of the kernels, one SQL statement per superstep."""
    jobs = os.path.join(out_dir, "outputs", "jobs")
    eq = _selfcheck(root).approx_eq
    con = duckdb.connect()
    con.sql(f"CREATE TABLE e AS SELECT u, v FROM '{input_dir}/edges.parquet'")
    con.sql("CREATE TABLE und AS SELECT u AS src, v AS dst FROM e"
            " UNION ALL SELECT v, u FROM e")
    con.sql("CREATE TABLE w AS SELECT und.src, und.dst, 1.0 / d AS w FROM und"
            " JOIN (SELECT src, count(*) AS d FROM und GROUP BY 1) USING (src)")
    con.sql("CREATE TABLE vs AS SELECT DISTINCT src AS v FROM und")
    n, s0 = con.sql("SELECT count(*), min(v) FROM vs").fetchone()
    # ranks are rounded to 8 dp by the engine; the two engines' double sums
    # differ in order, so a value may sit one rounding step apart
    near = lambda a, b: a == b or (isinstance(a, float) and
                                   abs(a - b) <= 1.0000001e-8)
    bad = []

    def rank_walk(p0, step):
        con.sql(f"CREATE OR REPLACE TABLE p AS {p0}")
        for _ in range(10):
            con.sql(f"CREATE OR REPLACE TABLE p AS {step}")
        return sorted(con.sql("SELECT v, round(r, 8) FROM p").fetchall())

    if "pagerank" in names:
        exp = rank_walk(
            f"SELECT v, 1.0 / {n} AS r FROM vs",
            f"SELECT w.dst AS v, (1.0 - 0.85) / {n} + 0.85 * sum(p.r * w.w)"
            f" AS r FROM w JOIN p ON w.src = p.v GROUP BY w.dst")
        bad += _same(_rows(con, f"{jobs}/pagerank", ["v", "rank"]), exp,
                     near, "pagerank")
    if "ppr" in names:
        exp = rank_walk(
            f"SELECT v, CASE WHEN v = {s0} THEN 1.0 ELSE 0.0 END AS r FROM vs",
            f"SELECT vs.v, 0.15 * (CASE WHEN vs.v = {s0} THEN 1.0 ELSE 0.0"
            f" END) + 0.85 * coalesce(m.mass, 0) AS r FROM vs LEFT JOIN"
            f" (SELECT w.dst AS v, sum(p.r * w.w) AS mass FROM w JOIN p"
            f" ON w.src = p.v GROUP BY 1) m ON m.v = vs.v")
        bad += _same(_rows(con, f"{jobs}/ppr", ["v", "rank"]), exp, near,
                     "ppr")
    if "lpa" in names:
        con.sql("CREATE OR REPLACE TABLE l AS SELECT v AS vertex, v AS label"
                " FROM vs")
        for _ in range(10):
            con.sql("CREATE OR REPLACE TABLE l AS SELECT u AS vertex, label"
                    " FROM (SELECT und.src AS u, l.label, row_number() OVER"
                    " (PARTITION BY und.src ORDER BY count(*) DESC, l.label)"
                    " AS rn FROM und JOIN l ON und.dst = l.vertex"
                    " GROUP BY und.src, l.label) WHERE rn = 1")
        exp = sorted(con.sql("SELECT vertex, label FROM l").fetchall())
        bad += _same(_rows(con, f"{jobs}/lpa", ["vertex", "community"]), exp,
                     eq, "lpa")
    if "sssp" in names:
        con.sql(f"CREATE OR REPLACE TABLE d AS SELECT {s0}::BIGINT AS vertex,"
                f" 0 AS dist")
        for level in range(1, 51):
            added = con.execute(
                f"INSERT INTO d SELECT DISTINCT und.dst, {level} FROM und"
                f" JOIN d ON und.src = d.vertex AND d.dist = {level - 1}"
                f" WHERE und.dst NOT IN (SELECT vertex FROM d)").fetchone()[0]
            if not added:
                break
        exp = sorted(con.sql("SELECT vertex, dist FROM d").fetchall())
        bad += _same(_rows(con, f"{jobs}/sssp", ["vertex", "dist"]), exp, eq,
                     "sssp")
    if "components" in names:
        con.sql("CREATE OR REPLACE TABLE c AS SELECT v AS vertex,"
                " v AS component FROM vs")
        while True:
            con.sql("CREATE OR REPLACE TABLE c2 AS SELECT c.vertex,"
                    " least(c.component, min(n.component)) AS component"
                    " FROM c JOIN und ON und.src = c.vertex"
                    " JOIN c n ON n.vertex = und.dst"
                    " GROUP BY c.vertex, c.component")
            changed, = con.sql("SELECT count(*) FROM c JOIN c2 USING (vertex)"
                               " WHERE c.component <> c2.component").fetchone()
            con.sql("CREATE OR REPLACE TABLE c AS SELECT * FROM c2")
            if not changed:
                break
        exp = sorted(con.sql("SELECT vertex, component FROM c").fetchall())
        bad += _same(_rows(con, f"{jobs}/components", ["vertex", "component"]),
                     exp, eq, "components")
    return bad


def check(workload, root, input_dir, out_dir, result):
    """All failures of one run."""
    names = [c["name"] for c in result["passes"][0]["calls"]
             if c["status"] == "ok"]
    bad = digests(result)
    if workload in ("docs_events", "docs_pipeline", "events_stream"):
        bad += faces(root, input_dir, out_dir)
    elif workload == "movielens_apps":
        bad += movielens(root, input_dir, out_dir, names)
    elif workload.startswith("movielens_son"):
        bad += son(root, input_dir, out_dir, names)
    elif workload == "graph_supersteps":
        bad += graph(root, input_dir, out_dir, names)
    return bad
