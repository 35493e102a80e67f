"""Seeded, deterministic input generators for the graft benchmark.

Every generator takes a seed and an output directory and writes the same
bytes for the same seed. The engine only ever sees these files.

  movielens(seed, out)  ml-1m-shaped `::` text (ratings.dat, users.dat,
                        movies.dat) plus an ml-latest-small-shaped header
                        CSV (ratings.csv).
  copurchase(seed, out) an undirected edge list whose degrees follow the
                        sf0.1 co-purchase graph's (edges.parquet).
  fixture(seed, out)    the committed sf0.01 fixture with a seeded id
                        relabel and row/file shuffle; content is unchanged.

Why these shapes: see README.md in this directory.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]

GENRES = ["Action", "Adventure", "Animation", "Children's", "Comedy",
          "Crime", "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror",
          "Musical", "Mystery", "Romance", "Sci-Fi", "Thriller", "War",
          "Western"]


def _weighted_sample_rows(rng, weights, lengths):
    """Per row i, `lengths[i]` distinct column indices drawn without
    replacement with probability proportional to `weights` (Efraimidis-
    Spirakis keys: the top-k of u^(1/w) is a weighted sample)."""
    out = []
    logw = np.log(weights)
    for lo in range(0, len(lengths), 256):
        chunk = lengths[lo:lo + 256]
        u = rng.random((len(chunk), len(weights)))
        keys = np.log(u) / np.exp(logw)  # larger key = earlier pick
        order = np.argsort(-keys, axis=1, kind="stable")
        out.extend(order[i, :n] for i, n in enumerate(chunk))
    return out


def _popularity(rng, n, head_boost):
    """Item weights with a Zipf-like head (about 200 of 3,883 items reach
    20 % of baskets, as in ml-1m), the top item boosted so that it lands in
    roughly 57 % of the baskets of the ml-1m length mix."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    w = (1.0 / (ranks + 20.0) ** 0.8)[rng.permutation(n)]
    w[np.argmax(w)] *= head_boost
    return w / w.sum()


def movielens(seed, out):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_users, n_movies = 6040, 3883
    # users.dat: 72 % male, as in ml-1m
    male = rng.random(n_users) < 0.72
    ages = np.array([1, 18, 25, 35, 45, 50, 56])[rng.integers(0, 7, n_users)]
    occ = rng.integers(0, 21, n_users)
    zips = rng.integers(10000, 99999, n_users)
    with open(os.path.join(out, "users.dat"), "w") as f:
        for u in range(n_users):
            f.write(f"{u + 1}::{'M' if male[u] else 'F'}::{ages[u]}::"
                    f"{occ[u]}::{zips[u]}\n")
    # movies.dat: unsplit `A|B` genre strings, task2's group key
    with open(os.path.join(out, "movies.dat"), "w") as f:
        for m in range(n_movies):
            k = 1 + min(int(rng.geometric(0.55)) - 1, 4)
            g = "|".join(sorted(rng.choice(GENRES, k, replace=False)))
            f.write(f"{m + 1}::Movie {m + 1} ({1919 + m % 82})::{g}\n")
    # ratings.dat: heavy-tailed basket lengths (min 20, median ~100,
    # tail past 1,000), popularity head covering ~57 % of users
    lengths = 20 + np.floor(rng.lognormal(np.log(80.0), 1.1, n_users))
    lengths = np.minimum(lengths, 2300).astype(np.int64)
    w = _popularity(rng, n_movies, 1.5)
    picks = _weighted_sample_rows(rng, w, lengths)
    star_p = np.array([0.056, 0.108, 0.261, 0.349, 0.226])
    uid = np.repeat(np.arange(1, n_users + 1), lengths)
    mid = np.concatenate(picks) + 1
    stars = rng.choice(np.arange(1, 6), len(mid), p=star_p / star_p.sum())
    ts = 956703932 + rng.integers(0, 90_000_000, len(mid))
    _write_lines(os.path.join(out, "ratings.dat"), "::", uid, mid, stars, ts)
    # ratings.csv: CommunityApp's co-rating graph input. ml-latest-small's
    # per-user shape (min 20, median ~80, half-star ratings) over 300 users
    # rather than 671, so that one warm pass of the community pipeline
    # stays near a second
    n_small, n_small_movies = 300, 9066
    ls = 20 + np.floor(rng.lognormal(np.log(60.0), 1.2, n_small))
    ls = np.minimum(ls, 2300).astype(np.int64)
    ws = _popularity(rng, n_small_movies, 1.5)
    picks = _weighted_sample_rows(rng, ws, ls)
    uid = np.repeat(np.arange(1, n_small + 1), ls)
    mid = np.concatenate(picks) + 1
    half = rng.integers(1, 11, len(mid)) / 2.0
    ts = 1_100_000_000 + rng.integers(0, 370_000_000, len(mid))
    _write_lines(os.path.join(out, "ratings.csv"), ",", uid, mid, half, ts,
                 header="userId,movieId,rating,timestamp")


def _write_lines(path, sep, *cols, header=None):
    """One delimited text line per row, columns rendered by Arrow."""
    lines = pc.binary_join_element_wise(
        *[pa.array(c).cast(pa.string()) for c in cols], sep)
    with open(path, "w") as f:
        if header:
            f.write(header + "\n")
        f.write("\n".join(lines.to_pylist()))
        f.write("\n")


# Degree histogram (degree: vertices) of the sf0.1 co-purchase graph, the
# graph the q30 face builds (customers sharing at least 3 parts): 10,022
# vertices, 14,806 edges, median degree 2, 99th percentile 13, maximum 28.
# Measured with q30's pair join in DuckDB on the sf0.1 fixture.
COPURCHASE_DEGREES = {
    1: 3381, 2: 2333, 3: 1496, 4: 956, 5: 623, 6: 399, 7: 280, 8: 178,
    9: 113, 10: 73, 11: 52, 12: 31, 13: 29, 14: 21, 15: 14, 16: 12, 17: 10,
    18: 7, 19: 5, 20: 1, 21: 2, 22: 2, 23: 1, 24: 2, 28: 1}


def copurchase(seed, out, n_edges=60000):
    """Configuration-model graph whose degree sequence is drawn from the
    sf0.1 co-purchase degree histogram, with as many vertices as that
    histogram's mean degree gives `n_edges` edges: stubs paired at random,
    self-loops and repeated pairs dropped (a few dozen), u < v, ids
    scattered by a seeded permutation."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    degs = np.array(list(COPURCHASE_DEGREES), dtype=np.int64)
    p = np.array(list(COPURCHASE_DEGREES.values()), dtype=np.float64)
    p /= p.sum()
    n = int(round(2 * n_edges / float(degs @ p)))
    d = rng.choice(degs, n, p=p)
    if d.sum() % 2:
        d[np.argmax(d)] -= 1
    stubs = rng.permutation(np.repeat(np.arange(n), d))
    a, b = stubs[0::2], stubs[1::2]
    labels = rng.permutation(n).astype(np.int64) * 7 + 3
    keep = a != b
    e = np.stack([labels[a[keep]], labels[b[keep]]], axis=1)
    e.sort(axis=1)
    e = np.unique(e, axis=0)
    e = e[rng.permutation(len(e))]
    pq.write_table(pa.table({"u": e[:, 0], "v": e[:, 1]}),
                   os.path.join(out, "edges.parquet"))


def _monotone_map(rng, n):
    """Seeded strictly increasing relabel of 0..n-1: random positive gaps.
    Order-preserving, so tie-breaks by id keep their meaning while every
    id value changes with the seed."""
    return np.cumsum(rng.integers(1, 4, n)).astype(np.int64) - 1


def fixture(seed, out):
    """The sf0.01 fixture with doc_id/vec_id (one shared id space) and
    event_id relabelled, and every table's rows shuffled. Values other
    than those ids are untouched."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(os.path.join(FIXTURE, "documents.parquet"))
    n_docs = max(pc.max(docs["doc_id"]).as_py(),
                 pc.max(pq.read_table(os.path.join(
                     FIXTURE, "embeddings.parquet"))["vec_id"]).as_py()) + 1
    doc_map = _monotone_map(rng, n_docs)
    relabel = {"documents": {"doc_id": doc_map},
               "embeddings": {"vec_id": doc_map}}
    for t in FIXTURE_TABLES:
        tab = pq.read_table(os.path.join(FIXTURE, f"{t}.parquet"))
        if t == "events":
            n = pc.max(tab["event_id"]).as_py() + 1
            relabel["events"] = {"event_id": _monotone_map(rng, n)}
        for c, m in relabel.get(t, {}).items():
            i = tab.column_names.index(c)
            ids = tab[c].to_numpy()
            tab = tab.set_column(i, c, pa.array(m[ids], type=tab.schema.field(c).type))
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        pq.write_table(tab, os.path.join(out, f"{t}.parquet"))


GENERATORS = {"movielens": movielens, "copurchase": copurchase,
              "fixture": fixture}


def ensure(kind, seed, root):
    """Generate `kind` for `seed` under `root` once; later calls reuse it.
    A `.done` marker makes an interrupted generation start over."""
    out = os.path.join(root, f"{kind}-{seed}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        GENERATORS[kind](seed, out)
        open(os.path.join(out, ".done"), "w").close()
    return out
