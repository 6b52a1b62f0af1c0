"""Seeded benchmark inputs.

Two families, both built before any timing and cached by seed under
``perfbench/.cache/inputs/<kind>-<seed>/``:

* Driver tables (the star schema plus events/documents/embeddings) for the
  registry workloads. The base tables in ``perfbench/data/sf*`` are the
  fixed synthetic test tables; a seed shuffles every table's row order and
  applies one seeded permutation to each key, within the key's existing
  value set, to the primary key and to every foreign key that refers to
  it. Keeping each key inside its own domain keeps the oracle constants
  that assume a key range (e.g. probe ids offset above every real id)
  valid.
* MovieLens-shaped text for the paper's own pipelines: an ml-1m-shaped
  ``::`` corpus (users, movies, ratings) generated from the published
  ml-1m statistics, and an ml-latest-small-shaped ratings CSV with
  planted co-rating communities.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
CACHE_DIR = os.path.join(HERE, ".cache", "inputs")

DRIVER_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# key domain -> [(table, column)], the first pair being the domain's owner
# (its distinct values define the domain the permutation stays inside).
KEY_DOMAINS = {
    "region": [("region", "r_regionkey"), ("nation", "n_regionkey")],
    "nation": [
        ("nation", "n_nationkey"),
        ("customer", "c_nationkey"),
        ("supplier", "s_nationkey"),
    ],
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orders": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
    "document": [("documents", "doc_id")],
    "vector": [("embeddings", "vec_id")],
}


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _publish(build, dst: str) -> str:
    """Run ``build(tmp_dir)`` and move the result to ``dst`` atomically, so
    an interrupted build never leaves a half-written cache entry."""
    if os.path.isdir(dst):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, dst)
    except OSError:  # another process published the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    return dst


# ---------------------------------------------------------------------------
# Driver tables
# ---------------------------------------------------------------------------


def permuted_tables(base: str, seed: int) -> str:
    """Directory of ``<table>.parquet`` files: ``data/<base>`` with rows
    shuffled and keys permuted by ``seed``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(out: str) -> None:
        tables = {
            t: pq.read_table(os.path.join(DATA_DIR, base, f"{t}.parquet"))
            for t in DRIVER_TABLES
        }
        for salt, (domain, cols) in enumerate(sorted(KEY_DOMAINS.items())):
            owner_t, owner_c = cols[0]
            values = np.unique(tables[owner_t][owner_c].to_numpy())
            image = _rng(seed, salt).permutation(values)
            for t, c in cols:
                col = tables[t][c]
                arr = col.to_numpy()
                idx = np.searchsorted(values, arr).clip(0, len(values) - 1)
                hit = values[idx] == arr
                mapped = np.where(hit, image[idx], arr).astype(arr.dtype)
                i = tables[t].schema.get_field_index(c)
                tables[t] = tables[t].set_column(
                    i, tables[t].field(c), pa.array(mapped, type=col.type)
                )
        for salt, t in enumerate(DRIVER_TABLES, start=100):
            tab = tables[t]
            order = _rng(seed, salt).permutation(tab.num_rows)
            tab = pc.take(tab, pa.array(order))
            # one row group, like the base files, so the scan layout the
            # engine sees is the base layout
            pq.write_table(
                tab, os.path.join(out, f"{t}.parquet"),
                row_group_size=max(1, tab.num_rows), version="2.6",
            )

    return _publish(build, os.path.join(CACHE_DIR, f"{base}-{seed}"))


# ---------------------------------------------------------------------------
# MovieLens-shaped text
# ---------------------------------------------------------------------------

# ml-100k's published shape: 943 users, 1,682 movies, 100,000 ratings,
# >= 20 ratings per user. The generator follows ml-1m's published
# statistics (gender split, age bands, star distribution, activity and
# popularity curves) at this size; at ml-1m's own size (1,000,209
# ratings) one run took ~107 s on a 4-core host, which a repeated
# benchmark cannot afford.
ML_SHAPE = dict(users=943, movies=1682, max_movie_id=1682, ratings=100_000)
MALE_SHARE = 0.717
AGES = (1, 18, 25, 35, 45, 50, 56)
AGE_P = (0.037, 0.183, 0.347, 0.198, 0.091, 0.082, 0.062)
STARS_P = (0.056, 0.108, 0.261, 0.349, 0.226)
GENRES = (
    "Action", "Adventure", "Animation", "Children's", "Comedy", "Crime",
    "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror", "Musical",
    "Mystery", "Romance", "Sci-Fi", "Thriller", "War", "Western",
)
# Shifted-Zipf movie popularity, (rank + offset) ** -alpha, times a
# per-(user, movie) lognormal taste factor. Without the taste factor every
# heavy user rates every popular movie, so heavy users co-rate far more
# than in ml-1m (whose SON case 2 at support 600 has only 7 pairs). With
# it, at ml-1m's size, the median movie has ~145 ratings (ml-1m: 123) and
# the head is ~42% of users (ml-1m: 57%).
POPULARITY_ALPHA = 1.2
POPULARITY_OFFSET = 45.0
TASTE_SIGMA = 1.5
MIN_RATINGS = 20


def _inclusion_scale(weights: np.ndarray, targets: np.ndarray) -> np.ndarray:
    """Per-user scale ``a`` with sum_m (1 - exp(-a * w_m)) == target, read
    off a log grid of the (monotone) expected-count curve."""
    grid = np.geomspace(1e-3, 1e6, 1200)
    expected = np.array([(-np.expm1(-a * weights)).sum() for a in grid])
    return np.interp(targets, expected, grid)


def ml_arrays(seed: int) -> dict:
    """Users, movies and ratings as arrays (uid ascending, then mid)."""
    rng = _rng(seed, 1)
    n_users, n_movies = ML_SHAPE["users"], ML_SHAPE["movies"]
    mids = np.sort(rng.choice(np.arange(1, ML_SHAPE["max_movie_id"] + 1), n_movies, replace=False))
    gender = np.where(rng.permutation(n_users) < round(MALE_SHARE * n_users), "M", "F")
    age = rng.choice(AGES, n_users, p=AGE_P)
    occupation = rng.integers(0, 21, n_users)
    zips = rng.integers(0, 100_000, n_users)
    n_genres = rng.integers(1, 4, n_movies)
    genres = [
        "|".join(sorted(rng.choice(GENRES, k, replace=False))) for k in n_genres
    ]
    # activity: 20 + lognormal (ml-1m: median 96, mean 166 per user)
    activity = MIN_RATINGS + rng.lognormal(np.log(76.0), 1.14, n_users)
    activity *= ML_SHAPE["ratings"] / activity.sum()
    activity = np.clip(activity, MIN_RATINGS, 0.6 * n_movies)
    popularity = rng.permutation(n_movies)  # movie index -> popularity rank
    weights = (popularity + 1.0 + POPULARITY_OFFSET) ** -POPULARITY_ALPHA
    scale = _inclusion_scale(weights, activity)
    uid_parts, mid_parts = [], []
    for start in range(0, n_users, 512):
        stop = min(start + 512, n_users)
        w = weights * np.exp(
            TASTE_SIGMA * rng.standard_normal((stop - start, n_movies))
            - TASTE_SIGMA**2 / 2
        )
        a = scale[start:stop]
        for _ in range(4):  # re-fit each user's expected count under taste
            a = a * activity[start:stop] / (-np.expm1(-a[:, None] * w)).sum(axis=1)
        p = -np.expm1(-a[:, None] * w)
        hit = rng.random(p.shape) < p
        short = hit.sum(axis=1) < MIN_RATINGS
        for row in np.nonzero(short)[0]:  # top up to the ml-1m minimum
            unrated = np.nonzero(~hit[row])[0]
            need = MIN_RATINGS - hit[row].sum()
            hit[row, unrated[np.argsort(-p[row, unrated])[:need]]] = True
        u, m = np.nonzero(hit)
        uid_parts.append(u + start + 1)
        mid_parts.append(mids[m])
    uid = np.concatenate(uid_parts)
    mid = np.concatenate(mid_parts)
    stars = rng.choice(np.arange(1, 6), len(uid), p=STARS_P)
    ts = rng.integers(956_703_932, 1_046_454_590, len(uid))
    return dict(
        uid=uid, mid=mid, rating=stars, ts=ts,
        users=np.arange(1, n_users + 1), gender=gender, age=age,
        occupation=occupation, zip=zips,
        movies=mids, genres=genres,
    )


def _write_lines(path: str, lines) -> None:
    with open(path, "w") as fh:
        fh.writelines(lines)


def planted_small_csv(seed: int, n_users: int, n_clusters: int, path: str) -> None:
    """ml-latest-small-shaped ``userId,movieId,rating,timestamp`` CSV with
    ``n_clusters`` planted communities: users co-rate movies from their own
    cluster's pool, a few bridge users also rate a second cluster's pool,
    and everyone rates a little from a sparse long tail."""
    rng = _rng(seed, 2)
    pool_size, per_user = 40, 14
    pools = [
        1 + c * 1000 + rng.choice(900, pool_size, replace=False)
        for c in range(n_clusters)
    ]
    cluster = rng.integers(0, n_clusters, n_users)
    rows = []
    for u in range(n_users):
        picks = set(rng.choice(pools[cluster[u]], per_user, replace=False).tolist())
        if rng.random() < 0.08:  # bridge user
            other = pools[(cluster[u] + 1 + rng.integers(n_clusters - 1)) % n_clusters]
            picks.update(rng.choice(other, 4, replace=False).tolist())
        picks.update((50_000 + rng.choice(20_000, 3, replace=False)).tolist())
        for m in sorted(picks):
            rows.append((u + 1, m, rng.integers(1, 11) / 2.0, rng.integers(828_124_615, 1_537_799_250)))
    _write_lines(
        path,
        ["userId,movieId,rating,timestamp\n"]
        + [f"{u},{m},{r},{t}\n" for u, m, r, t in rows],
    )


def movielens_inputs(seed: int) -> str:
    """Directory with ``ratings.dat users.dat movies.dat ratings_small.csv``
    plus ``arrays.npz`` (the generated ratings arrays, for the oracle)."""

    def build(out: str) -> None:
        a = ml_arrays(seed)
        _write_lines(
            os.path.join(out, "ratings.dat"),
            (f"{u}::{m}::{r}::{t}\n" for u, m, r, t in zip(
                a["uid"].tolist(), a["mid"].tolist(), a["rating"].tolist(), a["ts"].tolist())),
        )
        _write_lines(
            os.path.join(out, "users.dat"),
            (f"{u}::{g}::{ag}::{o}::{z:05d}\n" for u, g, ag, o, z in zip(
                a["users"].tolist(), a["gender"].tolist(), a["age"].tolist(),
                a["occupation"].tolist(), a["zip"].tolist())),
        )
        _write_lines(
            os.path.join(out, "movies.dat"),
            (f"{m}::Movie {m}, The ({1919 + m % 81})::{g}\n"
             for m, g in zip(a["movies"].tolist(), a["genres"])),
        )
        np.savez(
            os.path.join(out, "arrays.npz"),
            uid=a["uid"], mid=a["mid"], rating=a["rating"],
            users=a["users"], gender=a["gender"],
            movies=a["movies"], genres=np.array(a["genres"]),
        )
        planted_small_csv(seed, 160, 4, os.path.join(out, "ratings_small.csv"))

    return _publish(build, os.path.join(CACHE_DIR, f"ml-{seed}"))


def describe(path: str) -> dict:
    """Rows and bytes of every input file in ``path``."""
    import pyarrow.parquet as pq

    out = {}
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.endswith(".parquet"):
            rows = pq.ParquetFile(full).metadata.num_rows
        elif name.endswith((".dat", ".csv")):
            with open(full, "rb") as fh:
                rows = sum(1 for _ in fh) - name.endswith(".csv")  # CSV header
        else:
            continue
        out[name] = {"rows": rows, "bytes": os.path.getsize(full)}
    return out
