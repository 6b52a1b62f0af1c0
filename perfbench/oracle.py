"""Expected outputs, computed without Spark.

* Registry queries: each query's DuckDB ``oracle_sql()`` twin on the same
  generated parquet files, compared row-for-row with floats bit-exact
  (the registry's own parity contract).
* Reference pipelines: an independent pure-Python reimplementation of the
  paper's entry points and their byte-level output formats (FIXTURES.md
  section 1.5): task1/task2 group averages, simplified Girvan-Newman edge
  betweenness, and Girvan-Newman communities.

Answers are cached per seed under ``perfbench/.cache/oracle`` and always
computed before the timed region.
"""

from __future__ import annotations

import os
from collections import defaultdict, deque
from itertools import combinations

import numpy as np

from inputs import CACHE_DIR as INPUT_CACHE

CACHE_DIR = os.path.join(os.path.dirname(INPUT_CACHE), "oracle")


def cached_dir(key: str) -> str:
    path = os.path.join(CACHE_DIR, key)
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# Registry queries (DuckDB)
# ---------------------------------------------------------------------------


def registry_answers(sql_by_name: dict[str, str], tables_dir: str, key: str) -> dict:
    """DuckDB result of each oracle SQL over ``tables_dir``, as pandas."""
    import pandas as pd

    cache = cached_dir(key)
    out, todo = {}, []
    for name in sql_by_name:
        path = os.path.join(cache, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = pd.read_parquet(path)
        else:
            todo.append(name)
    if todo:
        import duckdb

        con = duckdb.connect()
        try:
            for t in sorted(os.listdir(tables_dir)):
                if t.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, t)}')"
                    )
            for name in todo:
                df = con.execute(sql_by_name[name]).fetchdf()
                df.to_parquet(os.path.join(cache, f"{name}.parquet"))
                out[name] = df
        finally:
            con.close()
    return out


def _canonical(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(got, want) -> str | None:
    """None when ``got`` equals ``want`` up to row and column order, floats
    compared bit-exact and nulls position-exact; else the first
    difference."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = _canonical(got), _canonical(want)
    for col in g.columns:
        gv, wv = g[col], w[col]
        if not np.array_equal(pd.isna(gv).to_numpy(), pd.isna(wv).to_numpy()):
            return f"{col}: null positions differ"
        gk, wk = gv.dtype.kind, wv.dtype.kind
        if "f" in (gk, wk):
            if {gk, wk} <= {"i", "u", "f"} and gk != wk:
                return f"{col}: dtype kind {gk} != {wk}"
            if not np.array_equal(
                gv.to_numpy(np.float64, na_value=np.nan),
                wv.to_numpy(np.float64, na_value=np.nan),
                equal_nan=True,
            ):
                return f"{col}: float values differ"
        else:
            mask = ~pd.isna(gv).to_numpy()
            a = [_norm(x) for x in gv.to_numpy()[mask]]
            b = [_norm(x) for x in wv.to_numpy()[mask]]
            if a != b:
                return f"{col}: values differ"
    return None


def _norm(x):
    """Comparable form of one cell (arrays as tuples, numpy scalars as
    Python scalars)."""
    if isinstance(x, (list, tuple, np.ndarray)):
        return tuple(_norm(v) for v in x)
    if isinstance(x, np.generic):
        return x.item()
    return x


# ---------------------------------------------------------------------------
# Reference pipelines (pure Python)
# ---------------------------------------------------------------------------


def format_avg(value: float) -> str:
    """``"%.11f".format(v).toDouble`` rendered the way the JVM prints a
    double: round to 11 decimals, then the shortest round-trip form."""
    return repr(float(f"{value:.11f}"))


def group_avg_lines(keys_a, keys_b, ratings) -> str:
    sums: dict = defaultdict(int)
    counts: dict = defaultdict(int)
    for a, b, r in zip(keys_a, keys_b, ratings):
        sums[(a, b)] += r
        counts[(a, b)] += 1
    return "".join(
        f"{a},{b},{format_avg(sums[(a, b)] / counts[(a, b)])}\n"
        for a, b in sorted(sums)
    )


def corating_graph(csv_path: str, min_shared: int) -> tuple[list, set]:
    """Users sharing >= ``min_shared`` distinct movies (src < dst), and
    every user id."""
    by_movie: dict[int, set] = defaultdict(set)
    users: set[int] = set()
    with open(csv_path) as fh:
        next(fh)
        for line in fh:
            u, m = line.split(",")[:2]
            by_movie[int(m)].add(int(u))
            users.add(int(u))
    shared: dict = defaultdict(int)
    for raters in by_movie.values():
        for a, b in combinations(sorted(raters), 2):
            shared[(a, b)] += 1
    return sorted(e for e, c in shared.items() if c >= min_shared), users


def betweenness(edges: list, vertices: set) -> dict:
    """Simplified Girvan-Newman credit (Betweenness.scala): per source,
    BFS levels and shortest-path counts by predecessor edges; the reverse
    pass gives each vertex weight 1 plus what it received, split equally
    over its predecessor edges. Summed over sources and halved."""
    adj: dict[int, list[int]] = {v: [] for v in vertices}
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    credit: dict = defaultdict(float)
    for s in sorted(vertices):
        level = {s: 0}
        preds: dict[int, list[int]] = defaultdict(list)
        order, queue = [], deque([s])
        while queue:
            v = queue.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in level:
                    level[w] = level[v] + 1
                    queue.append(w)
                if level[w] == level[v] + 1:
                    preds[w].append(v)
        weight: dict = defaultdict(float)
        for v in reversed(order):
            weight[v] += 1.0
            for p in preds[v]:
                c = weight[v] / len(preds[v])
                credit[(min(p, v), max(p, v))] += c
                weight[p] += c
    return {e: c / 2.0 for e, c in credit.items()}


def betweenness_text(values: dict) -> str:
    return "\n".join(f"({a},{b},{values[(a, b)]})" for a, b in sorted(values))


def _components(edges: list, vertices: set) -> dict[int, int]:
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def _modularity(edges: list, comp: dict[int, int]) -> float:
    """Community.scala's pair loop: over unordered same-community pairs of
    vertices with degree > 0, sum A_ij - k_i k_j / 2m; divide by 2m."""
    m = len(edges)
    if m == 0:
        return float("nan")
    deg: dict = defaultdict(int)
    adj = set()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
        adj.add((min(a, b), max(a, b)))
    members: dict = defaultdict(list)
    for v, c in comp.items():
        if deg.get(v):
            members[c].append(v)
    total = 0.0
    for vs in members.values():
        for a, b in combinations(sorted(vs), 2):
            total += ((a, b) in adj) - deg[a] * deg[b] / 2.0 / m
    return total / 2.0 / m


def communities(values: dict, vertices: set, step: int = 2500, zoom: int = 5) -> list:
    """Community.scala: remove edges in descending betweenness order (ties
    by (src, dst)), ``step`` at a time while modularity does not drop;
    on overshoot rewind one step and shrink it by ``zoom``; accept when
    the last step raised the community count by at most one, returning
    the communities before that step."""
    order = [e for e, _ in sorted(values.items(), key=lambda kv: (-kv[1], kv[0]))]
    n = len(order)
    vertices = set(vertices) | {v for e in order for v in e}

    def comps(removed):
        return _components(order[min(removed, n):], vertices)

    def mod(removed):
        removed = min(removed, n)
        return _modularity(order[removed:], comps(removed))

    def search(start, stp):
        count, best = start, mod(start)
        while count < n:
            count += stp
            q = mod(count)
            if q == q and q >= best:
                best = q
            else:
                break
        return count

    step = max(1, min(step, max(1, n)))
    count = search(0, step)
    while True:
        before = max(count - step, 0)
        if len(set(comps(count).values())) - len(set(comps(before).values())) <= 1:
            groups: dict = defaultdict(list)
            for v, c in comps(before).items():
                groups[c].append(v)
            return sorted((sorted(g) for g in groups.values()), key=lambda g: g[0])
        step = max(1, step // zoom)
        count = search(before, step)


def communities_text(groups: list) -> str:
    return "\n".join("[" + ",".join(map(str, g)) + "]" for g in groups)


def parse_betweenness(text: str) -> dict:
    """``(a,b,value)`` lines back into ``{(a, b): value}``."""
    out = {}
    for line in text.split("\n"):
        a, b, v = line.strip("()").split(",")
        out[(int(a), int(b))] = float(v)
    return out


def reference_answers(ml_dir: str, key: str) -> dict[str, str]:
    """Expected file contents of the reference outputs."""
    cache = cached_dir(key)
    names = ("task1", "task2", "betweenness", "communities")
    paths = {n: os.path.join(cache, f"{n}.txt") for n in names}
    if all(os.path.exists(p) for p in paths.values()):
        return {n: open(p).read() for n, p in paths.items()}
    a = dict(np.load(os.path.join(ml_dir, "arrays.npz")))
    gender = dict(zip(a["users"].tolist(), a["gender"].tolist()))
    genre = dict(zip(a["movies"].tolist(), a["genres"].tolist()))
    uid, mid, rating = a["uid"].tolist(), a["mid"].tolist(), a["rating"].tolist()
    g_of = [gender[u] for u in uid]
    edges, users = corating_graph(os.path.join(ml_dir, "ratings_small.csv"), 3)
    bet = betweenness(edges, users)
    out = {
        "task1": group_avg_lines(mid, g_of, rating),
        "task2": group_avg_lines([genre[m] for m in mid], g_of, rating),
        "betweenness": betweenness_text(bet),
        "communities": communities_text(communities(bet, users)),
    }
    for n, text in out.items():
        with open(paths[n], "w") as fh:
            fh.write(text)
    return out


def compare_betweenness(got: str, want: str, rel: float = 1e-9) -> str | None:
    """Same edges in the same order and line format; credit values within
    ``rel``. Credits are float sums whose last bits depend on summation
    order, which differs between any two implementations."""
    g, w = got.split("\n"), want.split("\n")
    if len(g) != len(w):
        return f"{len(g)} lines != {len(w)}"
    for i, (lg, lw) in enumerate(zip(g, w)):
        wa, wb, wv = lw.strip("()").split(",")
        try:
            ga, gb, gv = lg.strip("()").split(",")
            well_formed = lg == f"({ga},{gb},{float(gv)})"
        except ValueError:
            well_formed = False
        if not well_formed or (ga, gb) != (wa, wb):
            return f"line {i}: {lg!r} vs {lw!r}"
        if abs(float(gv) - float(wv)) > rel * max(abs(float(wv)), 1.0):
            return f"line {i}: {gv} vs {wv}"
    return None


def compare_bytes(got: str, want: str) -> str | None:
    if got != want:
        return f"output bytes differ ({len(got)} vs {len(want)} chars)"
    return None


def compare_communities(got: str, want: str, bet_got: str, bet_want: str,
                        csv_path: str) -> str | None:
    """The communities must be the search's answer on the oracle's
    betweenness, or on the engine's own betweenness output when that
    passes its check. The search removes edges in descending betweenness
    order with ties broken by (src, dst), so edges whose credits are equal
    in exact arithmetic are ordered by float round-off, which differs
    between any two summation orders; the search itself is checked
    exactly on either set of credits."""
    if got == want:
        return None
    if compare_betweenness(bet_got, bet_want) is None:
        _, users = corating_graph(csv_path, 3)
        if got == communities_text(communities(parse_betweenness(bet_got), users)):
            return None
    return compare_bytes(got, want)
