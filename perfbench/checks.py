"""Output checks, run after the JVM exits and outside every timed region.

Each check recomputes what the engine should have produced, in plain
Python over the generated inputs and the committed fixture, and returns a
list of failures (empty when the outputs are correct).
"""
import json
import math
import os
import re
from collections import Counter
from functools import lru_cache
from urllib.parse import parse_qsl

import numpy as np

import gen

# Java's `\s` and String.trim, which the engine's analyzer uses; Python's
# own str.split/strip also cut at Unicode spaces such as U+00A0
JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def java_trim(s):
    return s.strip("".join(chr(c) for c in range(0x21)))


def check(workload, rundir, fixture):
    return {"serve_mix": check_serve, "offline_build": check_offline}[workload](rundir, fixture)


# ------------------------------------------------------------------ serving

def _field_tokens(text):
    """Analyzer.tokens: lower(trim(text)) split on whitespace; Spark's trim
    drops spaces only."""
    return JAVA_WS.split(text.strip(" ").lower())


@lru_cache(maxsize=None)
def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _auto_fuzz(n):
    return 0 if n < 3 else 1 if n <= 5 else 2


def _term_hits(tokens, term):
    budget = _auto_fuzz(len(term))
    return any(t == term if budget == 0 else _lev(t, term) <= budget for t in tokens)


class Reference:
    """The documented route contracts over the fixture (Engine's scaladoc):
    phrase-containment lookup, genre-overlap top-5 with the title-keyword
    fallback, and title^3 + genres^1 fuzzy multi-match with AUTO
    fuzziness, score >= 1, ordered by score desc then movieId."""

    def __init__(self, fixture):
        self.movies = gen.read_fixture(fixture)
        self.by_id = {m["movieId"]: m for m in self.movies}
        for m in self.movies:
            m["title_tokens"] = _field_tokens(m["title"])
            m["genre_tokens"] = _field_tokens(" ".join(m["genres"]))
            m["norm_title"] = m["title"].strip(" ").lower()

    def search(self, q):
        terms = [t for t in JAVA_WS.split(java_trim(q.lower())) if t]
        hits = []
        for m in self.movies:
            s = sum(3 * _term_hits(m["title_tokens"], t) + _term_hits(m["genre_tokens"], t)
                    for t in terms)
            if s >= 1:
                hits.append((s, m["movieId"]))
        hits.sort(key=lambda h: (-h[0], h[1]))
        return hits

    def find_by_title(self, title):
        p = java_trim(title.lower())
        return [m for m in self.movies if p in m["norm_title"]][:5]

    def recommend(self, m):
        if m["genres"]:
            q = set(m["genres"])
            scored = [(len(q & set(x["genres"])), x["movieId"]) for x in self.movies]
        else:
            kws = [w for w in JAVA_WS.split(java_trim(m["title"].lower())) if len(w) >= 4]
            scored = [(sum(k in x["norm_title"] for k in kws), x["movieId"]) for x in self.movies]
        scored = [s for s in scored if s[1] != m["movieId"] and s[0] >= 1]
        scored.sort(key=lambda s: (-s[0], s[1]))
        return scored[:5]


def _doc_matches(doc, m):
    return (doc.get("movieId") == m["movieId"] and doc.get("title") == m["title"]
            and doc.get("release_date") == m["release_date"]
            and list(doc.get("genres") or []) == m["genres"])


def _clamp(params):
    page, size = int(params.get("page", 1)), int(params.get("size", 10))
    return max(1, page), (10 if size < 1 or size > 100 else size)


def check_serve(rundir, fixture):
    ref = Reference(fixture)
    errs = []
    out = os.path.join(rundir, "out")
    unstable = [l for l in open(os.path.join(out, "unstable.tsv"), encoding="utf-8").read().split("\n") if l]
    errs += [f"repeated request answered differently: {k!r}" for k in unstable]
    scans = {}
    for line in open(os.path.join(out, "scans.tsv"), encoding="utf-8").read().split("\n"):
        if line:
            q, total, rows = line.split("\t")
            scans[q] = (int(total), [tuple(map(int, r.split(":"))) for r in rows.split(",") if r])
    n = 0
    for line in open(os.path.join(out, "responses.tsv"), encoding="utf-8").read().split("\n"):
        if not line:
            continue
        route, method, path, query, title, status, body = line.split("\t")
        body, status, n = json.loads(body), int(status), n + 1
        where = f"{method} {path}?{query} {title}"
        if status != 200:
            errs.append(f"{where}: status {status}")
            continue
        if route == "movie":
            if not _doc_matches(body, ref.by_id[int(path.rsplit("/", 1)[1])]):
                errs.append(f"{where}: wrong movie {body}")
        elif route == "search":
            params = dict(parse_qsl(query, keep_blank_values=True))
            page, size = _clamp(params)
            hits = ref.search(params["q"])
            want = hits[(page - 1) * size:page * size]
            got = [(d["score"], d["movieId"]) for d in body["movies"]]
            if got != want or body["total"] != len(hits) or (body["page"], body["size"]) != (page, size):
                errs.append(f"{where}: search got {got[:5]}.. total {body['total']}, "
                            f"want {want[:5]}.. total {len(hits)}")
            if not all(_doc_matches(d, ref.by_id[d["movieId"]]) for d in body["movies"]):
                errs.append(f"{where}: search hit fields differ from the fixture")
            s_total, s_rows = scans[params["q"]]
            s_page = [(s, i) for i, s in s_rows[(page - 1) * size:page * size]]
            if got != s_page or body["total"] != s_total:
                errs.append(f"{where}: posting route {got[:5]} differs from the scan {s_page[:5]}")
        else:
            hits = ref.find_by_title(title)
            if len(hits) > 1:
                want = [{"movieId": m["movieId"], "title": m["title"]} for m in hits]
                if body.get("movies") != want:
                    errs.append(f"{where}: disambiguation {body.get('movies')} != {want}")
            elif len(hits) == 1:
                m = hits[0]
                want = ref.recommend(m)
                got = [(d["score"], d["movieId"]) for d in body.get("recommendations", [])]
                if not _doc_matches(body.get("movie", {}), m) or got != want:
                    errs.append(f"{where}: recommendations {got} != {want}")
            else:
                errs.append(f"{where}: title matches no movie, yet the request was sent")
    if n == 0:
        errs.append("no responses recorded")
    return errs


# ------------------------------------------------------------- offline build

def _read(path):
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pydict()


def check_offline(rundir, fixture):
    errs = []
    out = os.path.join(rundir, "out")
    ratings = gen.read_ratings(os.path.join(rundir, "ml", "u.data"))
    held = gen.read_ratings(os.path.join(rundir, "ml", "heldout.tsv"))
    movies = {m["movieId"]: m for m in gen.read_fixture(fixture)}

    p = _read(os.path.join(rundir, "processed_data.parquet"))
    got = sorted(zip(p["userId"], p["movieId"], p["rating"], p["timestamp"]))
    if got != sorted(map(tuple, ratings.tolist())):
        errs.append(f"processed rows ({len(got)}) differ from the generated ratings ({len(ratings)})")
    if any(p["title"][k] != movies[p["movieId"][k]]["title"] for k in range(0, len(got), 97)):
        errs.append("processed titles differ from the fixture")

    mv = _read(os.path.join(out, "movies"))
    if sorted(mv["movieId"]) != sorted(movies):
        errs.append(f"movies table holds {len(mv['movieId'])} ids, want the fixture's {len(movies)}")
    elif any(list(g) != movies[i]["genres"] or t != movies[i]["title"]
             for i, t, g in zip(mv["movieId"], mv["title"], mv["genres"])):
        errs.append("movies table titles or genres differ from the fixture")
    if Counter(len(g) for g in mv["genres"]) != Counter(len(m["genres"]) for m in movies.values()):
        errs.append("genre-count histogram differs from the fixture's")

    sv = _read(os.path.join(out, "serving"))
    per_user = {}
    for u, i, r in zip(sv["userId"], sv["movieId"], sv["predicted_rating"]):
        per_user.setdefault(u, []).append((i, r))
    users = set(ratings[:, 0].tolist())
    bad = [u for u in users if len(per_user.get(u, [])) != 10
           or len({i for i, _ in per_user[u]}) != 10
           or not all(math.isfinite(r) for _, r in per_user[u])]
    if bad or set(per_user) != users:
        errs.append(f"{len(bad)} users lack exactly 10 distinct finite recommendations")

    uf, vf = _factors(os.path.join(out, "user_factors")), _factors(os.path.join(out, "item_factors"))
    pairs = [(u, i, r) for u, i, r in held.tolist() if u in uf and i in vf]
    if len(pairs) < 0.95 * len(held):
        errs.append(f"only {len(pairs)} of {len(held)} held-out pairs have both factors")
    pred = np.array([float(np.dot(uf[u], vf[i])) for u, i, _ in pairs])
    truth = np.array([r for _, _, r in pairs], dtype=float)
    rmse = math.sqrt(np.mean((pred - truth) ** 2))
    base = math.sqrt(np.mean((ratings[:, 2].mean() - truth) ** 2))
    if not rmse < base:
        errs.append(f"held-out RMSE {rmse:.4f} is not below the global-mean RMSE {base:.4f}")

    lk, lr = _read(os.path.join(out, "lookup")), _read(os.path.join(out, "lookup_read"))
    rows = lambda t: sorted(zip(t["userId"], t["movieId"], t["predicted_rating"]))  # noqa: E731
    if rows(lk) != rows(lr) or not lk["userId"]:
        errs.append("Store.lookup rows differ from the filtered Store.read")

    errs += _check_similar(_read(os.path.join(out, "similar")), vf)
    return errs


def _factors(path):
    t = _read(path)
    return {i: np.array(f, dtype=np.float64) for i, f in zip(t["id"], t["features"])}


def _check_similar(sim, vf):
    """Item-item cosine top-5 recomputed from the item factors: 5 distinct
    neighbours per item, never the item itself, each cosine right, and the
    k-th cosine equal to the true k-th best (so ties may swap ids)."""
    ids = sorted(vf)
    pos = {i: k for k, i in enumerate(ids)}
    v = np.array([vf[i] for i in ids])
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    cos = v @ v.T
    np.fill_diagonal(cos, -np.inf)
    best = -np.sort(-cos, axis=1)[:, :5]
    got = {}
    for q, r, n, c in zip(sim["movieId"], sim["rank"], sim["similar_movieId"], sim["cosine"]):
        got.setdefault(q, []).append((r, n, c))
    errs = []
    if set(got) != set(ids):
        errs.append(f"item similarity covers {len(got)} items, want {len(ids)}")
    for q, rows in got.items():
        rows.sort()
        ns = [n for _, n, _ in rows]
        if [r for r, _, _ in rows] != [1, 2, 3, 4, 5] or q in ns or len(set(ns)) != 5:
            errs.append(f"item {q}: neighbours {rows} are not 5 distinct ranked others")
            continue
        for k, (_, n, c) in enumerate(rows):
            if abs(cos[pos[q], pos[n]] - c) > 1e-4 or abs(best[pos[q], k] - c) > 1e-4:
                errs.append(f"item {q}: rank {k + 1} neighbour {n} cosine {c}, "
                            f"recomputed {cos[pos[q], pos[n]]:.6f}, best {best[pos[q], k]:.6f}")
                break
    return errs[:10]
