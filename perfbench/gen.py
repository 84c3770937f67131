"""Seeded input generator for the benchmark.

Every input a workload feeds the engine is made here from the seed, so the
same seed gives byte-identical inputs and the engine sees nothing else:

* ``movielens``: a MovieLens-100k-shaped data dir. ``u.item`` is the
  committed fixture written back as Latin-1 (the unchanged loaders decode
  it as they decode the reference file). ``u.data`` holds synthetic
  ratings drawn from a planted low-rank model, because the real
  MovieLens-100k ratings are not in the repository. A held-out set of
  planted pairs goes to ``heldout.tsv``, which the engine never reads.
* ``requests``: the serving request mix, one file per client.
"""
import os

import numpy as np

N_USERS, N_ITEMS, N_RATINGS = 943, 1682, 100_000
# MovieLens-100k rating shares (BASELINE.md: {1:6110, 2:11370, 3:27145,
# 4:34174, 5:21201}); the planted scores are cut at these quantiles.
RATING_SHARE = np.array([6110, 11370, 27145, 34174, 21201]) / 100_000
PLANTED_RANK = 5
HELDOUT_PER_USER = 2
MAX_PER_USER = 737  # the most active MovieLens-100k user
# u.data timestamp range of the reference file
TS_LO, TS_HI = 874_724_710, 893_286_638

GENRE_FLAGS = ["unknown", "Action", "Adventure", "Animation", "Childrens", "Comedy",
               "Crime", "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror",
               "Musical", "Mystery", "Romance", "Sci-Fi", "Thriller", "War", "Western"]

# ids whose only genre flag is `unknown`, so their genre array is empty
GENRELESS = (267, 1373)


def rng_for(seed, part):
    """Independent stream per input family, so one family's draws never
    shift another's."""
    return np.random.default_rng([seed, part])


def read_fixture(path):
    """Fixture rows as dicts: movieId, title, release_date, genre names
    (the `unknown` flag excluded, as the engine's genre arrays do), and
    the raw flag count including `unknown`."""
    rows = []
    with open(path, encoding="utf-8") as f:
        for line in f.read().split("\n"):
            if not line:
                continue
            fs = line.split("|")
            flags = fs[5:24]
            rows.append({
                "movieId": int(fs[0]), "title": fs[1], "release_date": fs[2] or None,
                "genres": [g for g, v in zip(GENRE_FLAGS, flags) if v == "1" and g != "unknown"],
                "n_flags": sum(v == "1" for v in flags),
            })
    return rows


def zipf_weights(n, s, rng):
    """Zipf(s) popularity over a seed-permuted order of n items."""
    w = 1.0 / np.arange(1, n + 1) ** s
    out = np.empty(n)
    out[rng.permutation(n)] = w
    return out / out.sum()


# ---------------------------------------------------------------- MovieLens

def movielens(seed, out_dir, fixture_path, ratings=True):
    """Writes u.item, and unless `ratings` is false u.data and
    heldout.tsv, into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    with open(fixture_path, encoding="utf-8") as f:
        text = f.read()
    with open(os.path.join(out_dir, "u.item"), "wb") as f:
        f.write(text.encode("iso-8859-1"))
    if not ratings:
        return

    rng = rng_for(seed, 1)
    # user activity: every user rates at least 20 movies (as in
    # MovieLens-100k), the rest is heavy-tailed
    extra = rng.lognormal(mean=0.0, sigma=1.0, size=N_USERS)
    extra = extra / extra.sum() * (N_RATINGS - 20 * N_USERS)
    counts = np.minimum(20 + np.floor(extra).astype(int), MAX_PER_USER)
    while counts.sum() < N_RATINGS:
        open_ = np.flatnonzero(counts < MAX_PER_USER)
        counts[rng.choice(open_, min(len(open_), N_RATINGS - counts.sum()), replace=False)] += 1
    item_p = zipf_weights(N_ITEMS, 0.9, rng)

    users, items = [], []
    for u in range(N_USERS):
        picked = rng.choice(N_ITEMS, counts[u], replace=False, p=item_p)
        users.append(np.full(counts[u], u))
        items.append(picked)
    users, items = np.concatenate(users), np.concatenate(items)

    # held-out planted pairs: per user, items it did not rate, drawn among
    # items with at least 5 training ratings so both factors exist
    per_item = np.bincount(items, minlength=N_ITEMS)
    rated = set(zip(users.tolist(), items.tolist()))
    hold_p = np.where(per_item >= 5, item_p, 0.0)
    hold_p /= hold_p.sum()
    hu, hi = [], []
    for u in range(N_USERS):
        got = 0
        while got < HELDOUT_PER_USER:
            i = int(rng.choice(N_ITEMS, p=hold_p))
            if (u, i) not in rated:
                rated.add((u, i))
                hu.append(u)
                hi.append(i)
                got += 1
    hu, hi = np.array(hu), np.array(hi)

    # planted model: biases + rank-5 interaction + small noise
    uf = rng.normal(0, 1 / np.sqrt(PLANTED_RANK), (N_USERS, PLANTED_RANK))
    vf = rng.normal(0, 1 / np.sqrt(PLANTED_RANK), (N_ITEMS, PLANTED_RANK))
    bu, bi = rng.normal(0, 0.3, N_USERS), rng.normal(0, 0.4, N_ITEMS)

    def score(u, i):
        return bu[u] + bi[i] + np.einsum("ij,ij->i", uf[u], vf[i]) + rng.normal(0, 0.25, len(u))

    s_train, s_hold = score(users, items), score(hu, hi)
    cuts = np.quantile(s_train, np.cumsum(RATING_SHARE)[:-1])
    r_train = 1 + np.searchsorted(cuts, s_train)
    r_hold = 1 + np.searchsorted(cuts, s_hold)
    ts = rng.integers(TS_LO, TS_HI, len(users))

    order = rng.permutation(len(users))
    with open(os.path.join(out_dir, "u.data"), "w") as f:
        f.writelines(f"{users[k] + 1}\t{items[k] + 1}\t{r_train[k]}\t{ts[k]}\n" for k in order)
    with open(os.path.join(out_dir, "heldout.tsv"), "w") as f:
        f.writelines(f"{u + 1}\t{i + 1}\t{r}\n" for u, i, r in zip(hu, hi, r_hold))


def read_ratings(path):
    """u.data or heldout.tsv as an int array, one row per line."""
    return np.loadtxt(path, dtype=np.int64, delimiter="\t", ndmin=2)


# ----------------------------------------------------------------- requests

# One round of a client's closed loop: 5 /search (a 3-page session and a
# 2-page session), 3 /movie/<id>, 2 /recommend (one title that names a
# single movie, one that names several). Every run sends whole rounds, so
# the route shares are exact in every run.
ROUND = ["S0", "M", "S0", "RU", "S0", "M", "S1", "RA", "S1", "M"]
POOL = 12
N_AMBIGUOUS = 4
SEARCH_SIZES = [10, 10, 10, 5, 20, 0, 150]  # 0 and 150 exercise the size clamp


def _typo(word, rng):
    """One edit (substitute, delete or insert a letter), inside the AUTO
    fuzziness budget of any term of 4+ letters."""
    k = int(rng.integers(1, len(word)))
    c = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(26))]
    op = int(rng.integers(3))
    if op == 0:
        return word[:k] + c + word[k + 1:]
    if op == 1:
        return word[:k] + word[k + 1:]
    return word[:k] + c + word[k:]


def _words(title):
    return [w for w in title.lower().replace("(", " ").replace(")", " ").split()
            if len(w) >= 4 and w.isalpha()]


def _search_pool(movies, pop, rng):
    pool = []
    genres = sorted({g for m in movies for g in m["genres"]})
    while len(pool) < POOL:
        kind = len(pool) % 3
        m = movies[int(rng.choice(len(movies), p=pop))]
        words = _words(m["title"])
        if kind < 2 and not words:
            continue
        if kind == 0:    # one typo'd title term
            q = _typo(words[int(rng.integers(len(words)))], rng)
        elif kind == 1:  # title term + genre term
            w, g = words[int(rng.integers(len(words)))], genres[int(rng.integers(len(genres)))].lower()
            if w == g:  # a repeated term is scored once per field by the
                continue  # posting route but twice by the scan: keep terms distinct
            q = f"{w} {g}"
        else:            # typo'd genre term
            q = _typo(genres[int(rng.integers(len(genres)))].lower(), rng)
        size = SEARCH_SIZES[int(rng.integers(len(SEARCH_SIZES)))]
        first_page = 0 if rng.random() < 0.15 else 1  # page 0 clamps to 1
        pool.append((q, size, first_page))
    return pool


def _recommend_pool(movies, pop, rng):
    """(titles naming one movie, the genre-less two among them; title words
    naming 2-5 movies, which answer with a disambiguation)."""
    by_id = {m["movieId"]: m for m in movies}
    unique = [by_id[i]["title"] for i in GENRELESS]
    lowered = [m["title"].lower() for m in movies]
    amb = []
    while len(amb) < N_AMBIGUOUS:
        m = movies[int(rng.choice(len(movies), p=pop))]
        for w in _words(m["title"]):
            if 2 <= sum(w in t for t in lowered) <= 5 and w not in amb:
                amb.append(w)
                break
    while len(unique) < POOL - N_AMBIGUOUS:
        t = movies[int(rng.choice(len(movies), p=pop))]["title"]
        if sum(t.lower() in x for x in lowered) == 1 and t not in unique:
            unique.append(t)
    return unique, amb


def requests(seed, out_dir, fixture_path, n_clients=2, n_rounds=60):
    """Writes requests_<c>.tsv per client: route, method, path, raw query,
    title (for /recommend). Ids and pool entries are Zipf-popular."""
    from urllib.parse import urlencode
    movies = read_fixture(fixture_path)
    rng = rng_for(seed, 2)
    pop = zipf_weights(len(movies), 1.1, rng)
    pool_pop = zipf_weights(POOL, 1.1, rng)
    search = _search_pool(movies, pop, rng)
    unique, amb = _recommend_pool(movies, pop, rng)
    recommend = {"RU": (unique, zipf_weights(len(unique), 1.1, rng)),
                 "RA": (amb, zipf_weights(len(amb), 1.1, rng))}
    for c in range(n_clients):
        lines = []
        for _ in range(n_rounds):
            sessions = [search[int(rng.choice(POOL, p=pool_pop))] for _ in range(2)]
            pages = {"S0": 0, "S1": 0}
            for slot in ROUND:
                if slot == "M":
                    mid = movies[int(rng.choice(len(movies), p=pop))]["movieId"]
                    lines.append(f"movie\tGET\t/movie/{mid}\t\t")
                elif slot in recommend:
                    titles, p = recommend[slot]
                    t = titles[int(rng.choice(len(titles), p=p))]
                    lines.append(f"recommend\tPOST\t/recommend\t\t{t}")
                else:
                    q, size, first = sessions[int(slot[1])]
                    page = first + pages[slot]
                    pages[slot] += 1
                    qs = urlencode({"q": q, "page": page, "size": size})
                    lines.append(f"search\tGET\t/search\t{qs}\t")
        with open(os.path.join(out_dir, f"requests_{c}.tsv"), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
