"""Correctness checks of one benchmark run. Each returns a list of
mismatch messages (empty = correct); run.py fails the run on any."""
import json
import math
import os


# ── catalog: DuckDB oracle, same canonical compare as tools/check.py ────

def canon(rows, cols):
    """Columns sorted by name, floats to 9 significant digits, rows
    sorted — the compare the engine's own oracle gate uses. Copied, not
    imported, so the benchmark's check stays fixed when the repository's
    tools change."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def catalog(tables_dir, results_dir, names, oracles, con=None):
    import duckdb
    con = con or duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad = []
    for name in names:
        path = f"{results_dir}/{name}"
        if not os.path.isdir(path):
            bad.append(f"{name}: no result")
            continue
        try:
            rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            s_cols, s_rows = rel.columns, rel.fetchall()
            if name not in oracles:
                continue      # rows-only: the result exists and reads
            o = con.sql(oracles[name])
            o_cols, o_rows = o.columns, o.fetchall()
        except Exception as e:  # noqa: BLE001 — reported as a mismatch
            bad.append(f"{name}: {e}")
            continue
        if sorted(s_cols) != sorted(o_cols):
            bad.append(f"{name}: columns {sorted(s_cols)} != {sorted(o_cols)}")
        elif canon(s_rows, s_cols) != canon(o_rows, o_cols):
            bad.append(f"{name}: {len(s_rows)} rows != oracle {len(o_rows)}"
                       " or values differ")
    return bad


# ── serve: every response against the answer the generator knows ───────

def _items(data, field):
    node = (data or {}).get(field) or {}
    return node.get("items") or []


def serve_response(req, code, body, known):
    """Mismatches of one GraphQL response. `known` is the set of
    (author, permlink) keys of the store."""
    if code != 200:
        return [f"HTTP {code}"]
    try:
        doc = json.loads(body)
    except ValueError:
        return ["response is not JSON"]
    if doc.get("errors"):
        return [f"errors: {doc['errors']}"[:300]]
    data, e = doc.get("data") or {}, req["expect"]
    k = e["kind"]
    if k == "feed_page":
        got = [(i.get("author"), i.get("permlink"))
               for i in _items(data, "socialFeed")]
        want = [(e["author"], p) for p in e["permlinks"]]
        return [] if got == want else [f"page {got} != {want}"]
    if k == "feed_author":
        items = _items(data, "socialFeed")
        if len(items) != e["n"]:
            return [f"{len(items)} items != {e['n']}"]
        for i in items:
            a = i.get("author") or {}
            if a.get("username") != e["author"] or \
                    (a.get("profile") or {}).get("name") != e["name"]:
                return [f"author {a} != {e['author']}/{e['name']}"]
        return []
    if k == "post":
        p = data.get("socialPost") or {}
        want = {"author": e["author"], "permlink": e["permlink"],
                "body": e["body"]}
        return [] if p == want else [f"post {p} != {want}"]
    if k == "children":
        p = data.get("socialPost") or {}
        got = [[c.get("author"), c.get("permlink")]
               for c in p.get("children") or []]
        return [] if got == e["children"] and p.get("permlink") == \
            e["permlink"] else [f"children {got} != {e['children']}"]
    if k == "profile":
        p = data.get("profile") or {}
        want = {"username": e["username"], "name": e["name"]}
        return [] if p == want else [f"profile {p} != {want}"]
    if k == "follows":
        f = data.get("follows") or {}
        want = {"followers_count": e["followers"],
                "followings_count": e["followings"]}
        return [] if f == want else [f"follows {f} != {want}"]
    if k == "known_posts":
        field = "trendingFeed" if "trendingFeed" in data else "relatedFeed"
        items = _items(data, field)
        if "n" in e and len(items) != e["n"]:
            return [f"{len(items)} items != {e['n']}"]
        if len(items) > e.get("max", len(items)):
            return [f"{len(items)} items > {e['max']}"]
        unknown = [i for i in items
                   if (i.get("author"), i.get("permlink")) not in known]
        return [f"unknown posts {unknown[:3]}"] if unknown else []
    if k == "search":
        items = _items(data, "searchFeed")
        if len(items) != e["n"]:
            return [f"{len(items)} items != {e['n']}"]
        miss = [i for i in items
                if e["term"] not in (i.get("body") or "").lower().split()]
        return [f"items without '{e['term']}'"] if miss else []
    if k == "tags":
        tags = ((data.get("trendingTags") or {}).get("tags")) or []
        scores = [t.get("score") for t in tags]
        if len(tags) != e["n"] or scores != sorted(scores, reverse=True):
            return [f"tags {tags}"]
        return []
    if k == "leaderboard":
        got = (data.get("leaderBoard") or {}).get("total_active_creators")
        return [] if got == e["total"] else [f"total {got} != {e['total']}"]
    return [f"unknown expectation {k}"]


def serve(work):
    reqs = json.load(open(f"{work}/requests.json"))
    known = {tuple(k) for k in json.load(open(f"{work}/known_keys.json"))}
    bad = []
    with open(f"{work}/responses.jsonl") as f:
        for line in f:
            r = json.loads(line)
            req = reqs[r["i"]]
            bad += [f"request {r['i']} ({req['op']}): {m}"
                    for m in serve_response(req, r["code"], r["body"], known)]
    return bad


# ── serve: the built store against the block log ────────────────────────

def store(rows, want):
    """Mismatches of the posts table the archive and tail merges left
    (`rows`: dicts with the 4-tuple key and body) against `want`, the
    generator's key (\\x01-joined) → latest body: every post present
    once, with the body of its latest edit, and no other rows."""
    got, bad = {}, []
    for r in rows:
        key = "\x01".join([r["parent_author"], r["parent_permlink"],
                           r["author"], r["permlink"]])
        if key in got:
            bad.append(f"duplicate row {key!r}")
        got[key] = r["body"]
    if len(got) != len(want):
        bad.append(f"{len(got)} posts != {len(want)} expected")
    missing = [k for k in want if k not in got]
    if missing:
        bad.append(f"{len(missing)} posts missing, e.g. {missing[0]!r}")
    stale = [k for k in want if k in got and got[k] != want[k]]
    if stale:
        bad.append(f"{len(stale)} posts not latest-wins, e.g. {stale[0]!r}")
    return bad


def serve_store(work):
    want = json.load(open(f"{work}/final_posts.json"))
    with open(f"{work}/final_store.jsonl") as f:
        return store([json.loads(line) for line in f], want)
