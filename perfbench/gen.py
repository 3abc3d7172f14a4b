"""Seeded input generator of the `serve` workload.

Everything the engine sees there is made here from the seed: the social
store's block archive, the tail blocks merged into the built store,
profiles, and the GraphQL request mix with the answers each request
must return. The same seed gives the same bytes. (`catalog` runs on
the fixed tables in `perfbench/data`.)
"""
import json
import os
import random
from datetime import datetime, timedelta, timezone

# ── social store: blocks, profiles, follows ─────────────────────────────

VOCAB = [f"{a}{b}" for a in ("spark", "video", "hive", "tech", "music", "art",
                             "game", "food", "trip", "code")
         for b in ("", "s", "er", "ing", "ed")]
TAGS = [f"tag{i:02d}" for i in range(60)]
APPS = ["3speak/0.3", "dBuzz/1.0"]
T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
H0 = 80_000_000


def _zipf_index(rng, n, s=1.1):
    """Index in [0, n) drawn with Zipf-like skew (rank 0 hottest)."""
    u = rng.random()
    return min(n - 1, int(n ** u ** s) - 1) if n > 1 else 0


class Social:
    """The seeded social world: a catch-up block archive whose replay
    yields the served store, then `n_tail` more blocks (new posts, edits
    of stored posts, replies) that are merged into that store, plus the
    bookkeeping needed to know every answer (latest bodies, reply
    forest, per-author pages, follows)."""

    def __init__(self, seed, n_authors=2000, n_top=20000, n_replies=10000,
                 n_edits=2400, n_profiles=6400, n_follows=20000,
                 n_blocks=2000, span_days=20, n_tail=8):
        self.rng = random.Random(seed)
        r = self.rng
        self.authors = [f"u{i:05d}" for i in range(n_authors)]
        self.users = self.authors + [f"v{i:05d}" for i in
                                     range(n_profiles - n_authors)]
        self.posts = {}       # (pa, pp, a, p) -> dict(body, created, tags, block)
        self.keys = []        # insertion order of self.posts
        self.children = {}    # (a, p) -> [(created, a, p)]
        self.blocks = []      # [(height, time, [(name, payload dict)])]
        self.follows = set()
        self.next_height = H0
        self.time = T0
        self.block_dt = timedelta(seconds=span_days * 86400 / n_blocks)
        per_block = (n_top + n_replies + n_edits) / n_blocks
        plan = ["top"] * n_top + ["reply"] * n_replies + ["edit"] * n_edits
        # replies and edits need existing posts: keep the first tenth of
        # the archive top-level only, shuffle the rest
        head = int(len(plan) * 0.1)
        tops_first = plan[:head] if head <= n_top else ["top"] * head
        rest = plan[len(tops_first):]
        r.shuffle(rest)
        plan = tops_first + rest
        follow_pairs = set()
        while len(follow_pairs) < n_follows:
            a = self.users[_zipf_index(r, len(self.users), 1.0)]
            b = self.authors[_zipf_index(r, len(self.authors))]
            if a != b:
                follow_pairs.add((a, b))
        follow_list = sorted(follow_pairs)
        r.shuffle(follow_list)
        per_block_f = len(follow_list) / n_blocks
        i = fi = 0
        for b in range(n_blocks):
            ops = []
            want = int(round((b + 1) * per_block)) - i
            for kind in plan[i:i + want]:
                ops.append(self._op(kind))
            i += want
            wf = int(round((b + 1) * per_block_f)) - fi
            for a, f in follow_list[fi:fi + wf]:
                ops.append(self._follow(a, f))
            fi += wf
            self._commit(ops)
        self.n_archive = len(self.blocks)
        self.n_archive_posts = len(self.posts)
        for _ in range(n_tail):
            self._tail_block()
        self.profiles = self._profiles()

    # -- ops --
    def _body(self):
        r = self.rng
        return " ".join(r.choice(VOCAB) for _ in range(r.randint(8, 30)))

    def _meta(self, tags):
        return json.dumps({"app": self.rng.choice(APPS), "tags": tags})

    def _comment(self, pa_, pp, a, p, body, tags):
        return ("comment", {"parent_author": pa_, "parent_permlink": pp,
                            "author": a, "permlink": p,
                            "title": " ".join(body.split()[:3]),
                            "body": body, "json_metadata": self._meta(tags)})

    def new_top(self):
        r = self.rng
        a = self.authors[_zipf_index(r, len(self.authors))]
        p = f"p{len(self.posts):06d}"
        tags = sorted({TAGS[_zipf_index(r, len(TAGS))]
                       for _ in range(r.randint(1, 3))})
        key = ("", f"hive-{r.randint(100, 119)}", a, p)
        return self._record(key, self._body(), tags, 0)

    def _record(self, key, body, tags, depth):
        self.posts[key] = {"body": body, "created": self.time, "tags": tags,
                           "block": self.next_height, "depth": depth}
        self.keys.append(key)
        if key[0]:
            self.children.setdefault((key[0], key[1]), []).append(
                (self.time, key[2], key[3]))
        return self._comment(*key, body, tags)

    def _pick_post(self):
        keys = self.keys
        return keys[len(keys) - 1 - _zipf_index(self.rng, len(keys), 0.9)]

    def _op(self, kind):
        r = self.rng
        if kind == "top" or not self.keys:
            return self.new_top()
        if kind == "reply":
            # a forest at most two replies deep: replies answer a post
            # or a first-level reply
            parent = self._pick_post()
            while self.posts[parent]["depth"] >= 2:
                parent = self._pick_post()
            a = self.authors[_zipf_index(r, len(self.authors))]
            key = (parent[2], parent[3], a, f"re{len(self.posts):06d}")
            p = self.posts[parent]
            return self._record(key, self._body(), p["tags"], p["depth"] + 1)
        key = self._pick_post()      # edit: latest body wins
        post = self.posts[key]
        post["body"] = self._body()
        post["block"] = self.next_height
        return self._comment(*key, post["body"], post["tags"])

    def _follow(self, follower, following):
        payload = {"id": "follow", "required_posting_auths": [follower],
                   "json": json.dumps(["follow", {"follower": follower,
                                                  "following": following,
                                                  "what": ["blog"]}])}
        self.follows.add((follower, following))
        return ("custom_json", payload)

    def _commit(self, ops):
        self.blocks.append((self.next_height, self.time, ops))
        self.next_height += 1
        self.time += self.block_dt

    def _tail_block(self, n_new=5, n_edits=5, n_replies=5):
        """One block after the archive: new posts, edits of skewed keys
        (mostly stored ones) and replies."""
        self._commit([self._op("top") for _ in range(n_new)] +
                     [self._op("edit") for _ in range(n_edits)] +
                     [self._op("reply") for _ in range(n_replies)])

    def _profiles(self):
        r = self.rng
        out = []
        for u in self.users:
            score = 0.0 if r.random() < 0.3 else round(r.uniform(1, 100), 2)
            out.append({"_id": f"hive/{u}", "username": u, "TYPE": "HIVE",
                        "displayName": f"Name {u}", "about": f"about {u}",
                        "location": None, "website": None, "did": None,
                        "images": {"avatar": f"{u}.png", "cover": None},
                        "extra": {"pinned_post": None}, "score": score})
        return out


def block_json(height, time, ops):
    txs = [{"transaction_id": f"tx{height}_{i}",
            "operations": [{"name": n, "payload": json.dumps(p)}]}
           for i, (n, p) in enumerate(ops)]
    return json.dumps({"block_id": f"{height:08x}" + "ab" * 12,
                       "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
                       "transactions": txs})


def write_store_inputs(world, out_dir):
    """The catch-up archive (one block per line), the tail (one block
    per file, as a block stream delivers them) and the profiles."""
    os.makedirs(f"{out_dir}/blocks", exist_ok=True)
    os.makedirs(f"{out_dir}/tail", exist_ok=True)
    with open(f"{out_dir}/blocks/archive.json", "w") as f:
        for b in world.blocks[:world.n_archive]:
            f.write(block_json(*b) + "\n")
    for i, b in enumerate(world.blocks[world.n_archive:]):
        with open(f"{out_dir}/tail/blk-{i:05d}.json", "w") as f:
            f.write(block_json(*b) + "\n")
    with open(f"{out_dir}/profiles.json", "w") as f:
        for p in world.profiles:
            f.write(json.dumps(p) + "\n")


# ── serve: request mix with known answers ───────────────────────────────

# Mix weights (share of requests). No production traffic exists, so these
# are a stated assumption: feeds and point reads dominate, as on a social
# front page; whole-store aggregates are rare.
MIX = [("socialFeed", 8), ("socialFeedNext", 4), ("socialFeedAuthor", 3),
       ("socialPost", 6), ("socialPostChildren", 5), ("profile", 4),
       ("follows", 3), ("trendingFeed", 3), ("searchFeed", 2),
       ("relatedFeed", 2), ("trendingTags", 1), ("leaderBoard", 1)]


def smooth_cycle(mix):
    """One cycle of the mix in smooth weighted round-robin order: every
    stretch of the cycle (and so every client's share of it, however
    many requests it completes) holds the ops in close to the mix's
    proportions."""
    total = sum(w for _, w in mix)
    credit = {op: 0 for op, _ in mix}
    out = []
    for _ in range(total):
        for op, w in mix:
            credit[op] += w
        pick = max(mix, key=lambda m: credit[m[0]])[0]
        credit[pick] -= total
        out.append(pick)
    return out


def _top_by_author(world):
    out = {}
    for (pa_, pp, a, p), v in world.posts.items():
        if not pa_:
            out.setdefault(a, []).append((v["created"], p))
    for a in out:
        out[a].sort(key=lambda t: (-t[0].timestamp(), t[1]))
    return out


def serve_requests(world, seed, n=1200):
    """`n` GraphQL requests in a fixed cyclic op order (so every seed
    runs the same mix) with seeded, skewed keys, each with the answer
    the generator knows it must return."""
    r = random.Random(seed * 7919 + 1)
    by_author = _top_by_author(world)
    authors = sorted(by_author, key=lambda a: -len(by_author[a]))
    posts = list(world.posts)
    with_kids = [k for k in world.children if len(world.children[k]) <= 20]
    with_kids.sort()
    users = world.users
    profile = {p["username"]: p for p in world.profiles}
    followers, followings = {}, {}
    for a, b in world.follows:
        followings[a] = followings.get(a, 0) + 1
        followers[b] = followers.get(b, 0) + 1
    cycle = smooth_cycle(MIX)
    reqs = []
    for i in range(n):
        op = cycle[i % len(cycle)]
        if op in ("socialFeed", "socialFeedNext"):
            a = authors[_zipf_index(r, len(authors))]
            skip = 0 if op == "socialFeed" else 10
            page = [p for _, p in by_author[a][skip:skip + 10]]
            q = ('{ socialFeed(feedOptions: {byCreator: {_eq: "%s"}}, '
                 'pagination: {limit: 10, skip: %d}) '
                 '{ items { author permlink title } } }' % (a, skip))
            exp = {"kind": "feed_page", "author": a, "permlinks": page}
        elif op == "socialFeedAuthor":
            a = authors[_zipf_index(r, len(authors))]
            q = ('{ socialFeed(feedOptions: {byCreator: {_eq: "%s"}}, '
                 'pagination: {limit: 5}) { items { permlink '
                 'author { username profile { name } } } } }' % a)
            exp = {"kind": "feed_author", "author": a,
                   "n": min(5, len(by_author[a])),
                   "name": profile[a]["displayName"]}
        elif op == "socialPost":
            k = posts[len(posts) - 1 - _zipf_index(r, len(posts), 0.9)]
            q = ('{ socialPost(author: "%s", permlink: "%s") '
                 '{ author permlink body } }' % (k[2], k[3]))
            exp = {"kind": "post", "author": k[2], "permlink": k[3],
                   "body": world.posts[k]["body"]}
        elif op == "socialPostChildren":
            k = with_kids[_zipf_index(r, len(with_kids), 0.9)]
            kids = sorted(world.children[k])
            q = ('{ socialPost(author: "%s", permlink: "%s") { permlink '
                 'children(limit: 20) { author permlink } } }' % k)
            exp = {"kind": "children", "permlink": k[1],
                   "children": [[a, p] for _, a, p in kids]}
        elif op == "profile":
            u = users[_zipf_index(r, len(users))]
            q = '{ profile(id: "%s") { username name } }' % u
            exp = {"kind": "profile", "username": u,
                   "name": profile[u]["displayName"]}
        elif op == "follows":
            u = users[_zipf_index(r, len(users))]
            q = ('{ follows(id: "%s") { followers_count followings_count } }'
                 % u)
            exp = {"kind": "follows", "followers": followers.get(u, 0),
                   "followings": followings.get(u, 0)}
        elif op == "trendingFeed":
            q = ('{ trendingFeed(pagination: {limit: 10}) '
                 '{ items { author permlink } } }')
            exp = {"kind": "known_posts", "n": 10}
        elif op == "searchFeed":
            w = r.choice(VOCAB)
            q = ('{ searchFeed(searchTerm: "%s", pagination: {limit: 10}) '
                 '{ items { author permlink body } } }' % w)
            exp = {"kind": "search", "term": w, "n": 10}
        elif op == "relatedFeed":
            k = posts[len(posts) - 1 - _zipf_index(r, len(posts), 0.9)]
            q = ('{ relatedFeed(author: "%s", permlink: "%s", '
                 'pagination: {limit: 10}) { items { author permlink } } }'
                 % (k[2], k[3]))
            exp = {"kind": "known_posts", "max": 25}
        elif op == "trendingTags":
            q = '{ trendingTags(limit: 5) { tags { tag score } } }'
            exp = {"kind": "tags", "n": 5}
        else:
            q = '{ leaderBoard { total_active_creators } }'
            exp = {"kind": "leaderboard",
                   "total": sum(1 for p in world.profiles if p["score"] > 0)}
        reqs.append({"op": op, "query": q, "expect": exp})
    return reqs


def known_keys(world):
    return sorted([a, p] for (_, _, a, p) in world.posts)


def now_anchor(world):
    """trendingTags' clock: one hour after the last block."""
    return (world.time + timedelta(hours=1)).strftime("%Y-%m-%d %H:%M:%S")


def final_posts(world):
    """The store the archive plus the tail must leave: every post's
    4-tuple key (\\x01-joined) with its latest body."""
    return {"\x01".join(k): v["body"] for k, v in world.posts.items()}


def social_inputs(work, seed):
    """Write the store inputs, the request mix with its answers and the
    store the merges must leave."""
    world = Social(seed)
    write_store_inputs(world, work)
    meta = {"now": now_anchor(world), "cycle": sum(w for _, w in MIX),
            "archive_posts": world.n_archive_posts}
    for name, obj in (("requests", serve_requests(world, seed)),
                      ("known_keys", known_keys(world)),
                      ("final_posts", final_posts(world)),
                      ("meta", meta)):
        with open(f"{work}/{name}.json", "w") as f:
            json.dump(obj, f)
