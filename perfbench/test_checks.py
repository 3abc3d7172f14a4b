"""Tests of the benchmark's correctness checks: each check passes on the
right answer and fails on a perturbed one (the negative controls).

    python3 perfbench/test_checks.py
"""
import copy
import json
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen    # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "test")


class CatalogCheck(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        self.tables = f"{SCRATCH}/tables"
        os.makedirs(self.tables)
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]:
            pq.write_table(pa.table({"k": [1, 2, 3]}),
                           f"{self.tables}/{t}.parquet")
        self.oracles = {"q": "SELECT k, CAST(k AS DOUBLE) / 2 AS half "
                             "FROM region"}

    def result(self, rows):
        os.makedirs(f"{SCRATCH}/results/q", exist_ok=True)
        pq.write_table(pa.table({"half": [r[1] for r in rows],
                                 "k": [r[0] for r in rows]}),
                       f"{SCRATCH}/results/q/part-0.parquet")

    def run_check(self):
        return check.catalog(self.tables, f"{SCRATCH}/results", ["q"],
                             self.oracles)

    def test_matching_result_passes(self):
        self.result([(3, 1.5), (1, 0.5), (2, 1.0)])   # order is free
        self.assertEqual(self.run_check(), [])

    def test_perturbed_value_fails(self):
        self.result([(1, 0.5), (2, 1.0), (3, 1.6)])
        self.assertTrue(self.run_check())

    def test_missing_row_fails(self):
        self.result([(1, 0.5), (2, 1.0)])
        self.assertTrue(self.run_check())

    def test_missing_result_fails(self):
        self.assertTrue(self.run_check())


class ServeCheck(unittest.TestCase):
    """Every expectation kind the request mix produces, checked against
    a response built from the generator's own answer, then perturbed."""

    @classmethod
    def setUpClass(cls):
        cls.world = gen.Social(5, n_authors=40, n_top=300, n_replies=150,
                               n_edits=40, n_profiles=80, n_follows=200,
                               n_blocks=60)
        cls.reqs = gen.serve_requests(cls.world, 5, n=84)
        cls.known = {tuple(k) for k in gen.known_keys(cls.world)}

    def answer(self, req):
        """The response a correct engine gives, from the expectation."""
        e = req["expect"]
        k = e["kind"]
        if k == "feed_page":
            d = {"socialFeed": {"items": [
                {"author": e["author"], "permlink": p, "title": "t"}
                for p in e["permlinks"]]}}
        elif k == "feed_author":
            d = {"socialFeed": {"items": [
                {"permlink": f"p{i}", "author": {
                    "username": e["author"], "profile": {"name": e["name"]}}}
                for i in range(e["n"])]}}
        elif k == "post":
            d = {"socialPost": {"author": e["author"],
                                "permlink": e["permlink"], "body": e["body"]}}
        elif k == "children":
            d = {"socialPost": {"permlink": e["permlink"], "children": [
                {"author": a, "permlink": p} for a, p in e["children"]]}}
        elif k == "profile":
            d = {"profile": {"username": e["username"], "name": e["name"]}}
        elif k == "follows":
            d = {"follows": {"followers_count": e["followers"],
                             "followings_count": e["followings"]}}
        elif k == "known_posts":
            keys = sorted(self.known)[:e.get("n", 3)]
            field = "trendingFeed" if req["op"] == "trendingFeed" \
                else "relatedFeed"
            d = {field: {"items": [{"author": a, "permlink": p}
                                   for a, p in keys]}}
        elif k == "search":
            d = {"searchFeed": {"items": [
                {"author": "a", "permlink": f"p{i}",
                 "body": f"x {e['term']} y"} for i in range(e["n"])]}}
        elif k == "tags":
            d = {"trendingTags": {"tags": [
                {"tag": f"t{i}", "score": 10 - i} for i in range(e["n"])]}}
        else:
            d = {"leaderBoard": {"total_active_creators": e["total"]}}
        return d

    @staticmethod
    def perturb(kind, data):
        """The answer with one thing wrong, for each expectation kind."""
        d = copy.deepcopy(data)
        field, node = next(iter(d.items()))
        items = (node or {}).get("items")
        if kind == "feed_page":
            items.pop() if items else items.append(
                {"author": "x", "permlink": "y"})
        elif kind == "feed_author":
            items[0]["author"]["profile"]["name"] += "~"
        elif kind == "post":
            node["body"] += "~"
        elif kind == "children":
            kids = node["children"]
            kids.pop() if kids else kids.append(
                {"author": "x", "permlink": "y"})
        elif kind == "profile":
            node["name"] += "~"
        elif kind == "follows":
            node["followers_count"] += 1
        elif kind == "known_posts":
            items[0]["permlink"] = "no-such-post"
        elif kind == "search":
            items[0]["body"] = "nothing here"
        elif kind == "tags":
            node["tags"].reverse()
        else:
            node["total_active_creators"] += 1
        return d

    def test_every_kind_accepts_right_and_rejects_perturbed(self):
        kinds = set()
        for req in self.reqs:
            data = self.answer(req)
            ok = json.dumps({"data": data})
            self.assertEqual(
                check.serve_response(req, 200, ok, self.known), [],
                req["op"])
            kind = req["expect"]["kind"]
            bad = json.dumps({"data": self.perturb(kind, data)})
            self.assertTrue(
                check.serve_response(req, 200, bad, self.known),
                f"{req['op']} accepted {bad}")
            kinds.add(kind)
        self.assertEqual(kinds, {"feed_page", "feed_author", "post",
                                 "children", "profile", "follows",
                                 "known_posts", "search", "tags",
                                 "leaderboard"})

    def test_errors_and_http_failures_fail(self):
        req = self.reqs[0]
        self.assertTrue(check.serve_response(
            req, 200, json.dumps({"data": None, "errors": [{"message": "x"}]}),
            self.known))
        self.assertTrue(check.serve_response(req, 500, "{}", self.known))


class StoreCheck(unittest.TestCase):
    want = {"\x01".join(["", "hive-1", "a", "p1"]): "v2",
            "\x01".join(["a", "p1", "b", "r1"]): "reply",
            "\x01".join(["", "hive-1", "c", "p2"]): "late"}

    def rows(self, bodies):
        out = []
        for key, body in bodies.items():
            pa_, pp, a, p = key.split("\x01")
            out.append({"parent_author": pa_, "parent_permlink": pp,
                        "author": a, "permlink": p, "body": body})
        return out

    def test_latest_store_passes(self):
        self.assertEqual(check.store(self.rows(self.want), self.want), [])

    def test_stale_body_fails(self):
        got = dict(self.want)
        got["\x01".join(["", "hive-1", "a", "p1"])] = "v1"
        self.assertTrue(check.store(self.rows(got), self.want))

    def test_missing_and_extra_posts_fail(self):
        short = dict(list(self.want.items())[:-1])
        self.assertTrue(check.store(self.rows(short), self.want))
        extra = dict(self.want, **{"\x01".join(["", "h", "x", "y"]): "z"})
        self.assertTrue(check.store(self.rows(extra), self.want))

    def test_duplicate_row_fails(self):
        rows = self.rows(self.want)
        self.assertTrue(check.store(rows + rows[:1], self.want))


if __name__ == "__main__":
    unittest.main()
