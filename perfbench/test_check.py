"""The checker must pass a correct result and fail each deliberately
perturbed one. Results are synthesized from the reference implementations
on a tiny seeded input, so no JVM is needed:

    python3 perfbench/test_check.py
"""

import copy
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import check  # noqa: E402
import run  # noqa: E402

LANG_LINE = {"scala": "import {}._", "python": "import {}", "java": "import {}.*;", "go": 'import "{}"'}


def write_parquet(path, frame):
    os.makedirs(path)
    con = duckdb.connect()
    con.register("f", frame)
    con.execute(f"COPY (SELECT * FROM f) TO '{path}/part-0.parquet' (FORMAT PARQUET)")
    con.close()


def save(res_dir, name, arr):
    np.asarray(arr, dtype="<f8" if name.endswith(".f64") else "<i8").tofile(os.path.join(res_dir, name))


def converged_supersteps(g, tol):
    _, errs = g.pagerank(200)
    return next(i + 1 for i, e in enumerate(errs) if e < tol)


def common_results(g, res_dir, counts, prefix=""):
    save(res_dir, f"{prefix}dict.i64", g.ids)
    counts.update({f"{prefix}n": g.n, f"{prefix}m": g.m, f"{prefix}edge_fingerprint": g.fingerprint(),
                   f"{prefix}adjacency_edges": g.m})


def degree_results(g, counts):
    counts["adjacency_wnorm_sum"] = float((g.in_deg > 0).sum())
    counts["network_metrics"] = {k: float(v) for k, v in g.network_metrics().items()}


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        self.input = os.path.join(self.tmp, "input")
        self.res = os.path.join(self.tmp, "res")
        os.makedirs(self.res)
        self.rng = np.random.default_rng(7)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    # ---- synthetic correct results

    def contract(self):
        rng = self.rng
        okey = np.arange(1, 301)
        write_parquet(os.path.join(self.input, "orders"),
                      pd.DataFrame({"o_orderkey": okey, "o_custkey": rng.integers(1, 60, len(okey))}))
        lkey = np.repeat(okey, rng.integers(1, 8, len(okey)))
        write_parquet(os.path.join(self.input, "lineitem"),
                      pd.DataFrame({"l_orderkey": lkey, "l_suppkey": rng.integers(1, 20, len(lkey))}))
        repos, langs, contents = [], [], []
        for r in range(40):
            for f in range(3):
                lang = ["scala", "python", "java", "go"][(r + f) % 4]
                toks = rng.integers(0, 25, rng.integers(1, 5))
                repos.append(f"repo{r:07d}")
                langs.append(lang)
                contents.append("// header\n" + "\n".join(LANG_LINE[lang].format(f"lib{t:03d}") for t in toks))
        write_parquet(os.path.join(self.input, "repo_files"),
                      pd.DataFrame({"repo": repos, "lang": langs, "content": contents}))
        names = sorted(set(repos))
        write_parquet(os.path.join(self.input, "repo_ids"),
                      pd.DataFrame({"repo": names, "ext_id": rng.integers(-2**62, 2**62, len(names))}))

        okey_to_cust = dict(zip(okey.tolist(), pd.read_parquet(os.path.join(self.input, "orders"))["o_custkey"]))
        g = check.Graph.fold([okey_to_cust[k] for k in lkey.tolist()],
                             pd.read_parquet(os.path.join(self.input, "lineitem"))["l_suppkey"])
        counts = {}
        common_results(g, self.res, counts)
        k = converged_supersteps(g, 1e-6)
        counts.update({"pagerank_supersteps": k, "pagerank_converged": True, "pagerank_call_supersteps": [k] * 3})
        save(self.res, "pagerank.f64", g.pagerank(k)[0])
        save(self.res, "pagerank.repeats.f64", np.tile(g.pagerank(k)[0], 2))
        degree_results(g, counts)
        counts["engine.risk.supersteps"] = 6
        risk = g.risk(6)
        save(self.res, "risk.f64", risk)
        above = np.nonzero(risk > np.percentile(risk, 90))[0]
        save(self.res, "high_risk.i64", above[np.lexsort((above, -risk[above]))])
        cc = g.components()
        save(self.res, "cc.i64", cc)
        save(self.res, "lpa.i64", cc)
        save(self.res, "triangles.i64", g.triangles()[0])

        pairs, ext_of = check.repo_graph(self.input)
        rg = check.shared_pattern_graph(pairs, ext_of, 200)
        common_results(rg, self.res, counts, prefix="repo_")
        tri, deg = rg.triangles()
        save(self.res, "repo_triangles.i64", tri)
        save(self.res, "repo_deg.i64", deg)
        with np.errstate(divide="ignore", invalid="ignore"):
            save(self.res, "repo_clustering.f64", np.where(deg >= 2, 2.0 * tri / (deg * (deg - 1.0)), 0.0))
        self.assertGreater(int(tri.sum()), 0)
        return counts

    def powerlaw(self):
        src = (300 * self.rng.random(3000) ** 2).astype(np.int64)
        dst = (300 * self.rng.random(3000) ** 2).astype(np.int64)
        keep = src != dst
        write_parquet(os.path.join(self.input, "edges"), pd.DataFrame({"src": src[keep], "dst": dst[keep]}))
        g = check.Graph.fold(src[keep], dst[keep])
        counts = {}
        common_results(g, self.res, counts)
        k = converged_supersteps(g, 1e-5)
        self.assertGreater(k, 5)
        committed = sorted(set(range(5, k + 1, 5)) | {k})
        counts.update({"pagerank_supersteps": k, "pagerank_converged": True, "engine.pagerank.supersteps": 5,
                       "engine.resume.supersteps": k - 5, "pagerank_call_supersteps": [k, k],
                       "checkpoint_supersteps": committed, "checkpoint_supersteps_per_job": [committed, committed]})
        save(self.res, "pagerank.f64", g.pagerank(k)[0])
        save(self.res, "pagerank.repeats.f64", g.pagerank(k)[0])
        degree_results(g, counts)
        counts["network_metrics_repeats"] = [dict(counts["network_metrics"])]
        return counts

    # ---- assertions

    def assert_fails(self, workload, counts, check_substring, mutate_file=None):
        if mutate_file:
            name, fn = mutate_file
            path = os.path.join(self.res, name)
            arr = np.fromfile(path, dtype="<f8" if name.endswith(".f64") else "<i8")
            original = arr.copy()
            fn(arr)
            arr.tofile(path)
        try:
            rep = check.check(workload, self.input, self.res, counts)
            failed = [name for _, name, ok, _ in rep.results if not ok]
            self.assertTrue(any(check_substring in f for f in failed),
                            f"{check_substring!r} did not fail; failed: {failed}")
        finally:
            if mutate_file:
                original.tofile(path)

    def test_contract_passes_then_each_perturbation_fails(self):
        counts = self.contract()
        rep = check.check("contract_sf01", self.input, self.res, counts)
        self.assertEqual(rep.failures(), [])

        def swap(a):
            a[[0, 1]] = a[[1, 0]]

        def bump(a):
            a[len(a) // 2] += 1

        def scale(a):
            a[len(a) // 2] *= 1 + 1e-5

        for name, fn, expect in [
            ("dict.i64", swap, "dictionary"),
            ("pagerank.f64", scale, "pagerank ranks"),
            ("pagerank.repeats.f64", scale, "every repeated pagerank call"),
            ("risk.f64", scale, "risk at superstep"),
            ("cc.i64", bump, "component labels"),
            ("lpa.i64", lambda a: a.__setitem__(0, len(a)), "labels are vids"),
            ("triangles.i64", bump, "per-vertex triangles"),
            ("high_risk.i64", swap, "providers above p90"),
            ("repo_dict.i64", swap, "repo_dictionary"),
            ("repo_triangles.i64", bump, "repo per-vertex triangles"),
            ("repo_deg.i64", bump, "repo undirected degrees"),
            ("repo_clustering.f64", scale, "repo clustering"),
        ]:
            with self.subTest(file=name):
                self.assert_fails("contract_sf01", counts, expect, (name, fn))

        for key, value, expect in [
            ("n", counts["n"] + 1, "vertex/edge counts"),
            ("edge_fingerprint", "1:2:3:4:5", "folded edge set"),
            ("adjacency_edges", counts["m"] - 1, "adjacency holds every edge"),
            ("adjacency_wnorm_sum", counts["adjacency_wnorm_sum"] * 1.001, "normalize per destination"),
            ("pagerank_supersteps", counts["pagerank_supersteps"] + 1, "stops at the first superstep"),
            ("pagerank_call_supersteps", [counts["pagerank_supersteps"]] * 2 + [counts["pagerank_supersteps"] + 1],
             "every repeated pagerank call"),
            ("repo_m", counts["repo_m"] - 1, "repo_vertex/edge counts"),
        ]:
            with self.subTest(count=key):
                bad = dict(counts, **{key: value})
                self.assert_fails("contract_sf01", bad, expect)
        with self.subTest(count="network_metrics"):
            bad = copy.deepcopy(counts)
            bad["network_metrics"]["network_density"] *= 1.01
            self.assert_fails("contract_sf01", bad, "network metrics")

    def test_powerlaw_passes_then_each_perturbation_fails(self):
        counts = self.powerlaw()
        rep = check.check("powerlaw_1m", self.input, self.res, counts)
        self.assertEqual(rep.failures(), [])
        self.assert_fails("powerlaw_1m", counts, "pagerank ranks",
                          ("pagerank.f64", lambda a: a.__setitem__(3, a[3] * (1 + 1e-5))))
        self.assert_fails("powerlaw_1m", dict(counts, checkpoint_supersteps=counts["checkpoint_supersteps"][1:]),
                          "committed checkpoint supersteps")
        self.assert_fails("powerlaw_1m", dict(counts, pagerank_call_supersteps=[counts["pagerank_supersteps"] - 1] * 2),
                          "every repeated pagerank call")
        self.assert_fails("powerlaw_1m", counts, "every repeated pagerank call",
                          ("pagerank.repeats.f64", lambda a: a.__setitem__(3, a[3] * (1 + 1e-5))))
        self.assert_fails("powerlaw_1m", dict(counts, checkpoint_supersteps_per_job=[[5], counts["checkpoint_supersteps"]]),
                          "committed checkpoint supersteps")
        bad = copy.deepcopy(counts)
        bad["network_metrics_repeats"][0]["network_density"] *= 1.01
        self.assert_fails("powerlaw_1m", bad, "network metrics")
        self.assert_fails("powerlaw_1m", dict(counts, **{"engine.pagerank.supersteps": 6}), "first leg stops")
        self.assert_fails("powerlaw_1m", dict(counts, **{"engine.resume.supersteps": counts["pagerank_supersteps"]}),
                          "resume continues")

    def test_counts_must_repeat_for_a_seed(self):
        class Args:
            workload, seed = "powerlaw_1m", 3
        summary = {"counts": {"n": 10, "m": 20, "pagerank_supersteps": 7}, "input_checksums": {"edges": "1:2"}}
        cp = ["bench-a", "engine-b"]
        self.assertEqual(run.repeat_check(self.tmp, cp, Args, summary), [])
        self.assertEqual(run.repeat_check(self.tmp, cp, Args, summary), [])
        drifted = copy.deepcopy(summary)
        drifted["counts"]["pagerank_supersteps"] = 8
        self.assertEqual(run.repeat_check(self.tmp, cp, Args, drifted), ["pagerank_supersteps"])


if __name__ == "__main__":
    unittest.main()
