"""Engine-independent checker for the link-graph benchmark.

Rebuilds every graph from the raw generated inputs with NumPy and DuckDB
(fold, dictionary, both regimes' semantics) and compares each result the
engine returned:

- dictionary, folded edge set and adjacency: exact
- PageRank, risk propagation and resumed ranks: rtol 1e-6 against the
  reference recurrence run for the same number of supersteps
  (renormalize-each-superstep for PageRank, prior teleport for risk)
- connected components: every label equals the smallest vid of its component
- label propagation: every label is a vid of the vertex's own component
- triangles and clustering coefficients: exact counts
- network metrics: density and degree totals, medians and shares
- high-risk providers: exactly the vertices above the p90 of the returned risk

Each check belongs to the timed operation (span) that produced its input;
an operation with any failed check counts as failed.
"""

import os
import re

import duckdb
import numpy as np
import pandas as pd

RTOL = 1e-6
LANG_PATTERNS = {
    "scala": re.compile(r"import (lib\d{3})\._"),
    "python": re.compile(r"import (lib\d{3})(?:\n|$)"),
    "java": re.compile(r"import (lib\d{3})\.\*;"),
    "go": re.compile(r'import "(lib\d{3})"'),
}


class Report:
    def __init__(self):
        self.results = []  # (op, check, ok, detail)

    def check(self, op, name, ok, detail=""):
        self.results.append((op, name, bool(ok), detail))
        return bool(ok)

    def failed_ops(self):
        return sorted({op for op, _, ok, _ in self.results if not ok})

    def failures(self):
        return [r for r in self.results if not r[2]]


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def read_parquet(path, cols):
    con = connect()
    try:
        return con.sql(f"SELECT {', '.join(cols)} FROM read_parquet('{path}/*.parquet')").fetchnumpy()
    finally:
        con.close()


def load(res_dir, name):
    dtype = "<f8" if name.endswith(".f64") else "<i8"
    path = os.path.join(res_dir, name)
    return np.fromfile(path, dtype=dtype) if os.path.exists(path) else None


class Graph:
    """Folded graph in vid space: vids are the ascending rank of the external id."""

    def __init__(self, ids, s, d, w):
        self.ids, self.s, self.d, self.w = ids, s, d, w
        self.n, self.m = len(ids), len(s)
        self.in_deg = np.bincount(d, weights=w, minlength=self.n)
        self.out_deg = np.bincount(s, weights=w, minlength=self.n)
        self.w_norm = w / self.in_deg[d] if self.m else w

    @staticmethod
    def fold(src, dst):
        src = np.asarray(src, dtype=np.int64)
        dst = np.asarray(dst, dtype=np.int64)
        ids, vid = np.unique(np.concatenate([src, dst]), return_inverse=True)
        n = len(ids)
        key = vid[:len(src)] * n + vid[len(src):]
        uk, cnt = np.unique(key, return_counts=True)
        return Graph(ids, uk // n, uk % n, cnt.astype(np.float64))

    @staticmethod
    def from_weighted(ids, s, d, w):
        order = np.lexsort((d, s))
        return Graph(ids, s[order], d[order], w[order])

    def fingerprint(self):
        w = self.w.astype(np.int64)
        prod = sum(int(c.sum()) for c in np.array_split(self.s * self.d * w, max(1, self.m // 500000)))
        return ":".join(str(x) for x in (self.m, int(self.s.sum()), int(self.d.sum()), int(w.sum()), prod))

    def gather(self, x):
        """gx[src] = Σ over edges w / c[dst] · x[dst] (c = weighted in-degree)."""
        return np.bincount(self.s, weights=self.w_norm * x[self.d], minlength=self.n)

    def pagerank(self, supersteps, damping=0.85):
        """Ranks after each superstep and the L1 residual of the last two."""
        x = np.full(self.n, 1.0 / self.n)
        errs = []
        for _ in range(supersteps):
            y = damping * self.gather(x) + (1.0 - damping) / self.n * x.sum()
            y /= y.sum()
            errs.append(np.abs(y - x).sum())
            x = y
        return x, errs

    def composite_prior(self):
        total = self.in_deg + self.out_deg
        with np.errstate(divide="ignore", invalid="ignore"):
            imb = np.where(self.in_deg > 0, self.out_deg / (self.in_deg + 1e-10), self.out_deg)
        iso = 1.0 / (1.0 + total)
        raw = np.full(self.n, 0.001)
        for c in (total, imb, iso):
            mx = c.max() if self.n else 0.0
            raw = raw + ((1.0 / 3) * (c / mx) if mx > 0 else 0.0)
        return raw / raw.sum()

    def risk(self, supersteps, damping=0.95):
        prior = self.composite_prior()
        r0 = prior / prior.sum()
        x = r0.copy()
        for _ in range(supersteps):
            x = damping * self.gather(x) + (1.0 - damping) * r0
        return x

    def components(self):
        """Smallest vid of each vertex's (undirected) component."""
        lab = np.arange(self.n, dtype=np.int64)
        while True:
            low = np.minimum(lab[self.s], lab[self.d])
            new = lab.copy()
            np.minimum.at(new, self.s, low)
            np.minimum.at(new, self.d, low)
            while True:
                jumped = new[new]
                if np.array_equal(jumped, new):
                    break
                new = jumped
            if np.array_equal(new, lab):
                return lab
            lab = new

    def undirected(self):
        u = np.minimum(self.s, self.d)
        v = np.maximum(self.s, self.d)
        keep = u != v
        key = np.unique(u[keep] * self.n + v[keep])
        return key // self.n, key % self.n

    def triangles(self):
        """Per-vertex triangle counts and undirected degree of the simple graph."""
        u, v = self.undirected()
        deg = np.bincount(u, minlength=self.n) + np.bincount(v, minlength=self.n)
        if self.n <= 4000:
            a = np.zeros((self.n, self.n), dtype=np.float32)
            a[u, v] = 1.0
            a[v, u] = 1.0
            tri = np.rint(((a @ a) * a).sum(axis=1) / 2).astype(np.int64)
            return tri, deg
        con = connect()
        try:
            con.register("e", pd.DataFrame({"u": u, "v": v}))
            rows = con.sql("""
                WITH deg AS (
                  SELECT x AS vid, count(*) AS dg FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x),
                o AS (
                  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
                         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b
                  FROM (SELECT e.u, e.v, d1.dg AS du, d2.dg AS dv
                        FROM e JOIN deg d1 ON e.u = d1.vid JOIN deg d2 ON e.v = d2.vid)),
                t AS (
                  SELECT o1.a AS x, o1.b AS y, o2.b AS z FROM o o1 JOIN o o2 ON o1.a = o2.a AND o1.b < o2.b
                  JOIN e ON e.u = least(o1.b, o2.b) AND e.v = greatest(o1.b, o2.b))
                SELECT vid, count(*) AS c FROM (SELECT x AS vid FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
                GROUP BY vid""").fetchnumpy()
        finally:
            con.close()
        tri = np.zeros(self.n, dtype=np.int64)
        tri[rows["vid"].astype(np.int64)] = rows["c"].astype(np.int64)
        return tri, deg

    def network_metrics(self):
        n, out_d, in_d = self.n, self.out_deg, self.in_deg
        tot = out_d + in_d
        imb = np.where(in_d > 0, out_d / (in_d + 1e-10), out_d)
        return {
            "total_providers": n,
            "total_referrals": self.m,
            "network_density": self.m / (n * (n - 1)) if n > 1 else 0.0,
            "average_referrals_out": out_d.mean(),
            "median_referrals_out": np.percentile(out_d, 50),
            "std_referrals_out": out_d.std(),
            "max_referrals_out": int(out_d.max()),
            "referral_concentration_out": float((out_d > np.percentile(out_d, 90)).sum()) / n,
            "average_referrals_in": in_d.mean(),
            "median_referrals_in": np.percentile(in_d, 50),
            "std_referrals_in": in_d.std(),
            "max_referrals_in": int(in_d.max()),
            "referral_concentration_in": float((in_d > np.percentile(in_d, 90)).sum()) / n,
            "isolated_providers": int((tot == 0).sum()),
            "hub_providers": int((tot > np.percentile(tot, 95)).sum()),
            "referral_imbalance_ratio": imb.mean(),
        }


def close(a, b, rtol=RTOL):
    return a is not None and b is not None and np.shape(a) == np.shape(b) and np.allclose(a, b, rtol=rtol, atol=0.0)


def max_rel(a, b):
    if a is None or b is None or np.shape(a) != np.shape(b):
        return "shape mismatch"
    return f"max rel err {np.max(np.abs(a - b) / np.maximum(np.abs(b), 1e-300)):.3g}"


def exact(a, b):
    return a is not None and b is not None and np.array_equal(a, b)


def check_build(rep, g, counts, res_dir, op_dict, op_adj, prefix=""):
    dict_ = load(res_dir, f"{prefix}dict.i64")
    rep.check(op_dict, f"{prefix}dictionary", exact(dict_, g.ids), f"n engine {counts.get(prefix + 'n')} ref {g.n}")
    rep.check(op_dict, f"{prefix}vertex/edge counts", counts.get(prefix + "n") == g.n and counts.get(prefix + "m") == g.m,
              f"engine n={counts.get(prefix + 'n')} m={counts.get(prefix + 'm')}, ref n={g.n} m={g.m}")
    rep.check(op_dict, f"{prefix}folded edge set", counts.get(prefix + "edge_fingerprint") == g.fingerprint(),
              f"engine {counts.get(prefix + 'edge_fingerprint')} ref {g.fingerprint()}")
    rep.check(op_adj, f"{prefix}adjacency holds every edge", counts.get(prefix + "adjacency_edges") == g.m,
              f"engine {counts.get(prefix + 'adjacency_edges')} ref {g.m}")
    if prefix + "adjacency_wnorm_sum" in counts:  # each in-edge list's weights normalize to 1
        got, want = counts[prefix + "adjacency_wnorm_sum"], int((g.in_deg > 0).sum())
        rep.check(op_adj, f"{prefix}adjacency weights normalize per destination",
                  np.isclose(got, want, rtol=1e-9, atol=0.0), f"engine {got} ref {want}")


def check_ranks(rep, g, res_dir, counts, op, tol):
    k = counts.get("pagerank_supersteps", 0)
    ref, errs = g.pagerank(k)
    got = load(res_dir, "pagerank.f64")
    rep.check(op, f"pagerank ranks at superstep {k}", close(got, ref), max_rel(got, ref))
    stops_here = k >= 1 and errs[-1] < tol and (k == 1 or errs[-2] >= tol)
    rep.check(op, f"pagerank stops at the first superstep under tol {tol}", stops_here and counts.get("pagerank_converged"),
              f"ref residuals {errs[-2:] if errs else []}")
    # a repeated call must give the same result: earlier calls' ranks, concatenated
    calls = counts.get("pagerank_call_supersteps", [k])
    earlier = load(res_dir, "pagerank.repeats.f64")
    earlier = np.zeros((0, g.n)) if earlier is None and len(calls) == 1 else earlier
    same = earlier is not None and earlier.size == (len(calls) - 1) * g.n and \
        all(c == k for c in calls) and all(close(row, ref) for row in earlier.reshape(-1, g.n))
    rep.check(op, f"every repeated pagerank call ({len(calls)}) matches at superstep {k}", same,
              f"supersteps per call {calls}")


def check_risk(rep, g, res_dir, counts):
    risk_k = counts.get("engine.risk.supersteps", 0)
    ref_risk = g.risk(risk_k)
    got_risk = load(res_dir, "risk.f64")
    rep.check("engine.risk", f"risk at superstep {risk_k}", risk_k == 6 and close(got_risk, ref_risk), max_rel(got_risk, ref_risk))

    high = load(res_dir, "high_risk.i64")
    if got_risk is not None and got_risk.shape == (g.n,):
        thr = np.percentile(got_risk, 90)
        above = np.nonzero(got_risk > thr)[0]
        want = above[np.lexsort((above, -got_risk[above]))]
        rep.check("analytics.high_risk", "providers above p90, risk-descending", exact(high, want),
                  f"engine {None if high is None else len(high)} rows, ref {len(want)}")
    else:
        rep.check("analytics.high_risk", "providers above p90, risk-descending", False, "no risk vector")


def check_components(rep, g, res_dir):
    cc = g.components()
    got_cc = load(res_dir, "cc.i64")
    rep.check("algo.cc", "component labels are the smallest vid", exact(got_cc, cc),
              f"{0 if got_cc is None or got_cc.shape != cc.shape else int((got_cc != cc).sum())} vertices differ")
    lpa = load(res_dir, "lpa.i64")
    ok = lpa is not None and lpa.shape == (g.n,) and lpa.min() >= 0 and lpa.max() < g.n
    rep.check("algo.lpa", "labels are vids of the vertex's own component", ok and np.array_equal(cc[lpa], cc))


def check_metrics(rep, g, counts):
    ref_m = g.network_metrics()
    calls = counts.get("network_metrics_repeats", []) + [counts.get("network_metrics", {})]
    bad = [f"call {i + 1} {k}: engine {got_m.get(k)} ref {v}" for i, got_m in enumerate(calls) for k, v in ref_m.items()
           if k not in got_m or got_m[k] is None or not np.isclose(float(got_m[k]), float(v), rtol=1e-9, atol=0.0)]
    rep.check("analytics.metrics", f"network metrics (density, degree totals, medians, shares), {len(calls)} call(s)",
              not bad, "; ".join(bad))


def repo_graph(input_dir):
    files = read_parquet(os.path.join(input_dir, "repo_files"), ["repo", "lang", "content"])
    ids = read_parquet(os.path.join(input_dir, "repo_ids"), ["repo", "ext_id"])
    ext_of = dict(zip(ids["repo"].tolist(), ids["ext_id"].tolist()))
    pairs = set()
    for repo, lang, content in zip(files["repo"].tolist(), files["lang"].tolist(), files["content"].tolist()):
        for tok in LANG_PATTERNS[lang].findall(content):
            pairs.add((repo, tok))
    return pairs, ext_of


def shared_pattern_graph(pairs, ext_of, cap):
    repos = sorted({r for r, _ in pairs})
    toks = sorted({t for _, t in pairs})
    ri = {r: i for i, r in enumerate(repos)}
    ti = {t: i for i, t in enumerate(toks)}
    b = np.zeros((len(repos), len(toks)), dtype=np.float32)
    for r, t in pairs:
        b[ri[r], ti[t]] = 1.0
    b = b[:, b.sum(axis=0) <= cap]
    shared = np.rint(b @ b.T).astype(np.int64)
    np.fill_diagonal(shared, 0)
    s, d = np.nonzero(shared)
    ext = np.array([ext_of[r] for r in repos], dtype=np.int64)
    ids = np.unique(np.concatenate([ext[s], ext[d]]))
    vs, vd = np.searchsorted(ids, ext[s]), np.searchsorted(ids, ext[d])
    return Graph.from_weighted(ids, vs, vd, shared[s, d].astype(np.float64))


def check_contract(input_dir, res_dir, counts, hot_token_cap=200):
    rep = Report()
    orders = read_parquet(os.path.join(input_dir, "orders"), ["o_orderkey", "o_custkey"])
    lines = read_parquet(os.path.join(input_dir, "lineitem"), ["l_orderkey", "l_suppkey"])
    okey, lkey = orders["o_orderkey"].astype(np.int64), lines["l_orderkey"].astype(np.int64)
    size = int(max(okey.max(), lkey.max())) + 1
    cust = np.zeros(size, dtype=np.int64)
    placed = np.zeros(size, dtype=bool)
    cust[okey], placed[okey] = orders["o_custkey"], True
    keep = placed[lkey]  # orders ⋈ lineitem on the order key
    g = Graph.fold(cust[lkey[keep]], lines["l_suppkey"][keep])
    check_build(rep, g, counts, res_dir, "graph.fold_dict", "graph.adjacency")
    check_ranks(rep, g, res_dir, counts, "engine.pagerank", tol=1e-6)
    check_risk(rep, g, res_dir, counts)
    check_components(rep, g, res_dir)
    check_metrics(rep, g, counts)
    tri, _ = g.triangles()
    got = load(res_dir, "triangles.i64")
    rep.check("algo.triangles", f"per-vertex triangles (total {int(tri.sum()) // 3})", exact(got, tri),
              f"engine total {None if got is None else int(got.sum()) // 3}")

    pairs, ext_of = repo_graph(input_dir)
    rg = shared_pattern_graph(pairs, ext_of, hot_token_cap)
    check_build(rep, rg, counts, res_dir, "sources.repo_graph", "sources.repo_graph", prefix="repo_")
    rtri, rdeg = rg.triangles()
    got_t, got_d = load(res_dir, "repo_triangles.i64"), load(res_dir, "repo_deg.i64")
    rep.check("algo.clustering", f"repo per-vertex triangles (total {int(rtri.sum()) // 3})", exact(got_t, rtri))
    rep.check("algo.clustering", "repo undirected degrees", exact(got_d, rdeg))
    with np.errstate(divide="ignore", invalid="ignore"):
        coeff = np.where(rdeg >= 2, 2.0 * rtri / (rdeg * (rdeg - 1.0)), 0.0)
    got_c = load(res_dir, "repo_clustering.f64")
    rep.check("algo.clustering", "repo clustering coefficients", close(got_c, coeff, rtol=1e-12), max_rel(got_c, coeff))
    return rep


def check_powerlaw(input_dir, res_dir, counts, first_leg=5, commit_every=5, tol=1e-5):
    rep = Report()
    edges = read_parquet(os.path.join(input_dir, "edges"), ["src", "dst"])
    g = Graph.fold(edges["src"], edges["dst"])
    check_build(rep, g, counts, res_dir, "graph.fold_dict", "graph.adjacency")
    rep.check("engine.pagerank", f"first leg stops at superstep {first_leg}",
              counts.get("engine.pagerank.supersteps") == first_leg)
    k = counts.get("pagerank_supersteps", 0)
    want = sorted(set(range(commit_every, k + 1, commit_every)) | {first_leg, k})
    per_job = counts.get("checkpoint_supersteps_per_job", [counts.get("checkpoint_supersteps")])
    rep.check("engine.pagerank", "committed checkpoint supersteps",
              counts.get("checkpoint_supersteps") == want and all(c == want for c in per_job),
              f"engine {per_job} want {want}")
    rep.check("engine.resume", "resume continues from the last snapshot",
              counts.get("engine.resume.supersteps") == k - first_leg,
              f"resume ran {counts.get('engine.resume.supersteps')} of {k} supersteps")
    check_ranks(rep, g, res_dir, counts, "engine.resume", tol=tol)
    check_metrics(rep, g, counts)
    return rep


CHECKS = {"contract_sf01": check_contract, "powerlaw_1m": check_powerlaw}


def check(workload, input_dir, res_dir, counts):
    return CHECKS[workload](input_dir, res_dir, counts)
