"""Round-7 operator pins: FW-BW pivot SCC and friends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _scc_map(df):
    return {r["node"]: r["scc"] for r in df.collect()}


def test_fwbw_scc_equals_exact_scc_on_events_graph(spark, sf_dir):
    """The FW-BW coloring must produce EXACTLY the closure-based labels
    on the 50-node catalog graph (same min-member convention)."""
    from platform_etl_backend_spark.catalog import QUERIES

    exact = _scc_map(QUERIES["q_scc"].fn(spark, sf_dir))
    fwbw = _scc_map(QUERIES["q_scc_fwbw"].fn(spark, sf_dir))
    assert fwbw == exact


def test_fwbw_scc_matches_networkx_on_random_digraph(spark):
    import random

    nx = pytest.importorskip("networkx")
    from platform_etl_backend_spark.operators.graph import fwbw_scc

    rng = random.Random(11)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    g = nx.DiGraph(edges)
    want = {}
    for comp in nx.strongly_connected_components(g):
        m = min(comp)
        for node in comp:
            want[node] = m
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = _scc_map(fwbw_scc(df))
    assert got == want


def test_fwbw_scc_trims_acyclic_graph_in_one_round(spark):
    """A DAG is all singleton SCCs — trim must peel everything without
    ever needing a pivot BFS beyond round 1."""
    from platform_etl_backend_spark.operators.graph import fwbw_scc

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, ["src", "dst"])
    got = _scc_map(fwbw_scc(df, max_rounds=2))
    assert got == {i: i for i in range(31)}


def test_fwbw_scc_empty_after_selfloop_filter_returns_empty_frame(spark):
    """Round-7 ADVICE: an edge frame that is empty after the self-loop/
    distinct filter must yield an empty (node, scc) frame, not IndexError."""
    from platform_etl_backend_spark.operators.graph import fwbw_scc

    df = spark.createDataFrame([(1, 1), (2, 2)], ["src", "dst"])
    out = fwbw_scc(df)
    assert out.columns == ["node", "scc"]
    assert out.count() == 0


def test_fwbw_scc_raises_on_exhausted_budget(spark):
    from platform_etl_backend_spark.operators.graph import fwbw_scc

    # a 6-cycle needs BFS depth > 1; bfs_max=1 must raise, not mislabel
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame(cyc, ["src", "dst"])
    with pytest.raises(RuntimeError, match="BFS budget"):
        fwbw_scc(df, bfs_max=1).collect()


# --- weighted MinHash --------------------------------------------------------


def _py_wshingles(text: str, k: int = 3) -> dict[str, int]:
    toks = text.strip().split()
    grams = (
        [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        if len(toks) >= k else [" ".join(toks)]
    )
    tf: dict[str, int] = {}
    for g in grams:
        tf[g] = tf.get(g, 0) + 1
    return tf


def _py_wminhash(tf: dict[str, int], seed: int) -> str:
    import hashlib

    return min(
        hashlib.md5(f"{seed}:{g}:{i}".encode()).hexdigest()
        for g, w in tf.items()
        for i in range(1, w + 1)
    )


def test_weighted_shingle_tf_matches_python(spark):
    from platform_etl_backend_spark.operators.dedup import weighted_shingle_tf_rows

    rows = [(1, "a b c a b c a b"), (2, "x y"), (3, "p q r s p q r")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got: dict[int, dict[str, int]] = {}
    for r in weighted_shingle_tf_rows(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], {})[r["g"]] = r["w"]
    want = {i: _py_wshingles(t) for i, t in rows}
    assert got == want


def test_weighted_minhash_signature_matches_python_replica_min(spark):
    """The Spark signature must equal the md5-min over the python replica
    expansion — the EXACT integer-weight consistent-sampling identity."""
    from platform_etl_backend_spark.operators.dedup import (
        weighted_minhash_sigs_from_tf,
        weighted_shingle_tf_rows,
    )

    rows = [(1, "a b c a b c a b"), (2, "a b c d e f a b c"), (3, "z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["h0"], r["h1"], r["h2"])
        for r in weighted_minhash_sigs_from_tf(
            weighted_shingle_tf_rows(df, "doc_id", "text"), "doc_id", 3
        ).collect()
    }
    want = {
        i: tuple(_py_wminhash(_py_wshingles(t), s) for s in range(3))
        for i, t in rows
    }
    assert got == want


def test_weighted_minhash_collision_rate_tracks_weighted_jaccard(spark):
    """Collision probability == weighted Jaccard (the CWS contract):
    over 64 independent hashes the match fraction must track Jw."""
    from platform_etl_backend_spark.operators.dedup import (
        weighted_minhash_sigs_from_tf,
        weighted_shingle_tf_rows,
    )

    a = "the cat sat on the mat " * 4
    b = "the cat sat on the mat " * 2 + "a dog ran in the park " * 2
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    H = 64
    sig = {
        r["doc_id"]: [r[f"h{i}"] for i in range(H)]
        for r in weighted_minhash_sigs_from_tf(
            weighted_shingle_tf_rows(df, "doc_id", "text"), "doc_id", H
        ).collect()
    }
    rate = sum(x == y for x, y in zip(sig[1], sig[2])) / H
    ta, tb = _py_wshingles(a), _py_wshingles(b)
    keys = set(ta) | set(tb)
    m = sum(min(ta.get(g, 0), tb.get(g, 0)) for g in keys)
    u = sum(max(ta.get(g, 0), tb.get(g, 0)) for g in keys)
    jw = m / u
    assert abs(rate - jw) < 0.2  # 64 Bernoulli trials; ±3σ ≈ 0.19


# --- integer transformer cross-encoder --------------------------------------


def test_transformer_rerank_spark_topk(spark, sf_dir):
    """End-to-end through mapInPandas: the catalog query must equal the
    local integer forward, and the per-query top-3 window must rank by
    the scores."""
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.operators.rerank import (
        _int_forward, _int_tokenize,
    )

    out = QUERIES["q_transformer_rerank"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for r in rows[:10]:
        ids, segs = _int_tokenize(docs[r["query_id"]], docs[r["doc_id"]])
        assert r["logit"] == int(_int_forward([ids], [segs])[0])
    # ranks ordered by logit desc within query
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append((r["rk"], r["logit"], r["doc_id"]))
    for q_, lst in per_q.items():
        lst.sort()
        assert len(lst) <= 3
        scores = [s for _, s, _ in lst]
        assert scores == sorted(scores, reverse=True)


# --- distributed logistic-regression GD --------------------------------------


def test_logreg_gd_matches_python_model(spark, sf_dir):
    """3-step Elliott-sigmoid full-batch GD pinned against a plain-python
    model over the same rows (same 9 d.p. gradient rounding, same update
    order), and the learned classifier must beat the majority class."""
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_logreg_gd"].fn(spark, sf_dir).collect()[0]
    rows = [
        (r["x1"], r["x2"], r["y"])
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
            "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            " / CAST(10000000.0 AS DOUBLE) AS x1",
            "CAST(MONTH(o_orderdate) AS BIGINT) / CAST(12.0 AS DOUBLE) AS x2",
            "CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y",
        ).collect()
    ]
    n = len(rows)
    w = [0.0, 0.0, 0.0]
    for _ in range(3):
        sums = [0.0, 0.0, 0.0]
        for x1, x2, y in rows:
            z = w[0] + w[1] * x1 + w[2] * x2
            sig = 0.5 + 0.5 * z / (1 + abs(z))
            sums[0] += round(sig - y, 9)
            sums[1] += round((sig - y) * x1, 9)
            sums[2] += round((sig - y) * x2, 9)
        w = [w[j] - 2.0 * (sums[j] / n) for j in range(3)]
    assert abs(got["w_bias"] - w[0]) < 1e-12
    assert abs(got["w_price"] - w[1]) < 1e-12
    assert abs(got["w_month"] - w[2]) < 1e-12
    correct = sum(
        1 for x1, x2, y in rows
        if ((w[0] + w[1] * x1 + w[2] * x2) > 0) == (y == 1)
    )
    assert got["n_correct"] == correct and got["n"] == n
    majority = max(sum(y for *_, y in rows), n - sum(y for *_, y in rows))
    assert correct > majority  # it actually learned


# --- negative sampling / kappa / conformal ------------------------------------


def test_negative_sampling_matches_python_model(spark, sf_dir):
    """Unigram^0.75 table pinned against plain python: identical weights
    (sqrt∘sqrt∘cube — IEEE-exact), identical seeded draws, identical
    bucket assignment."""
    import hashlib
    import math
    from collections import Counter

    from platform_etl_backend_spark.catalog import QUERIES

    got = [
        (r["i"], r["token"], r["cnt"], r["weight_micro"])
        for r in QUERIES["q_negative_sampling"].fn(spark, sf_dir).collect()
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    cnt = Counter(t for r in docs for t in r["text"].strip().split())
    vocab = sorted(cnt)
    w = {t: int(math.floor(math.sqrt(math.sqrt(float(c * c * c))) * 1000000))
         for t, c in cnt.items()}
    cum, acc = [], 0
    for t in vocab:
        acc += w[t]
        cum.append((t, acc))
    total = acc
    want = []
    for i in range(16):
        r = int(hashlib.md5(f"neg:{i}".encode()).hexdigest()[:12], 16) % total
        tok = next(t for t, cw in cum if cw > r)
        want.append((i, tok, cnt[tok], w[tok]))
    assert got == want


def test_negative_sampling_favors_frequent_tokens(spark, sf_dir):
    """The damped-unigram distribution must still favor frequent tokens:
    the mean count of sampled tokens exceeds the vocabulary mean."""
    from collections import Counter

    from platform_etl_backend_spark.catalog import QUERIES

    rows = QUERIES["q_negative_sampling"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    cnt = Counter(t for r in docs for t in r["text"].strip().split())
    vocab_mean = sum(cnt.values()) / len(cnt)
    sample_mean = sum(r["cnt"] for r in rows) / len(rows)
    assert sample_mean > vocab_mean


def test_cohens_kappa_matches_python_model(spark, sf_dir):
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_cohens_kappa"].fn(spark, sf_dir).collect()[0]
    n = got["n00"] + got["n01"] + got["n10"] + got["n11"]
    assert got["n"] == n
    po = (got["n00"] + got["n11"]) / n
    a0, a1 = got["n00"] + got["n01"], got["n10"] + got["n11"]
    b0, b1 = got["n00"] + got["n10"], got["n01"] + got["n11"]
    pe = (a0 * b0 + a1 * b1) / (n * n)
    kappa = (po - pe) / (1 - pe)
    # micro round-half-away of the float model must match within 1 micro
    assert abs(got["kappa_micro"] - round(kappa * 1e6)) <= 1
    assert abs(got["po_micro"] - round(po * 1e6)) <= 1
    # the trained classifier must agree with the reference beyond chance
    assert got["kappa_micro"] > 200000  # kappa > 0.2


def test_conformal_interval_coverage_and_quantile(spark, sf_dir):
    """Three-way split (round-7 ADVICE: the split-conformal guarantee
    needs fit/calibration disjoint): predictor fit on split 0, qhat =
    the exact ceil((n+1)·0.9)-th smallest residual on the disjoint
    calibration split 1 (python rank-pick), and held-out split-2
    coverage ≥ 85% (the 90% marginal guarantee minus finite-sample
    slack)."""
    from collections import defaultdict

    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_conformal_interval"].fn(spark, sf_dir).collect()[0]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    fit = defaultdict(list)
    rows = []
    for r in orders:
        cents = round(float(r["o_totalprice"]) * 100)
        seg = cust[r["o_custkey"]]
        rows.append((r["o_orderkey"], seg, cents, r["o_orderkey"] % 3))
        if r["o_orderkey"] % 3 == 0:
            fit[seg].append(cents)
    pred = {s: (2 * sum(v) + len(v)) // (2 * len(v)) for s, v in fit.items()}
    resid = sorted(
        (abs(c - pred[s]), k) for k, s, c, sp in rows if sp == 1
    )
    n_cal = len(resid)
    k_idx = -(-(n_cal + 1) * 9 // 10)  # ceil
    qhat = resid[k_idx - 1][0]
    assert got["n_cal"] == n_cal and got["qhat_cents"] == qhat
    test = [(abs(c - pred[s]) <= qhat) for k, s, c, sp in rows if sp == 2]
    assert got["n_test"] == len(test)
    assert got["n_covered"] == sum(test)
    assert got["coverage_micro"] >= 850000


# --- drift / survival / boosting -----------------------------------------------


def _event_bins(spark, sf_dir):
    import math
    from collections import defaultdict

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    ).where("event_type IN ('purchase', 'click')").collect()
    bins = defaultdict(lambda: [0, 0])
    for r in rows:
        b = math.floor(r["value"] / 10)
        bins[b][0 if r["event_type"] == "purchase" else 1] += 1
    return bins


def test_psi_drift_matches_python_model(spark, sf_dir):
    import math

    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_psi_drift"].fn(spark, sf_dir).collect()[0]
    bins = _event_bins(spark, sf_dir)
    na = sum(v[0] for v in bins.values())
    nb = sum(v[1] for v in bins.values())
    k = len(bins)
    psi = sum(
        ((ca + 1) / (na + k) - (cb + 1) / (nb + k))
        * math.log(((ca + 1) * (nb + k)) / ((cb + 1) * (na + k)))
        for ca, cb in bins.values()
    )
    assert got["n_a"] == na and got["n_b"] == nb and got["n_bins"] == k
    assert abs(got["psi"] - psi) < 1e-5
    assert got["psi"] >= 0


def test_js_divergence_matches_python_model_and_is_bounded(spark, sf_dir):
    import math

    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_js_divergence"].fn(spark, sf_dir).collect()[0]
    bins = _event_bins(spark, sf_dir)
    na = sum(v[0] for v in bins.values())
    nb = sum(v[1] for v in bins.values())
    js = 0.5 * sum(
        (ca / na) * math.log((2 * ca * nb) / (ca * nb + cb * na))
        for ca, cb in bins.values() if ca > 0
    ) + 0.5 * sum(
        (cb / nb) * math.log((2 * cb * na) / (ca * nb + cb * na))
        for ca, cb in bins.values() if cb > 0
    )
    assert abs(got["js_nats"] - js) < 1e-5
    assert 0 <= got["js_nats"] <= math.log(2) + 1e-9


def test_logrank_matches_python_model(spark, sf_dir):
    from collections import defaultdict

    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.events import events_table

    got = QUERIES["q_logrank_test"].fn(spark, sf_dir).collect()[0]
    ev = events_table(spark, sf_dir).select(
        "user_id", "event_type", "value", "ep"
    ).collect()
    per = defaultdict(lambda: [None, None, None])  # t0, t_conv, t_last
    for r in ev:
        p = per[r["user_id"]]
        p[0] = r["ep"] if p[0] is None else min(p[0], r["ep"])
        p[2] = r["ep"] if p[2] is None else max(p[2], r["ep"])
        if r["event_type"] == "purchase" and r["value"] >= 190.0:
            p[1] = r["ep"] if p[1] is None else min(p[1], r["ep"])
    subjects = [
        (uid % 2, (p[1] - p[0]) if p[1] is not None else (p[2] - p[0]),
         1 if p[1] is not None else 0)
        for uid, p in per.items()
    ]
    times = sorted({d for _, d, e in subjects if e})
    o1 = e1 = var = 0.0
    for t in times:
        at = [(g, d, e) for g, d, e in subjects if d >= t]
        n = len(at)
        if n <= 1:
            continue
        n1 = sum(1 for g, *_ in at if g == 1)
        d_t = sum(e for g, d, e in at if d == t)
        d1 = sum(e for g, d, e in at if d == t and g == 1)
        o1 += d1
        e1 += round(d_t * n1 / n, 9)
        var += round(((d_t * n1) * (n - n1) * (n - d_t)) / ((n * n) * (n - 1)), 9)
    assert got["o1"] == o1
    assert abs(got["e1"] - e1) < 1e-5
    assert abs(got["var1"] - var) < 1e-5
    assert abs(got["chi2"] - (o1 - got["e1"]) ** 2 / got["var1"]) < 1e-5


def test_boosted_stumps_matches_python_and_reduces_sse(spark, sf_dir):
    from collections import defaultdict

    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_boosted_stumps"].fn(spark, sf_dir).collect()[0]
    rows = [
        (int(r["q"]), int(r["disc"]), int(r["y"]))
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
            "CAST(l_quantity AS BIGINT) AS q",
            "CAST(ROUND(l_discount * 100) AS BIGINT) AS disc",
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y",
        ).collect()
    ]

    def fit(pairs):
        agg = defaultdict(lambda: [0, 0])
        for x, y in pairs:
            agg[x][0] += 1
            agg[x][1] += y
        xs = sorted(agg)
        nt = sum(v[0] for v in agg.values())
        st = sum(v[1] for v in agg.values())
        best = None
        nl = sl = 0
        for x in xs:
            nl += agg[x][0]
            sl += agg[x][1]
            if nt - nl == 0:
                continue
            score = (sl * sl) / nl + ((st - sl) * (st - sl)) / (nt - nl)
            if best is None or score > best[0]:
                best = (score, x, nl, sl)
        _, thr, nl, sl = best

        def rha(s, n):
            sign = -1 if s < 0 else 1
            return sign * ((2 * abs(s) + n) // (2 * n))

        return thr, rha(sl, nl), rha(st - sl, nt - nl)

    t1, ml1, mr1 = fit([(q, y) for q, d, y in rows])
    assert (got["thr1"], got["mean_l1"], got["mean_r1"]) == (t1, ml1, mr1)
    resid = [(d, y - (ml1 if q <= t1 else mr1)) for q, d, y in rows]
    t2, ml2, mr2 = fit(resid)
    assert (got["thr2"], got["mean_l2"], got["mean_r2"]) == (t2, ml2, mr2)
    # boosting must actually reduce SSE round over round
    mean_all = round(sum(y for *_, y in rows) / len(rows))
    sse_const = sum((y - mean_all) ** 2 for *_, y in rows)
    sse_1 = sum(r * r for _, r in resid)
    pred2 = [(r - (ml2 if d <= t2 else mr2)) for d, r in resid]
    sse_2 = sum(v * v for v in pred2)
    assert sse_1 < sse_const and sse_2 < sse_1


def test_mutual_information_matches_python_model(spark, sf_dir):
    import math
    from collections import Counter

    from platform_etl_backend_spark.catalog import QUERIES

    got = {r["feature"]: r["mi_nats"]
           for r in QUERIES["q_mutual_information"].fn(spark, sf_dir).collect()}
    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS price_bin",
        "CAST(MONTH(o_orderdate) AS BIGINT) AS order_month",
        "CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS y",
    ).collect()
    n = len(rows)
    for feat in ("price_bin", "order_month"):
        cxy = Counter((r[feat], r["y"]) for r in rows)
        cx = Counter(r[feat] for r in rows)
        cy = Counter(r["y"] for r in rows)
        mi = sum(
            (c / n) * math.log((c * n) / (cx[x] * cy[y]))
            for (x, y), c in cxy.items()
        )
        assert abs(got[feat] - mi) < 1e-5, feat
        assert got[feat] >= 0
    # price actually predicts urgency-by-price-threshold better than month?
    # (no assertion on ordering — priorities are uniform in TPC-H data; the
    # pin is the exact MI values themselves)


def test_brier_decomposition_identity(spark, sf_dir):
    """Murphy: Brier == REL - RES + UNC (up to the documented 9dp term
    rounding and 10-bin within-bin variance, which the decomposition
    absorbs into REL/RES exactly when acc/conf are bin means)."""
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_brier_decomposition"].fn(spark, sf_dir).collect()[0]
    assert 0 <= got["brier"] <= 1
    assert got["reliability"] >= 0 and got["resolution"] >= 0
    assert 0 <= got["uncertainty"] <= 0.25 + 1e-9
    # identity holds only up to within-bin variance of prob (conf is a
    # bin MEAN) — allow that slack but require the right ballpark
    lhs = got["brier"]
    rhs = got["reliability"] - got["resolution"] + got["uncertainty"]
    assert abs(lhs - rhs) < 0.05, (lhs, rhs)
    # and the classifier must be better than climatology: RES > REL means
    # skill; at minimum brier below uncertainty (some skill)
    assert got["brier"] < got["uncertainty"] + 0.05


def test_tree_depth2_matches_python_cart(spark, sf_dir):
    """Depth-2 level-synchronous CART vs a plain-python exhaustive fit:
    same root threshold, same per-side month thresholds and counts."""
    from platform_etl_backend_spark.catalog import QUERIES

    got = {r["side"]: r for r in QUERIES["q_tree_depth2"].fn(spark, sf_dir).collect()}
    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_totalprice AS x1",
        "CAST(MONTH(o_orderdate) AS BIGINT) AS x2",
        "CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS y",
    ).collect()

    def best_split(pts):
        # pts: list of (x, y); returns (thr, score) minimizing
        # n_l*gini_l + n_r*gini_r over thresholds x <= thr; ties -> min thr
        from collections import Counter

        agg = Counter()
        for x, y in pts:
            agg[x] += 0  # ensure key
        per = {}
        for x, y in pts:
            p, q = per.get(x, (0, 0))
            per[x] = (p + y, q + 1 - y)
        xs = sorted(per)
        tp = sum(p for p, _ in per.values())
        tq = sum(q for _, q in per.values())
        cp = cq = 0
        best = None
        for x in xs:
            p, q = per[x]
            cp += p
            cq += q
            nl, nr = cp + cq, (tp + tq) - (cp + cq)
            if nr == 0:
                continue
            score = (nl - (cp * cp + cq * cq) / nl) + (
                nr - ((tp - cp) ** 2 + (tq - cq) ** 2) / nr
            )
            if best is None or score < best[1] - 1e-12 or (
                abs(score - best[1]) <= 1e-12 and x < best[0]
            ):
                best = (x, score)
        return best

    root_thr, _ = best_split([(r["x1"], r["y"]) for r in rows])
    assert got[0]["root_threshold"] == pytest.approx(root_thr)
    for side in (0, 1):
        pts = [
            (r["x2"], r["y"])
            for r in rows
            if (r["x1"] <= root_thr) == (side == 0)
        ]
        thr2, score2 = best_split(pts)
        assert got[side]["month_threshold"] == thr2
        assert got[side]["weighted_gini_x_n"] == pytest.approx(score2)
        nl = sum(1 for x, _ in pts if x <= thr2)
        assert got[side]["n_left"] == nl
        assert got[side]["n_right"] == len(pts) - nl
        assert got[side]["pos_left"] == sum(y for x, y in pts if x <= thr2)
        assert got[side]["pos_right"] == sum(y for x, y in pts if x > thr2)


def test_ngram_novelty_matches_python_model(spark, sf_dir):
    """First-occurrence trigram novelty vs a plain-python model (same
    whole-doc-when-short rule, round-half-away micro)."""
    from platform_etl_backend_spark.catalog import QUERIES

    got = {
        r["doc_id"]: (r["n_types"], r["n_novel"], r["novelty_micro"])
        for r in QUERIES["q_ngram_novelty"].fn(spark, sf_dir).collect()
    }
    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    def shingles(text, k=3):
        toks = text.strip().split()
        toks = [t for t in toks if t]
        if len(toks) >= k:
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        return {" ".join(toks)}

    per = {r["doc_id"]: shingles(r["text"]) for r in rows}
    first = {}
    for d in sorted(per):
        for s in per[d]:
            first.setdefault(s, d)
    for d, sh in per.items():
        n_types = len(sh)
        n_novel = sum(1 for s in sh if first[s] == d)
        micro = (2 * 1000000 * n_novel + n_types) // (2 * n_types)
        assert got[d] == (n_types, n_novel, micro), d
    assert len(got) == len(per)


def test_lorenz_gini_matches_python(spark, sf_dir):
    from decimal import Decimal
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_lorenz_gini"].fn(spark, sf_dir).collect()[0]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    ).collect()
    custs = [r["c_custkey"] for r in spark.read.parquet(
        f"{sf_dir}/customer.parquet").select("c_custkey").collect()]
    spend = {c: 0 for c in custs}
    for r in orders:
        spend[r["o_custkey"]] = spend.get(r["o_custkey"], 0) + int(
            (Decimal(str(r["o_totalprice"])) * 100).to_integral_value()
        )
    xs = [spend[c] for c in custs]
    xs.sort()
    n, sx = len(xs), sum(xs)
    sixi = sum((i + 1) * x for i, x in enumerate(xs))
    num = 2 * sixi - (n + 1) * sx
    den = n * sx
    want = (2 * 1000000 * num + den) // (2 * den)
    assert got["n_customers"] == n
    assert got["total_cents"] == sx
    assert got["gini_micro"] == want
    assert 0 <= got["gini_micro"] <= 1000000


def test_herfindahl_bounds_and_python_pin(spark, sf_dir):
    from collections import defaultdict
    from decimal import Decimal
    from platform_etl_backend_spark.catalog import QUERIES

    got = {r["n_name"]: r for r in QUERIES["q_herfindahl"].fn(spark, sf_dir).collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_totalprice").collect()
    c = {r["c_custkey"]: r["c_nationkey"] for r in spark.read.parquet(
        f"{sf_dir}/customer.parquet").collect()}
    n = {r["n_nationkey"]: r["n_name"] for r in spark.read.parquet(
        f"{sf_dir}/nation.parquet").collect()}
    spend = defaultdict(int)
    for r in o:
        spend[(n[c[r["o_custkey"]]], r["o_custkey"])] += int(
            (Decimal(str(r["o_totalprice"])) * 100).to_integral_value())
    per = defaultdict(list)
    for (nat, _), cents in spend.items():
        per[nat].append(cents)
    for nat, xs in per.items():
        s, s2 = sum(xs), sum(x * x for x in xs)
        want = (2 * 1000000 * s2 + s * s) // (2 * s * s)
        assert got[nat]["hhi_micro"] == want, nat
        assert got[nat]["n_customers"] == len(xs)
        # HHI in [1/n, 1]
        assert want <= 1000000 and want * len(xs) >= 900000 // 1


def test_cramers_v_matches_python(spark, sf_dir):
    from collections import Counter
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_cramers_v"].fn(spark, sf_dir).collect()[0]
    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_orderpriority AS r", "CAST(MONTH(o_orderdate) AS BIGINT) AS c"
    ).collect()
    obs = Counter((x["r"], x["c"]) for x in rows)
    rt = Counter(x["r"] for x in rows)
    ct = Counter(x["c"] for x in rows)
    nn = len(rows)
    s = sum(
        round(obs.get((r, c), 0) ** 2 / (rt[r] * ct[c]), 9)
        for r in rt for c in ct
    )
    chi2 = nn * (s - 1.0)
    import math
    v = math.sqrt(chi2 / (nn * (min(len(rt), len(ct)) - 1)))
    assert got["n"] == nn
    assert got["chi2"] == pytest.approx(chi2, abs=1e-4)
    assert got["cramers_v"] == pytest.approx(v, abs=1e-5)
    assert 0 <= got["cramers_v"] <= 1


def test_hill_tail_index_matches_python(spark, sf_dir):
    import math
    from decimal import Decimal
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_hill_tail_index"].fn(spark, sf_dir).collect()[0]
    cents = sorted(
        (
            int((Decimal(str(r["o_totalprice"])) * 100).to_integral_value())
            for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_totalprice").collect()
        ),
        reverse=True,
    )[:64]
    xk = cents[-1]
    s = sum(round(math.log(x / xk), 9) for x in cents)
    assert got["xk_cents"] == xk
    assert got["hill_gamma"] == pytest.approx(s / 63, abs=1e-5)
    if s > 0:
        assert got["hill_alpha"] == pytest.approx(63 / s, abs=1e-3)


def test_heaps_law_matches_python(spark, sf_dir):
    import math
    from platform_etl_backend_spark.catalog import QUERIES

    rows = QUERIES["q_heaps_law"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").collect()

    def shingles(text, k=3):
        toks = [t for t in text.strip().split() if t]
        if len(toks) >= k:
            return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        return {" ".join(toks)}

    per_sh = {r["doc_id"]: shingles(r["text"]) for r in docs}
    per_len = {r["doc_id"]: len([t for t in r["text"].strip().split() if t])
               for r in docs}
    first = {}
    for d in sorted(per_sh):
        for s in per_sh[d]:
            first.setdefault(s, d)
    m = max(per_len) + 1
    pts = []
    for r in rows:
        j, thr = r["checkpoint"], r["thr_doc"]
        assert thr == (j * m) // 4
        n_tok = sum(v for d, v in per_len.items() if d < thr)
        n_typ = sum(1 for s, d in first.items() if d < thr)
        assert r["n_tokens"] == n_tok and r["n_types"] == n_typ, j
        pts.append((round(math.log(n_tok), 9), round(math.log(n_typ), 9)))
    su = sum(u for u, _ in pts); sv = sum(v for _, v in pts)
    suv = sum(round(u * v, 9) for u, v in pts)
    suu = sum(round(u * u, 9) for u, _ in pts)
    beta = (4 * suv - su * sv) / (4 * suu - su * su)
    assert rows[0]["heaps_beta"] == pytest.approx(beta, abs=1e-4)
    assert 0 < rows[0]["heaps_beta"] < 1  # sublinear vocabulary growth


def test_naive_bayes_matches_python(spark, sf_dir):
    import math
    from collections import Counter, defaultdict
    from platform_etl_backend_spark.catalog import QUERIES

    got = {
        (r["actual"], r["predicted"]): r["n"]
        for r in QUERIES["q_naive_bayes"].fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text").collect()
    tf = {}
    for r in docs:
        toks = [t for t in r["text"].strip().split() if t]
        tf[r["doc_id"]] = (r["source"], Counter(toks))
    vocab = sorted({w for _, c in tf.values() for w in c})
    V = len(vocab)
    cls_tot = Counter(); cls_docs = Counter()
    cw = defaultdict(int)
    for _, (s, c) in tf.items():
        cls_docs[s] += 1
        for w, k in c.items():
            cls_tot[s] += k
            cw[(s, w)] += k
    n_docs = len(tf)
    cost = {
        (s, w): round(math.log((cw[(s, w)] + 1) / (cls_tot[s] + V)) * 1e6)
        for s in cls_tot for w in vocab
    }
    prior = {s: round(math.log(cls_docs[s] / n_docs) * 1e6) for s in cls_docs}
    want = Counter()
    for d, (actual, c) in tf.items():
        # tie-break: max score, then MIN source name
        scores = {s: sum(k * cost[(s, w)] for w, k in c.items()) + prior[s]
                  for s in cls_tot}
        mx = max(scores.values())
        best = min(s for s, v in scores.items() if v == mx)
        want[(actual, best)] += 1
    assert got == dict(want)


def test_retrieval_eval_matches_python(spark, sf_dir):
    import math
    from collections import Counter
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.text import (
        _REVAL_B, _REVAL_K1, _REVAL_TERMS, _REVAL_TOPK, _REVAL_W,
    )

    got = {r["term"]: r for r in QUERIES["q_retrieval_eval"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").collect()
    tf = {r["doc_id"]: Counter([t for t in r["text"].strip().split() if t])
          for r in docs}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n_docs = len(tf)
    avgdl = sum(dl.values()) / n_docs
    df = Counter()
    for c in tf.values():
        for w in c:
            df[w] += 1
    for term in _REVAL_TERMS:
        scored = []
        for d, c in tf.items():
            t = c.get(term, 0)
            if t == 0:
                continue
            idf = math.log((2 * n_docs + 2) / (2 * df[term] + 1))
            sat = t * (_REVAL_K1 + 1) / (
                t + _REVAL_K1 * (1 - _REVAL_B + _REVAL_B * dl[d] / avgdl))
            rel = 3 if t >= 4 else (1 if t >= 2 else 0)
            scored.append((round(idf * sat, 6), d, rel))
        top = sorted(scored, key=lambda x: (-x[0], x[1]))[:_REVAL_TOPK]
        ideal = sorted(scored, key=lambda x: (-x[2], x[1]))[:_REVAL_TOPK]
        dcg = sum(round(rel * _REVAL_W[i], 9) for i, (_, _, rel) in enumerate(top))
        idcg = sum(round(rel * _REVAL_W[i], 9) for i, (_, _, rel) in enumerate(ideal))
        n_rel = sum(1 for _, _, rel in top if rel > 0)
        first = next((i + 1 for i, (_, _, rel) in enumerate(top) if rel > 0), None)
        mrr = (2 * 1000000 + first) // (2 * first) if first else 0
        g = got[term]
        assert g["n_rel_at10"] == n_rel, term
        assert g["mrr_micro"] == mrr, term
        if idcg > 0:
            assert g["ndcg_at10"] == pytest.approx(dcg / idcg, abs=1e-5), term
            assert 0 < g["ndcg_at10"] <= 1


def test_pacf_matches_statsmodels_style_python(spark, sf_dir):
    """Durbin-Levinson PACF vs a plain-python recursion on the same exact
    integer residual series."""
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.events import events_table

    got = {r["lag"]: r["pacf"] for r in QUERIES["q_pacf"].fn(spark, sf_dir).collect()}
    days = (
        events_table(spark, sf_dir)
        .groupBy(F.expr("ep div 86400").alias("day"))
        .agg(F.expr(
            "CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("s"))
        .orderBy("day")
        .collect()
    )
    s = [r["s"] for r in days]
    n, ssum = len(s), sum(s)
    r = [n * x - ssum for x in s]
    den = sum(x * x for x in r)
    rho = {k: sum(r[i] * r[i + k] for i in range(n - k)) / den
           for k in range(1, 6)}
    phi = {(1, 1): rho[1]}
    for k in range(2, 6):
        num = rho[k] - sum(phi[(k - 1, j)] * rho[k - j] for j in range(1, k))
        d = 1.0 - sum(phi[(k - 1, j)] * rho[j] for j in range(1, k))
        phi[(k, k)] = num / d
        for j in range(1, k):
            phi[(k, j)] = phi[(k - 1, j)] - phi[(k, k)] * phi[(k - 1, k - j)]
    for k in range(1, 6):
        assert got[k] == pytest.approx(phi[(k, k)], abs=1e-5), k
    assert got[1] == pytest.approx(rho[1], abs=1e-6)


def test_harmonic_centrality_matches_networkx(spark, sf_dir):
    nx = pytest.importorskip("networkx")
    from platform_etl_backend_spark.catalog import QUERIES

    got = {r["node"]: r for r in
           QUERIES["q_harmonic_centrality"].fn(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id % 50 AS a", "CAST(FLOOR(value) AS BIGINT) % 50 AS b"
    ).where("a <> b").collect()
    g = nx.Graph((r["a"], r["b"]) for r in ev)
    for node in g.nodes:
        dist = nx.single_source_shortest_path_length(g, node, cutoff=8)
        dist.pop(node)
        want = sum((2 * 1000000 + d) // (2 * d) for d in dist.values())
        assert got[node]["harmonic_micro"] == want, node
        assert got[node]["n_reached"] == len(dist)
        assert got[node]["ecc"] == max(dist.values())


def test_lift_curve_sane_and_monotone(spark, sf_dir):
    """Lift must start >= 1 at the top decile (the classifier has skill,
    pinned by test_roc separation) and gain must reach exactly 1e6 at
    decile 10; cum_pos monotone."""
    from platform_etl_backend_spark.catalog import QUERIES

    rows = QUERIES["q_lift_curve"].fn(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert rows[-1]["gain_micro"] == 1000000
    cps = [r["cum_pos"] for r in rows]
    assert cps == sorted(cps)
    assert rows[0]["lift_micro"] > 1000000  # top decile beats chance
    # python cross-check of the micro arithmetic on decile 1
    tot_n = sum(r["n"] for r in rows)
    tot_pos = cps[-1]
    r0 = rows[0]
    want = (2 * 1000000 * r0["cum_pos"] * tot_n
            + r0["n"] * tot_pos) // (2 * r0["n"] * tot_pos)
    assert r0["lift_micro"] == want


def test_cvm_matches_python_model(spark, sf_dir):
    from collections import defaultdict
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.events import events_table

    got = {r["event_type"]: r for r in QUERIES["q_cvm_test"].fn(spark, sf_dir).collect()}
    rows = events_table(spark, sf_dir).select(
        "event_type", "value", (F.col("user_id") % 2 == 0).alias("a")
    ).collect()
    per = defaultdict(list)
    for r in rows:
        per[r["event_type"]].append((r["value"], r["a"]))
    for et, xs in per.items():
        xs.sort()
        n_a = sum(1 for _, a in xs if a)
        n_b = len(xs) - n_a
        # group by distinct value
        s = 0
        cum_a = cum_b = 0
        i = 0
        while i < len(xs):
            j = i
            while j < len(xs) and xs[j][0] == xs[i][0]:
                j += 1
            cnt = j - i
            cum_a += sum(1 for k in range(i, j) if xs[k][1])
            cum_b += sum(1 for k in range(i, j) if not xs[k][1])
            d = cum_a * n_b - cum_b * n_a
            s += cnt * d * d
            i = j
        t = s / (n_a * n_b * (n_a + n_b) ** 2)
        assert got[et]["t_stat"] == pytest.approx(t, abs=1e-5), et
        assert got[et]["n_a"] == n_a and got[et]["n_b"] == n_b


def test_token_fertility_matches_python_wordpiece(spark, sf_dir):
    from collections import defaultdict
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.text import _WP_MAXLEN, _WP_VOCAB

    got = {r["source"]: r for r in
           QUERIES["q_token_fertility"].fn(spark, sf_dir).collect()}
    vocab = set(_WP_VOCAB)

    def n_pieces(word):
        pos, out = 0, 0
        while pos < len(word):
            ln = 1
            for l in range(min(_WP_MAXLEN, len(word) - pos), 0, -1):
                piece = word[pos:pos + l] if pos == 0 else "##" + word[pos:pos + l]
                if piece in vocab:
                    ln = l
                    break
            out += 1
            pos += ln
        return out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "text").collect()
    agg = defaultdict(lambda: [0, 0, 0])  # tf, tf*np, tf*(np-1)
    for r in docs:
        for w in [t for t in r["text"].strip().split() if t]:
            np_ = n_pieces(w)
            a = agg[r["source"]]
            a[0] += 1
            a[1] += np_
            a[2] += np_ - 1
    for src, (tf, tnp, tcont) in agg.items():
        g = got[src]
        assert g["n_words"] == tf and g["n_pieces"] == tnp, src
        assert g["fertility_micro"] == (2 * 1000000 * tnp + tf) // (2 * tf)
        assert g["continuation_micro"] == (2 * 1000000 * tcont + tnp) // (2 * tnp)
    assert set(got) == set(agg)


def _events_graph_edges(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id % 50 AS a", "CAST(FLOOR(value) AS BIGINT) % 50 AS b"
    ).where("a <> b").collect()
    return {(min(r["a"], r["b"]), max(r["a"], r["b"])) for r in ev}


def test_betweenness_matches_networkx(spark, sf_dir):
    nx = pytest.importorskip("networkx")
    from platform_etl_backend_spark.catalog import QUERIES

    got = {r["node"]: r["bc"] for r in QUERIES["q_betweenness"].fn(spark, sf_dir).collect()}
    g = nx.Graph(sorted(_events_graph_edges(spark, sf_dir)))
    want = nx.betweenness_centrality(g, normalized=False)
    assert set(got) == set(want)
    for node, bc in want.items():
        assert got[node] == pytest.approx(bc, abs=1e-3), node


def test_betweenness_path_graph_exact():
    """P4 path: interior nodes have bc 2 and 2 (each pair crossing)."""
    from pyspark.sql import SparkSession
    from platform_etl_backend_spark.operators.graph import betweenness_centrality

    spark = SparkSession.getActiveSession()
    edges = [(0, 1), (1, 2), (2, 3)]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, ["src", "dst"])
    got = {r["node"]: float(r["bc"]) / 2 for r in betweenness_centrality(df).collect()}
    assert got == {0: 0.0, 1: 2.0, 2: 2.0, 3: 0.0}


def test_betweenness_raises_on_level_underrun(spark):
    from platform_etl_backend_spark.operators.graph import betweenness_centrality

    chain = [(i, i + 1) for i in range(10)]
    sym = chain + [(b, a) for a, b in chain]
    df = spark.createDataFrame(sym, ["src", "dst"])
    with pytest.raises(RuntimeError, match="level budget"):
        betweenness_centrality(df, max_levels=3).collect()


def test_degree_assortativity_matches_networkx(spark, sf_dir):
    nx = pytest.importorskip("networkx")
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_degree_assortativity"].fn(spark, sf_dir).collect()[0]
    g = nx.Graph(sorted(_events_graph_edges(spark, sf_dir)))
    want = nx.degree_assortativity_coefficient(g)
    assert got["assortativity"] == pytest.approx(want, abs=1e-5)
    assert got["n_directed_edges"] == 2 * g.number_of_edges()


def test_distance_distribution_matches_networkx(spark, sf_dir):
    nx = pytest.importorskip("networkx")
    from collections import Counter
    from platform_etl_backend_spark.catalog import QUERIES

    rows = QUERIES["q_distance_distribution"].fn(spark, sf_dir).collect()
    g = nx.Graph(sorted(_events_graph_edges(spark, sf_dir)))
    hist = Counter()
    for s in g.nodes:
        for t, d in nx.single_source_shortest_path_length(g, s, cutoff=8).items():
            if t != s:
                hist[d] += 1
    assert {r["d"]: r["n_pairs"] for r in rows} == dict(hist)
    tot = sum(hist.values())
    cum = 0
    eff = None
    for d in sorted(hist):
        cum += hist[d]
        if eff is None and 10 * cum >= 9 * tot:
            eff = d
    assert rows[0]["eff_diameter"] == eff


def test_ridge_regression_matches_numpy(spark, sf_dir):
    import numpy as np
    from decimal import Decimal
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.relational import _RIDGE_LAMBDA

    got = QUERIES["q_ridge_regression"].fn(spark, sf_dir).collect()[0]
    rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice").collect()
    X = np.array([
        [1.0, float(r["l_quantity"]),
         float((Decimal(str(r["l_discount"])) * 100).to_integral_value())]
        for r in rows
    ])
    y = np.array([
        float((Decimal(str(r["l_extendedprice"])) * 100).to_integral_value())
        for r in rows
    ])
    pen = np.diag([0.0, _RIDGE_LAMBDA, _RIDGE_LAMBDA])
    beta = np.linalg.solve(X.T @ X + pen, X.T @ y)
    assert got["beta0"] == pytest.approx(beta[0], rel=1e-6, abs=1e-3)
    assert got["beta1"] == pytest.approx(beta[1], rel=1e-6, abs=1e-4)
    assert got["beta2"] == pytest.approx(beta[2], rel=1e-6, abs=1e-4)
    assert got["n"] == len(rows)
    # no sign assertion: the synthetic price/quantity relationship is the
    # pin's job (numpy agreement above), not a domain assumption


def test_nb_crossval_is_leak_free_and_matches_python(spark, sf_dir):
    """Exact python twin of the complement-trick CV; also proves
    leak-freedom structurally: fold f's model counts contain NO fold-f
    tokens (asserted inside the twin by construction)."""
    import math
    from collections import Counter, defaultdict
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.text import _NBCV_FOLDS

    got = {r["fold"]: r for r in QUERIES["q_nb_crossval"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text").collect()
    tf = {r["doc_id"]: (r["doc_id"] % _NBCV_FOLDS, r["source"],
                        Counter([t for t in r["text"].strip().split() if t]))
          for r in docs}
    vocab = sorted({w for _, _, c in tf.values() for w in c})
    V = len(vocab)
    cwf = defaultdict(int); cwt = defaultdict(int)
    ndf = Counter(); nds = Counter(); nf = Counter()
    for _, (f, s, c) in tf.items():
        ndf[(f, s)] += 1; nds[s] += 1; nf[f] += 1
        for w, k in c.items():
            cwf[(f, s, w)] += k
            cwt[(s, w)] += k
    n_docs = len(tf)
    classes = sorted(nds)
    correct = Counter(); total = Counter()
    for d, (f, actual, c) in tf.items():
        scores = {}
        for s in classes:
            tot_s = sum(cwt[(s, w)] - cwf[(f, s, w)] for w in vocab)
            cost = {w: round(math.log(
                (cwt[(s, w)] - cwf[(f, s, w)] + 1) / (tot_s + V)) * 1e6)
                for w in c}
            prior = round(math.log(
                (nds[s] - ndf[(f, s)] + 1)
                / (n_docs - nf[f] + len(classes))) * 1e6)
            scores[s] = sum(k * cost[w] for w, k in c.items()) + prior
        mx = max(scores.values())
        pred = min(s for s, v in scores.items() if v == mx)
        total[f] += 1
        if pred == actual:
            correct[f] += 1
    for f in range(_NBCV_FOLDS):
        assert got[f]["n_docs"] == total[f]
        assert got[f]["n_correct"] == correct[f], f
        acc = (2 * 1000000 * correct[f] + total[f]) // (2 * total[f])
        assert got[f]["accuracy_micro"] == acc


def test_periodogram_matches_python_and_finds_no_fake_cycle(spark, sf_dir):
    import math
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.events import events_table

    got = {r["period"]: r["power"] for r in
           QUERIES["q_periodogram"].fn(spark, sf_dir).collect()}
    days = (
        events_table(spark, sf_dir)
        .groupBy(F.expr("ep div 86400").alias("day"))
        .agg(F.expr(
            "CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("s"))
        .collect()
    )
    n = len(days); ssum = sum(r["s"] for r in days)
    for p in (2, 3, 7, 14):
        sc = ss = 0
        for r in days:
            resid = float(n * r["s"] - ssum)
            t = r["day"] % p
            sc += round(resid * round(math.cos(2 * math.pi * t / p), 12), 3)
            ss += round(resid * round(math.sin(2 * math.pi * t / p), 12), 3)
        assert got[p] == pytest.approx(sc * sc + ss * ss, rel=1e-9), p
        assert got[p] >= 0


def test_mix_shift_bridge_reconciles_and_matches_python(spark, sf_dir):
    from collections import defaultdict
    from decimal import Decimal
    from platform_etl_backend_spark.catalog import QUERIES

    rows = QUERIES["q_mix_shift"].fn(spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_custkey", "YEAR(o_orderdate) AS yr", "o_totalprice"
    ).where("yr IN (1996, 1997)").collect()
    seg = {r["c_custkey"]: r["c_mktsegment"] for r in spark.read.parquet(
        f"{sf_dir}/customer.parquet").collect()}
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in o:
        a = agg[seg[r["o_custkey"]]]
        cents = int((Decimal(str(r["o_totalprice"])) * 100).to_integral_value())
        if r["yr"] == 1996:
            a[0] += 1; a[2] += cents
        else:
            a[1] += 1; a[3] += cents

    def srha(num, den):
        return -((2 * -num + den) // (2 * den)) if num < 0 else (
            2 * num + den) // (2 * den)

    got = {r["seg"]: r for r in rows}
    for s, (n0, n1, rev0, rev1) in agg.items():
        if n0 == 0 or n1 == 0:
            assert s not in got
            continue
        g = got[s]
        vol = srha((n1 - n0) * rev0, n0)
        price = srha(n0 * rev1 - rev0 * n1, n1)
        assert (g["n0"], g["n1"], g["rev0"], g["rev1"]) == (n0, n1, rev0, rev1)
        assert g["volume_effect"] == vol and g["price_effect"] == price, s
        # the bridge reconciles to the cent
        assert (g["volume_effect"] + g["price_effect"] + g["joint_effect"]
                == rev1 - rev0)


def test_sampled_betweenness_with_all_sources_equals_exact(spark, sf_dir):
    """S = all nodes -> the estimator IS the exact bc (scale factor 1)."""
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.operators.graph import betweenness_centrality

    edges = sorted(_events_graph_edges(spark, sf_dir))
    sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, ["src", "dst"])
    nodes = df.selectExpr("src AS node").distinct()
    exact = {r["node"]: float(r["bc"]) for r in betweenness_centrality(df).collect()}
    sampled = {r["node"]: float(r["bc"]) for r in
               betweenness_centrality(df, sources=nodes).collect()}
    assert sampled == exact
    # and the 1-in-5 estimator is nonnegative with the right support
    est = {r["node"]: r["bc_est"] for r in
           QUERIES["q_betweenness_sampled"].fn(spark, sf_dir).collect()}
    assert set(est) == set(exact)
    assert all(v >= 0 for v in est.values())


def test_anderson_darling_matches_python_and_detects_shift(spark, sf_dir):
    from collections import defaultdict
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.events import events_table

    got = {r["event_type"]: r for r in
           QUERIES["q_anderson_darling"].fn(spark, sf_dir).collect()}
    rows = events_table(spark, sf_dir).select(
        "event_type", "value", (F.col("user_id") % 2 == 0).alias("a")
    ).collect()
    per = defaultdict(list)
    for r in rows:
        per[r["event_type"]].append((r["value"], r["a"]))
    for et, xs in per.items():
        xs.sort()
        n_a = sum(1 for _, a in xs if a)
        n_b = len(xs) - n_a
        N = len(xs)
        s = 0.0
        cum_a = cum = i = 0
        while i < len(xs):
            j = i
            while j < len(xs) and xs[j][0] == xs[i][0]:
                j += 1
            cnt = j - i
            cum_a += sum(1 for k in range(i, j) if xs[k][1])
            cum += cnt
            if cum < N:
                d = cum_a * N - cum * n_a
                s += round(cnt * (float(d) * float(d)) / (float(cum) * float(N - cum)), 9)
            i = j
        a2 = s / (n_a * n_b)
        g = got[et]
        assert g["a2"] == pytest.approx(a2, abs=1e-5), et
        assert (g["n_a"], g["n_b"]) == (n_a, n_b)


def test_anderson_darling_shift_sensitivity(spark):
    """A clean location shift must score higher than identical samples."""
    from platform_etl_backend_spark.catalog import QUERIES  # noqa: F401 (import parity)
    # direct python of the same statistic on synthetic samples
    def a2(xs_a, xs_b):
        pooled = sorted([(x, True) for x in xs_a] + [(x, False) for x in xs_b])
        n_a, n_b = len(xs_a), len(xs_b)
        N = n_a + n_b
        s = cum_a = cum = 0.0
        i = 0
        while i < N:
            j = i
            while j < N and pooled[j][0] == pooled[i][0]:
                j += 1
            cnt = j - i
            cum_a += sum(1 for k in range(i, j) if pooled[k][1])
            cum += cnt
            if cum < N:
                d = cum_a * N - cum * n_a
                s += cnt * d * d / (cum * (N - cum))
            i = j
        return s / (n_a * n_b)

    base = [float(i % 37) for i in range(200)]
    shifted = [x + 5.0 for x in base]
    assert a2(base, shifted) > 10 * a2(base, list(base))


def test_nelson_aalen_matches_python_and_km_consistency(spark, sf_dir):
    """Exact python twin; and the additive hazard must agree with the
    multiplicative KM curve: -log S(t) >= H(t) (elementary inequality
    -ln(1-x) >= x), tight where increments are small."""
    import math
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.events import events_table

    rows = QUERIES["q_nelson_aalen"].fn(spark, sf_dir).collect()
    e = events_table(spark, sf_dir).select(
        "user_id", "event_type", "value", "ep").collect()
    per = {}
    for r in e:
        u = r["user_id"]
        t0, tc, tl = per.get(u, (None, None, None))
        t0 = r["ep"] if t0 is None else min(t0, r["ep"])
        tl = r["ep"] if tl is None else max(tl, r["ep"])
        if r["event_type"] == "purchase" and r["value"] >= 190.0:
            tc = r["ep"] if tc is None else min(tc, r["ep"])
        per[u] = (t0, tc, tl)
    subjects = [
        ((tc - t0) if tc is not None else (tl - t0), 1 if tc is not None else 0)
        for t0, tc, tl in per.values()
    ]
    from collections import Counter

    deaths = Counter()
    for dur, ev in subjects:
        if ev:
            deaths[dur] += 1
    ch = cv = 0.0
    want = []
    for t in sorted(deaths):
        d = deaths[t]
        n = sum(1 for dur, _ in subjects if dur >= t)
        ch += round(d / n, 9)
        cv += round(d / (float(n) * n), 9)
        want.append((t, n, d, round(ch, 6), round(cv, 9)))
    got = [(r["duration_s"], r["at_risk"], r["n_events"],
            r["cum_hazard"], r["hazard_var"]) for r in rows]
    assert got == want
    # KM consistency on the shared grid
    km = {r["duration_s"]: r["log_survival"] for r in
          QUERIES["q_kaplan_meier"].fn(spark, sf_dir).collect()}
    for r in rows:
        assert -km[r["duration_s"]] >= r["cum_hazard"] - 1e-6


def test_map_eval_matches_python(spark, sf_dir):
    import math
    from collections import Counter
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.text import (
        _AP_LCM, _REVAL_B, _REVAL_K1, _REVAL_TERMS, _REVAL_TOPK,
    )

    got = {r["term"]: r for r in QUERIES["q_map_eval"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").collect()
    tf = {r["doc_id"]: Counter([t for t in r["text"].strip().split() if t])
          for r in docs}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n_docs = len(tf)
    avgdl = sum(dl.values()) / n_docs
    df = Counter()
    for c in tf.values():
        for w in c:
            df[w] += 1
    for term in _REVAL_TERMS:
        scored = []
        for d, c in tf.items():
            t = c.get(term, 0)
            if t == 0:
                continue
            idf = math.log((2 * n_docs + 2) / (2 * df[term] + 1))
            sat = t * (_REVAL_K1 + 1) / (
                t + _REVAL_K1 * (1 - _REVAL_B + _REVAL_B * dl[d] / avgdl))
            scored.append((round(idf * sat, 6), d, 1 if t >= 2 else 0))
        ranked = sorted(scored, key=lambda x: (-x[0], x[1]))
        n_rel = sum(h for _, _, h in ranked)
        if n_rel == 0:
            assert term not in got
            continue
        num = 0
        ch = 0
        for k, (_, _, h) in enumerate(ranked[:_REVAL_TOPK], start=1):
            if h:
                ch += 1
                num += ch * (_AP_LCM // k)
        den = _AP_LCM * min(n_rel, _REVAL_TOPK)
        ap = (2 * 1000000 * num + den) // (2 * den)
        g = got[term]
        assert g["n_rel"] == n_rel and g["ap_micro"] == ap, term
        assert 0 <= g["ap_micro"] <= 1000000


def test_theil_index_matches_python(spark, sf_dir):
    import math
    from decimal import Decimal
    from platform_etl_backend_spark.catalog import QUERIES

    got = QUERIES["q_theil_index"].fn(spark, sf_dir).collect()[0]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_totalprice").collect()
    custs = [r["c_custkey"] for r in spark.read.parquet(
        f"{sf_dir}/customer.parquet").select("c_custkey").collect()]
    spend = {c: 0 for c in custs}
    for r in orders:
        spend[r["o_custkey"]] = spend.get(r["o_custkey"], 0) + int(
            (Decimal(str(r["o_totalprice"])) * 100).to_integral_value())
    n = len(spend)
    sx = sum(spend.values())
    s = sum(
        round((x * n / sx) * math.log(x * n / sx), 9)
        for x in spend.values() if x > 0
    )
    assert got["n_customers"] == n
    assert got["n_zero"] == sum(1 for x in spend.values() if x == 0)
    assert got["theil_t"] == pytest.approx(s / n, abs=1e-5)
    assert 0 <= got["theil_t"] <= math.log(n)  # Theil bounds


def test_entropy_rate_matches_python(spark, sf_dir):
    import math
    from collections import Counter, defaultdict
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.catalog.events import events_table

    rows = QUERIES["q_entropy_rate"].fn(spark, sf_dir).collect()
    e = sorted(
        events_table(spark, sf_dir).select(
            "user_id", "event_type", "ep", "event_id").collect(),
        key=lambda r: (r["user_id"], r["ep"], r["event_id"]),
    )
    pairs = Counter()
    prev = {}
    for r in e:
        u = r["user_id"]
        if u in prev:
            pairs[(prev[u], r["event_type"])] += 1
        prev[u] = r["event_type"]
    tot = defaultdict(int)
    for (a, _), c in pairs.items():
        tot[a] += c
    nn = sum(pairs.values())
    per = defaultdict(float)
    for (a, b), c in pairs.items():
        per[a] += round(c * math.log(tot[a] / c), 9)
    rate = sum(per.values()) / nn
    for r in rows:
        a = r["prev_type"]
        assert r["n_transitions"] == tot[a]
        assert r["cond_entropy_nats"] == pytest.approx(per[a] / tot[a], abs=1e-5)
        assert r["entropy_rate_nats"] == pytest.approx(rate, abs=1e-5)
        assert 0 <= r["cond_entropy_nats"] <= math.log(len(tot)) + 1e-9
