"""Round-5 session-5 operators: ANOVA F, Benjamini-Hochberg FDR,
Theil-Sen slope, Adamic-Adar link prediction, MMR reranking — pinned
against plain-Python models."""

from __future__ import annotations

import math

from platform_etl_backend_spark.catalog import QUERIES
from tests.conftest import load


def _events(spark, sf_dir):
    from platform_etl_backend_spark.catalog.events import events_table

    return events_table(spark, sf_dir).select(
        "event_type", "value", "user_id", "ep"
    ).collect()


def test_anova_f_matches_python(spark, sf_dir):
    rows = _events(spark, sf_dir)
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(round(r.value, 6))
    k = len(by_type)
    n = sum(len(v) for v in by_type.values())
    sum_sq_over_n = sum(
        round(sum(v) ** 2 / len(v), 6) for v in by_type.values()
    )
    s = sum(sum(v) for v in by_type.values())
    ss = sum(sum(round(x * x, 6) for x in v) for v in by_type.values())
    msb = (sum_sq_over_n - s * s / n) / (k - 1)
    msw = (ss - sum_sq_over_n) / (n - k)
    got = QUERIES["q_anova_f"].fn(spark, sf_dir).collect()[0]
    assert (got.k, got.n) == (k, n)
    assert abs(got.msb - msb) < 1e-3 * max(1.0, abs(msb))
    assert abs(got.msw - msw) < 1e-3 * max(1.0, abs(msw))
    assert abs(got.f_stat - msb / msw) < 1e-3 * max(1.0, abs(msb / msw))
    assert got.f_stat > 0


def test_bh_fdr_mechanics(spark, sf_dir):
    rows = QUERIES["q_bh_fdr"].fn(spark, sf_dir).collect()
    m = len(rows)
    assert [r.i for r in rows] == list(range(1, m + 1))
    ps = [r.p_nano for r in rows]
    assert ps == sorted(ps)
    # adjusted p = backward cummin of round-half-away(m*p/i), clamped at 1e9
    raw = [
        min((2 * m * p + i) // (2 * i), 10**9)
        for i, p in zip(range(1, m + 1), ps)
    ]
    adj = [min(raw[j] for j in range(i, m)) for i in range(m)]
    assert [r.adj_p_nano for r in rows] == adj
    # step-up rejection region is a prefix ending at the LAST passing index
    passing = [r.i for r in rows if r.p_nano * m <= r.i * 50_000_000]
    i_max = max(passing) if passing else 0
    assert [r.rejected for r in rows] == [
        1 if r.i <= i_max and i_max > 0 else 0 for r in rows
    ]


def test_theil_sen_matches_python(spark, sf_dir):
    rows = _events(spark, sf_dir)
    daily: dict[int, int] = {}
    for r in rows:
        daily[r.ep // 86400] = daily.get(r.ep // 86400, 0) + round(
            round(r.value, 6) * 1e6
        )
    days = sorted(daily)
    slopes = []
    for ai in range(len(days)):
        for bi in range(ai + 1, len(days)):
            i, j = days[ai], days[bi]
            slopes.append(((daily[j] - daily[i]) / (j - i), i, j))
    slopes.sort()
    n_pairs = len(slopes)
    med = slopes[(n_pairs + 1) // 2 - 1][0]
    got = QUERIES["q_theil_sen"].fn(spark, sf_dir).collect()
    assert len(got) == 1
    assert got[0].n_pairs == n_pairs
    assert abs(got[0].slope_micro_per_day - round(med, 6)) <= 1e-6


def test_adamic_adar_matches_python(spark, sf_dir):
    rows = _events(spark, sf_dir)
    edges = set()
    for r in rows:
        a, b = r.user_id % 50, int(math.floor(r.value)) % 50
        if a != b:
            edges.add((min(a, b), max(a, b)))
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    scores = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in edges:
                continue
            common = adj[u] & adj[v]
            if not common:
                continue
            aa = sum(round(1.0 / math.log(deg[w]), 6) for w in common)
            scores[(u, v)] = (len(common), aa)
    top = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    got = [
        (r.u, r.v, r.common_neighbors, r.aa_score)
        for r in QUERIES["q_adamic_adar"].fn(spark, sf_dir).collect()
    ]
    assert [(u, v, c, round(a, 6)) for (u, v), (c, a) in top] == [
        (u, v, c, round(a, 6)) for u, v, c, a in got
    ]
    # predicted links are genuinely absent from the graph
    for u, v, _, _ in got:
        assert (u, v) not in edges


def test_mmr_rerank_matches_python(spark, sf_dir):
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load(spark, sf_dir, "embeddings").collect()
    }

    def cos_micro(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return round(round(d / (na * nb), 6) * 1e6)

    q = emb[0]
    rel = {i: cos_micro(q, v) for i, v in emb.items() if i != 0}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:16]
    sel = [min(cand, key=lambda i: (-rel[i], i))]
    scores = {1: 7 * rel[sel[0]]}
    for pos in range(2, 9):
        best = None
        for c in cand:
            if c in sel:
                continue
            ms = max(cos_micro(emb[c], emb[s]) for s in sel)
            sc = 7 * rel[c] - 3 * ms
            key = (-sc, c)
            if best is None or key < best[0]:
                best = (key, c, sc)
        sel.append(best[1])
        scores[pos] = best[2]
    got = QUERIES["q_mmr_rerank"].fn(spark, sf_dir).collect()
    assert [(r.pos, r.vec_id, r.score_milli) for r in got] == [
        (p + 1, v, scores[p + 1]) for p, v in enumerate(sel)
    ]
    # MMR must diversify: the greedy order differs from pure relevance order
    assert [r.vec_id for r in got] != cand[:8]


def build_mp4(
    duration: int,
    timescale: int = 1000,
    width: int = 640,
    height: int = 360,
    mdat_len: int = 64,
    free: bool = False,
    mdat_largesize: bool = False,
) -> bytes:
    """Synthesize a structurally-valid minimal MP4: ftyp + (free) +
    moov(mvhd + trak(tkhd)) + mdat. Media SAMPLE decoding is out of scope
    (codec-library-bound); the container walk is the real, testable part."""
    from platform_etl_backend_spark.operators.codecs import (
        _mp4_box,
        mp4_mvhd_payload,
        mp4_tkhd_payload,
    )

    ftyp = _mp4_box(b"ftyp", b"isom" + b"\x00\x00\x02\x00" + b"isomiso2mp41")
    moov = _mp4_box(
        b"moov",
        _mp4_box(b"mvhd", mp4_mvhd_payload(timescale, duration))
        + _mp4_box(b"trak", _mp4_box(b"tkhd", mp4_tkhd_payload(duration, width, height))),
    )
    parts = [ftyp]
    if free:
        parts.append(_mp4_box(b"free", b"\x00" * 8))
    parts.append(moov)
    parts.append(_mp4_box(b"mdat", b"\x00" * mdat_len, largesize=mdat_largesize))
    return b"".join(parts)


def test_mp4_builder_walker_roundtrip_and_rejection():
    import pytest

    from platform_etl_backend_spark.operators.codecs import mp4_box_walk

    for free in (False, True):
        for ls in (False, True):
            s = mp4_box_walk(
                build_mp4(7500, width=480, height=270, mdat_len=33,
                          free=free, mdat_largesize=ls)
            )
            assert (s["brand"], s["timescale"], s["duration"]) == ("isom", 1000, 7500)
            assert (s["width"], s["height"], s["mdat_bytes"]) == (480, 270, 33)
            assert s["n_boxes"] == (7 if free else 6)
            assert s["top_types"].startswith("ftyp")
    # size smaller than its own header
    with pytest.raises(ValueError):
        mp4_box_walk(b"\x00\x00\x00\x03abcd")
    # truncated body
    with pytest.raises(ValueError):
        mp4_box_walk(b"\x00\x00\x00\x20ftypisom")
    # size==0 runs to end of container
    s = mp4_box_walk(b"\x00\x00\x00\x00mdat" + b"\x00" * 24)
    assert s["mdat_bytes"] == 24 and s["n_boxes"] == 1


def test_mp4_box_walk_query_shapes(spark, sf_dir):
    rows = QUERIES["q_mp4_box_walk"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r.brand == "isom" and r.timescale == 1000
        assert r.duration == (r.doc_id % 100 + 1) * 500
        expected_top = (
            "ftyp|free|moov|mdat" if r.doc_id % 4 == 0 else "ftyp|moov|mdat"
        )
        assert r.top_types == expected_top


def test_distributed_topk_bounds_contain_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    exact: dict[str, int] = {}
    shard_counts: dict[int, dict[str, int]] = {}
    for r in docs:
        sh = r.doc_id % 8
        for w in r.text.split():
            exact[w] = exact.get(w, 0) + 1
            shard_counts.setdefault(sh, {})[w] = (
                shard_counts.setdefault(sh, {}).get(w, 0) + 1
            )
    kept = {}
    thr = {}
    for sh, cnts in shard_counts.items():
        top = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        kept[sh] = dict(top)
        thr[sh] = min(c for _, c in top)
    cands = {w for d in kept.values() for w in d}
    lbub = {}
    for w in cands:
        lb = sum(d.get(w, 0) for d in kept.values() if w in d)
        ub = lb + sum(t for sh, t in thr.items() if w not in kept[sh])
        lbub[w] = (lb, ub)
    expect = sorted(lbub.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    got = [
        (r.word, r.lb, r.ub)
        for r in QUERIES["q_distributed_topk"].fn(spark, sf_dir).collect()
    ]
    assert got == [(w, lb, ub) for w, (lb, ub) in expect]
    # the bound is SOUND: exact count always inside [lb, ub]
    for w, lb, ub in got:
        assert lb <= exact[w] <= ub, (w, lb, exact[w], ub)


def test_mergeable_quantiles_error_bounded(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).collect()
    vals = sorted(float(r.l_extendedprice) for r in li)
    n = len(vals)
    got = {r.q: (r.approx_value, r.n) for r in
           QUERIES["q_mergeable_quantiles"].fn(spark, sf_dir).collect()}
    assert set(got) == {25, 50, 75, 90}
    # rank error <= total stride slack: sum over shards of ceil(n_s/32)
    from collections import Counter

    per_shard = Counter(r.l_orderkey % 8 for r in li)
    slack = sum(-(-c // 32) for c in per_shard.values())
    for q, (v, gn) in got.items():
        assert gn == n
        target = -(-q * n // 100)
        # the summary value's true rank is within [target - slack, target + slack]
        import bisect

        lo = bisect.bisect_left(vals, v)
        hi = bisect.bisect_right(vals, v)
        assert lo - slack <= target <= hi + slack, (q, v, lo, hi, target, slack)


def test_modularity_matches_python(spark, sf_dir):
    rows = _events(spark, sf_dir)
    edges = set()
    for r in rows:
        a, b = r.user_id % 50, int(math.floor(r.value)) % 50
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # python LPA twin (3 synchronous rounds, (count desc, label asc) ties)
    adj: dict[int, list] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    label = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for v in nbrs:
                cnt[label[v]] = cnt.get(label[v], 0) + 1
            new[n] = min(cnt, key=lambda l: (-cnt[l], l))
        label = new
    m = len(edges)
    deg = {n: len(v) for n, v in adj.items()}
    comms = sorted(set(label.values()))
    got = {
        r.community: (r.n_nodes, r.intra_edges, r.degree_sum, r.contrib_micro)
        for r in QUERIES["q_modularity"].fn(spark, sf_dir).collect()
    }
    assert sorted(got) == comms
    total_q = 0
    for c in comms:
        nodes = [n for n, l in label.items() if l == c]
        intra = sum(1 for a, b in edges if label[a] == c and label[b] == c)
        dsum = sum(deg[n] for n in nodes)
        num = 4 * m * intra - dsum * dsum
        den = 4 * m * m
        if num >= 0:
            micro = (2 * num * 1000000 + den) // (2 * den)
        else:
            micro = -((2 * (-num) * 1000000 + den) // (2 * den))
        assert got[c] == (len(nodes), intra, dsum, micro), (c, got[c])
        total_q += micro
    # Q is bounded; a single-community partition (this dense graph) gives
    # exactly 0 = m/m - (2m/2m)^2 — the mathematically correct value
    assert -10**6 <= total_q <= 10**6
    if len(comms) == 1:
        assert total_q == 0
    # and the metric is discriminative: a hand-made 2-clique graph scores > 0
    clique_edges = {(a, b) for a in range(4) for b in range(a + 1, 4)} | {
        (a, b) for a in range(10, 14) for b in range(a + 1, 14) if a >= 10
    }
    cm = len(clique_edges)
    cl_label = {n: (0 if n < 10 else 1) for e in clique_edges for n in e}
    qsum = 0
    for c in (0, 1):
        intra = sum(1 for a, b in clique_edges if cl_label[a] == c == cl_label[b])
        dsum = sum(
            sum(1 for a, b in clique_edges if n in (a, b))
            for n in cl_label if cl_label[n] == c
        )
        qsum += 4 * cm * intra - dsum * dsum
    assert qsum > 0


def test_collocations_matches_python(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("text").collect()
    pairs = []
    for r in docs:
        t = r.text.split()
        pairs.extend(zip(t, t[1:]))
    n = len(pairs)
    from collections import Counter

    fab = Counter(pairs)
    fa = Counter(a for a, _ in pairs)
    fb = Counter(b for _, b in pairs)
    scored = {
        (a, b): round((c - fa[a] * fb[b] / n) / math.sqrt(c), 6)
        for (a, b), c in fab.items()
    }
    top = sorted(scored.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))[:20]
    got = [
        (r.bigram, r.f_ab, r.f_a, r.f_b, r.t_score)
        for r in QUERIES["q_collocations"].fn(spark, sf_dir).collect()
    ]
    assert [
        (f"{a} {b}", fab[(a, b)], fa[a], fb[b], s) for (a, b), s in top
    ] == got


def test_classifier_eval_reconciles(spark, sf_dir):
    r = QUERIES["q_classifier_eval"].fn(spark, sf_dir).collect()[0]
    docs = load(spark, sf_dir, "documents").select("text").collect()
    n_docs_with_tokens = sum(1 for d in docs if d.text.split())
    assert r.tp + r.fp + r.fn + r.tn == n_docs_with_tokens
    # metric identities hold on the integer counts
    if r.tp + r.fp:
        assert r.precision_micro == (2 * r.tp * 10**6 + r.tp + r.fp) // (2 * (r.tp + r.fp))
    if r.tp + r.fn:
        assert r.recall_micro == (2 * r.tp * 10**6 + r.tp + r.fn) // (2 * (r.tp + r.fn))
    den = 2 * r.tp + r.fp + r.fn
    if den:
        assert r.f1_micro == (4 * r.tp * 10**6 + den) // (2 * den)
    # the classifier does better than all-positive on precision or is degenerate
    assert 0 <= r.f1_micro <= 10**6


def test_bootstrap_ci_matches_python(spark, sf_dir):
    import hashlib

    rows = _events(spark, sf_dir)
    daily: dict[int, int] = {}
    for r in rows:
        daily[r.ep // 86400] = daily.get(r.ep // 86400, 0) + round(
            round(r.value, 6) * 1e6
        )
    s = [daily[d] for d in sorted(daily)]
    n = len(s)
    means = []
    for b in range(64):
        tot = 0
        for i in range(1, n + 1):
            h = int(hashlib.md5(f"boot:{b}:{i}".encode()).hexdigest()[:12], 16)
            tot += s[h % n]
        means.append(((2 * tot + n) // (2 * n), b))
    means.sort()
    got = QUERIES["q_bootstrap_ci"].fn(spark, sf_dir).collect()[0]
    assert got.n_replicates == 64
    assert got.ci_lo_micro == means[1][0]
    assert got.ci_hi_micro == means[62][0]
    sample_mean = (2 * sum(s) + n) // (2 * n)
    assert got.sample_mean_micro == sample_mean
    # the interval contains the sample mean and is non-degenerate
    assert got.ci_lo_micro <= sample_mean <= got.ci_hi_micro
    assert got.ci_lo_micro < got.ci_hi_micro


def test_mann_kendall_matches_python(spark, sf_dir):
    rows = _events(spark, sf_dir)
    daily: dict[int, int] = {}
    for r in rows:
        daily[r.ep // 86400] = daily.get(r.ep // 86400, 0) + round(
            round(r.value, 6) * 1e6
        )
    s = [daily[d] for d in sorted(daily)]
    n = len(s)
    s_stat = sum(
        (1 if s[j] > s[i] else -1 if s[j] < s[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(s).values() if t > 1
    )
    var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
    if s_stat > 0:
        z = (s_stat - 1) / math.sqrt(var)
    elif s_stat < 0:
        z = (s_stat + 1) / math.sqrt(var)
    else:
        z = 0.0
    got = QUERIES["q_mann_kendall"].fn(spark, sf_dir).collect()[0]
    assert (got.s_stat, got.n) == (s_stat, n)
    assert abs(got.z - round(z, 6)) <= 1e-6
