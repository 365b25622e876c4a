from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators import similarity as S
from platform_etl_backend_spark.operators.stats import (
    contingency_via_groupby,
    critical_value,
    llr_contingency,
    montecarlo_critical_values,
    summary_statistics,
)


def test_critical_value_deterministic_and_positive():
    n_i = np.array([50, 30, 20])
    a = critical_value(100, 40, n_i, 100, 0.95, seed=7)
    b = critical_value(100, 40, n_i, 100, 0.95, seed=7)
    assert a == b
    assert a > 0
    c = critical_value(100, 80, n_i, 100, 0.95, seed=7)
    assert c != a  # different drug total changes the distribution


def test_critical_value_degenerate_single_reaction():
    # single-category multinomial: all mass on one cell, LLR collapses to 0
    v = critical_value(50, 10, np.array([100]), 100, 0.95, seed=1)
    assert v == 0.0


def test_window_and_groupby_contingency_agree(spark):
    rows = [(i, f"d{i % 3}", f"r{i % 2}") for i in range(60)]
    df = spark.createDataFrame(rows, ["report", "drug", "reaction"])
    via_windows = llr_contingency(
        summary_statistics(df, "report", "drug", "reaction"), "drug", "reaction", 60
    )
    via_groupby = contingency_via_groupby(df, "report", "drug", "reaction")
    a = {(r.drug, r.reaction): (r.A, r.B, r.C, r.D, round(r.llr, 9))
         for r in via_windows.collect()}
    b = {(r.drug, r.reaction): (r.A, r.B, r.C, r.D, round(r.llr, 9))
         for r in via_groupby.collect()}
    assert a == b


def test_approx_summary_statistics_within_hll_tolerance(spark):
    """The reference's FAERS formulation deliberately uses
    approx_count_distinct over windows (PrepareSummaryStatistics.scala:38-46)
    — HLL++ with default rsd=0.05. Pin the faithful approx=True variant
    against the exact path: every distinct-count column must land within a
    banded relative error (3×rsd guard band; HLL error is a std-dev, not a
    bound) and the approximation must be deterministic run-to-run."""
    rows = [(i, f"d{i % 7}", f"r{i % 11}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["report", "drug", "reaction"])
    cols = ["uniq_report_ids_by_reaction", "uniq_report_ids_by_drug", "uniq_report_ids"]
    key = ["report", "drug", "reaction"]
    exact = {tuple(r[k] for k in key): [r[c] for c in cols]
             for r in summary_statistics(df, "report", "drug", "reaction").collect()}
    approx = {tuple(r[k] for k in key): [r[c] for c in cols]
              for r in summary_statistics(
                  df, "report", "drug", "reaction", approx=True).collect()}
    assert exact.keys() == approx.keys()
    rsd_band = 3 * 0.05
    worst = 0.0
    for k, ex in exact.items():
        for e, a in zip(ex, approx[k]):
            rel = abs(a - e) / e
            worst = max(worst, rel)
            assert rel <= rsd_band, (k, ex, approx[k])
    # the approximation must actually be within a tight envelope here
    # (counts ~180-285 are well inside HLL++'s sparse/accurate regime)
    assert worst <= rsd_band
    # determinism: HLL sketches are deterministic for a fixed dataset
    approx2 = {tuple(r[k] for k in key): [r[c] for c in cols]
               for r in summary_statistics(
                   df, "report", "drug", "reaction", approx=True).collect()}
    assert approx == approx2


def test_montecarlo_per_group_deterministic(spark):
    rows = [(i, f"d{i % 2}", f"r{i % 5}") for i in range(200)]
    df = spark.createDataFrame(rows, ["report", "drug", "reaction"])
    cont = contingency_via_groupby(df, "report", "drug", "reaction")
    out1 = {r.drug: r.critical_value for r in
            montecarlo_critical_values(cont, "drug").collect()}
    out2 = {r.drug: r.critical_value for r in
            montecarlo_critical_values(cont, "drug").collect()}
    assert out1 == out2
    assert all(v >= 0 for v in out1.values())


def test_cosine_topk_exact(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    df = spark.createDataFrame(vecs, "vec_id: bigint, embedding: array<float>")
    out = S.brute_force_topk(df, df.where(F.col("vec_id") == 0), "vec_id", "embedding", k=3)
    got = [(r.rn, r.neighbor_id) for r in out.orderBy("rn").collect()]
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_bucketed_ann_respects_buckets(spark):
    vecs = [
        (0, [1.0, 1.0]), (1, [0.9, 0.8]),       # bucket 3
        (2, [-1.0, -1.0]), (3, [-0.9, -0.8]),   # bucket 0
    ]
    df = spark.createDataFrame(vecs, "vec_id: bigint, embedding: array<float>")
    out = {r.query_id: r.neighbor_id for r in
           S.bucketed_ann_top1(df, "vec_id", "embedding", nbits=2).collect()}
    assert out == {0: 1, 1: 0, 2: 3, 3: 2}


def test_multimodal_plumbing(spark):
    from platform_etl_backend_spark.operators import multimodal as M

    df = spark.createDataFrame(
        [(1, bytearray(b"payload-one")), (2, bytearray(b"payload-two-longer"))],
        "media_id: bigint, data: binary",
    )
    with_meta = M.attach_media_meta(df, "data")
    meta = {r.media_id: r.meta for r in with_meta.collect()}
    assert meta[1].format == "fake" and meta[1].width >= 1

    feats = {r.media_id: r.features for r in
             M.decode_features(df, "media_id", "data").collect()}
    assert len(feats[1]) == M.FEATURE_DIM
    # deterministic across runs
    again = {r.media_id: r.features for r in
             M.decode_features(df, "media_id", "data").collect()}
    assert feats == again

    frames = M.frame_sample(df, "media_id", "data").collect()
    assert all(r.frame_no % 2 == 0 for r in frames)

    # jpeg AND png decode for REAL now (operators/jpeg.py, operators/png.py):
    # garbage fails loudly with a parse error; library-bound formats still
    # raise honestly
    from platform_etl_backend_spark.operators.codecs import decode_media

    with pytest.raises(ValueError):
        decode_media(b"x", "jpeg")
    with pytest.raises(ValueError):
        decode_media(b"x", "png")
    with pytest.raises(NotImplementedError):
        decode_media(b"x", "mp3")


def test_multinomial_sampling_invariants_match_reference_contract():
    """The reference pins three invariants on its rmultinom sampler
    (openfda/utils/MathUtilsTest.scala); the engine's Monte-Carlo path uses
    the same construction via numpy — mirror the invariants on the exact
    sampling matrix shape critical_value builds internally."""
    rng = np.random.Generator(np.random.PCG64(7))
    size, iters = 10, 10
    p = rng.random(size)
    p = p / p.sum()
    x = rng.multinomial(size, p, size=iters).T  # (k, permutations)
    # every sample allocates exactly `size` units
    assert (x.sum(axis=0) == size).all()
    # allocations vary across samples
    assert (x.max(axis=1) - x.min(axis=1)).sum() != 0
    # degenerate single-option distribution puts all mass in the one bucket
    x1 = rng.multinomial(1, np.array([1.0]), size=1).T
    assert x1[0, 0] == 1


def _exact_max_llr_distribution(n_j: int, n_i: np.ndarray, total: int):
    """Dense enumeration of the max-LLR distribution: every multinomial
    outcome of n_j draws over k cells (p ∝ n_i/total), with the same cell-LLR
    formula critical_value vectorizes. Returns (values, probs) sorted."""
    from itertools import product
    from math import factorial, log

    y = n_i.astype(np.float64)
    n = float(total)
    z = float(n_j)
    p = (y / n) / (y / n).sum()
    k = len(y)
    support: dict[float, float] = {}
    for xs in product(range(n_j + 1), repeat=k - 1):
        rest = n_j - sum(xs)
        if rest < 0:
            continue
        x = np.array(list(xs) + [rest], dtype=np.float64)
        coef = factorial(n_j)
        for xi in x:
            coef //= factorial(int(xi))
        pmf = float(coef) * float(np.prod(p**x))
        with np.errstate(divide="ignore", invalid="ignore"):
            llrs = x * (np.log(x) - np.log(y)) + (z - x) * (
                np.log(z - x) - np.log(n - y)
            )
            llrs = llrs - z * log(z) + z * log(n)
        llrs[~np.isfinite(llrs)] = 0.0
        v = float(llrs.max())
        support[v] = support.get(v, 0.0) + pmf
    values = np.array(sorted(support))
    probs = np.array([support[v] for v in values])
    assert abs(probs.sum() - 1.0) < 1e-9
    return values, probs


def _exact_quantile(values: np.ndarray, probs: np.ndarray, q: float) -> float:
    cdf = np.cumsum(probs)
    return float(values[np.searchsorted(cdf, q)])


def test_montecarlo_critical_value_converges_to_dense_enumeration():
    """The driver's q_montecarlo_critical stays rows-only forever (seeded
    simulation) — this is its statistical oracle: at 10k permutations on a
    tiny contingency, the empirical 95th-percentile max-LLR must land inside
    the exact distribution's [q(0.94), q(0.96)] band (dense enumeration of
    all multinomial outcomes; the empirical CDF's std at 0.95 with 10k
    samples is ~0.0022, so the ±0.01 band is ≈4.5σ)."""
    n_i = np.array([30, 50, 20])
    n_j, total, perms = 12, 100, 10_000
    values, probs = _exact_max_llr_distribution(n_j, n_i, total)
    lo = _exact_quantile(values, probs, 0.94)
    hi = _exact_quantile(values, probs, 0.96)
    exact = _exact_quantile(values, probs, 0.95)
    assert lo <= exact <= hi
    for seed in (3, 17, 4242):
        emp = critical_value(perms, n_j, n_i, total, 0.95, seed=seed)
        assert lo - 1e-9 <= emp <= hi + 1e-9, (emp, lo, exact, hi)


def test_semantic_dedup_drops_planted_duplicates(spark):
    """SemDeDup keep-first rule: planted near-identical vectors are dropped
    in favor of the smallest id; distinct vectors all survive."""
    import random

    from platform_etl_backend_spark.operators.similarity import semantic_dedup

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant near-dups of vectors 0 and 5 (tiny perturbation, cos ~ 1)
    rows.append((100, [float(x) + 1e-4 for x in base[0]]))
    rows.append((101, [float(x) - 1e-4 for x in base[5]]))
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    out = semantic_dedup(df, "vec_id", "embedding", k=4, iters=1, threshold=0.98)
    dropped = set()
    total = 0
    for r in out.collect():
        total += r.n_vectors
        if r.dropped:
            dropped |= {int(x) for x in r.dropped.split("|")}
    assert total == 22
    assert dropped == {100, 101}  # keep-first: originals 0 and 5 survive


def test_semantic_dedup_enforces_pair_cost_bound(spark):
    """An undersized k must fail fast via max_pair_cost instead of
    launching the quadratic within-cell stage; a k sized to the corpus
    passes the same bound, and the default k=None picks ~sqrt(n)."""
    import pytest

    from platform_etl_backend_spark.operators.similarity import semantic_dedup

    rows = [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    # k=1 puts all 64 vectors in one cell: cost 64^2 = 4096 > 1000 -> raise
    with pytest.raises(ValueError, match="pair cost"):
        semantic_dedup(df, "vec_id", "embedding", k=1, max_pair_cost=1000)
    # default k ~ sqrt(64) = 8 keeps sum(cell^2) under the same bound
    out = semantic_dedup(df, "vec_id", "embedding", max_pair_cost=1000)
    assert out.agg(F.sum("n_vectors")).first()[0] == 64


def test_count_min_one_sided_error(spark, sf_dir):
    """Count-min guarantees estimate >= exact (one-sided error); with
    4x256 counters on this corpus the top tokens' overestimates stay small
    relative to N."""
    from platform_etl_backend_spark.operators.stats import count_min_estimates

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = count_min_estimates(d, "doc_id", "text", width=256, topk=20).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cm_estimate >= r.exact, r
        assert r.overestimate == r.cm_estimate - r.exact


def test_count_min_exact_on_small_universe(spark):
    """With far fewer distinct items than buckets and no collisions across
    all 4 rows, estimates are exact."""
    from platform_etl_backend_spark.operators.stats import count_min_estimates

    docs = spark.createDataFrame(
        [(1, "x x x y"), (2, "y z")], ["doc_id", "text"]
    )
    got = {r.token: (r.exact, r.cm_estimate) for r in
           count_min_estimates(docs, "doc_id", "text", width=256, topk=10).collect()}
    assert got == {"x": (3, 3), "y": (2, 2), "z": (1, 1)}


def test_count_min_width_error_trade(spark, sf_dir):
    """Narrower sketch => same one-sided guarantee, larger total
    overestimate (the e/w knob, pinned on the fixture corpus)."""
    from pyspark.sql import functions as F
    from platform_etl_backend_spark.operators.dedup import ws_tokens
    from platform_etl_backend_spark.operators.stats import count_min_estimates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        r["term"]: r["cnt"]
        for r in docs.select(F.explode(ws_tokens("text")).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }

    def est(width):
        return {
            r["token"]: r["cm_estimate"]
            for r in count_min_estimates(
                docs, "doc_id", "text", width=width, topk=20
            ).collect()
        }

    wide, narrow = est(256), est(16)
    assert set(wide) == set(narrow)  # same top-k probe set
    for t in wide:
        assert wide[t] >= exact[t]      # one-sided guarantee holds...
        assert narrow[t] >= exact[t]    # ...at any width
        assert narrow[t] >= wide[t] - 0  # collisions only ever add
    over_wide = sum(wide[t] - exact[t] for t in wide)
    over_narrow = sum(narrow[t] - exact[t] for t in narrow)
    assert over_narrow > over_wide  # the width knob is visible


def test_bloom_filter_no_false_negatives_and_mergeable(spark):
    """Bloom guarantee: every built key probes positive; sketch is
    mergeable — the filter of A union B equals the word-wise bit_or of the
    separate filters (the property that lets shard/day sketches combine)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.stats import bloom_build, bloom_probe_counts

    a = spark.createDataFrame([(f"key_{i}",) for i in range(40)], "k string")
    b = spark.createDataFrame([(f"other_{i}",) for i in range(40)], "k string")
    both = a.union(b)

    r = bloom_probe_counts(both, both, "k").collect()[0]
    assert r["n_false_negative"] == 0
    assert r["n_bloom_positive"] == r["n_probes"] == 80

    merged = (
        bloom_build(a, "k")
        .union(bloom_build(b, "k"))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bits)").cast("bigint").alias("bits"))
    )
    direct = bloom_build(both, "k")
    sym_diff = merged.exceptAll(direct).count() + direct.exceptAll(merged).count()
    assert sym_diff == 0


def test_bloom_absent_keys_mostly_negative(spark):
    """At m=65536, n=40 the false-positive probability is ~1e-12 per key —
    every absent probe must come back negative at this load factor."""
    from platform_etl_backend_spark.operators.stats import bloom_probe_counts

    built = spark.createDataFrame([(f"key_{i}",) for i in range(40)], "k string")
    absent = spark.createDataFrame([(f"missing_{i}",) for i in range(200)], "k string")
    r = bloom_probe_counts(built, absent, "k").collect()[0]
    assert r["n_true_present"] == 0
    assert r["n_bloom_positive"] == 0


def test_hll_accuracy_envelope_and_mergeability(spark):
    """Estimate within the ~3-sigma HLL envelope (1.04/sqrt(m) per sigma)
    across two decades of cardinality; register tables merge by bucket-wise
    MAX (shard merge == direct build)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.stats import (
        HLL_M,
        hll_estimates_grouped,
        hll_registers,
    )

    sigma = 1.04 / (HLL_M**0.5)
    for n in (100, 1000, 20000):
        df = spark.range(n).select(
            F.lit("t").alias("label"), F.concat(F.lit("k"), F.col("id")).alias("k")
        )
        r = hll_estimates_grouped(df).collect()[0]
        assert r["n_exact"] == n
        rel = abs(r["estimate"] - n) / n
        assert rel < 3 * sigma + 0.01, (n, r["estimate"])

    a = spark.range(500).select(F.concat(F.lit("a"), F.col("id")).alias("k"))
    b = spark.range(500).select(F.concat(F.lit("b"), F.col("id")).alias("k"))
    merged = (
        hll_registers(a, "k")
        .union(hll_registers(b, "k"))
        .groupBy("bucket")
        .agg(F.max("mx").alias("mx"))
    )
    direct = hll_registers(a.union(b), "k")
    assert merged.exceptAll(direct).count() + direct.exceptAll(merged).count() == 0


def test_kmv_sketch_estimates_and_subset_logic(spark):
    """KMV estimates within the ~3/sqrt(k) envelope; a true subset's
    intersection estimate tracks the subset; union of disjoint sets tracks
    the sum; sub-k sets estimate EXACTLY (the sketch holds them whole)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.stats import KMV_K, kmv_set_estimates

    a = spark.range(2000).select(F.concat(F.lit("x"), F.col("id")).alias("k"))
    b = spark.range(500).select(F.concat(F.lit("x"), F.col("id")).alias("k"))  # subset
    rows = {r["key"]: r for r in kmv_set_estimates(a, "k", b, "k").collect()}
    tol = 3.0 / (KMV_K**0.5)
    assert abs(rows["a"]["estimate"] - 2000) / 2000 < tol
    assert abs(rows["b"]["estimate"] - 500) / 500 < tol
    assert rows["union"]["n_exact"] == 2000
    assert abs(rows["union"]["estimate"] - 2000) / 2000 < tol
    assert rows["intersection"]["n_exact"] == 500
    assert abs(rows["intersection"]["estimate"] - 500) / 500 < 2 * tol

    small = spark.range(20).select(F.concat(F.lit("s"), F.col("id")).alias("k"))
    other = spark.range(30).select(F.concat(F.lit("t"), F.col("id")).alias("k"))
    rows2 = {r["key"]: r for r in kmv_set_estimates(small, "k", other, "k").collect()}
    assert rows2["a"]["estimate"] == 20.0  # sub-k => exact
    assert rows2["b"]["estimate"] == 30.0
    assert rows2["intersection"]["n_exact"] == 0
    assert rows2["intersection"]["estimate"] == 0.0


def test_jl_projection_matches_python_model_and_preserves_norms(spark):
    """Kernel output == plain-Python model on exact integers; corpus-mean
    norm ratio near 1 (the JL lemma at d_out=16)."""
    import numpy as np
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.similarity import (
        JL_OUT_DIMS,
        jl_project,
        jl_sign_matrix,
    )

    rng = np.random.RandomState(0)
    vecs = rng.uniform(-1, 1, size=(60, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in jl_project(df, "vec_id", "embedding").collect()}
    sign = jl_sign_matrix()
    ratios = []
    for i in range(60):
        q = np.floor(vecs[i].astype(np.float64) * 1e6).astype(np.int64)
        y = sign @ q
        for c in range(4):
            assert got[i][f"y{c + 1}_micro"] == int(y[c]), (i, c)
        ratios.append((int(y @ y) / float(JL_OUT_DIMS)) / int(q @ q))
        assert abs(got[i]["norm_ratio"] - ratios[-1]) == 0.0
    assert abs(float(np.mean(ratios)) - 1.0) < 0.25


def test_pq_adc_recall_against_exact_l2(spark):
    """PQ compresses 64 dims to 4 codes — ADC ordering must still place
    the true L2 nearest neighbor in the top-3 for most queries (recall@3
    >= 0.5 on separable synthetic clusters), and quantization error must
    be non-negative and finite."""
    import numpy as np
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit_codebooks,
    )

    rng = np.random.RandomState(1)
    centers = rng.uniform(-1, 1, size=(5, 64))
    vecs = np.vstack([
        centers[i % 5] + rng.normal(0, 0.05, size=64) for i in range(100)
    ]).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id bigint, embedding array<float>",
    )
    top = pq_adc_topk(df, "vec_id", "embedding", F.col("qid") < 10).collect()
    got = {}
    for r in top:
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # Within a tight cluster every member quantizes to the SAME 4 codes, so
    # ADC distances tie and the id tiebreak decides — exact-NN identity is
    # not PQ's contract. The contract is coarse geometry: every retrieved
    # neighbor must come from the query's own cluster.
    for q in range(10):
        for n in got[q]:
            assert n % 5 == q % 5, (q, n, got[q])

    books = pq_fit_codebooks(df, "vec_id", "embedding")
    errs = [r["sub_err"] for r in pq_encode(df, books, "vec_id", "embedding").collect()]
    assert all(e >= 0 for e in errs) and len(errs) == 400
