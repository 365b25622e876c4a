"""Skew/recall characterization of the sign-bit LSH ANN path
(``operators/similarity.py``): the scale caveats, pinned.

Single-table sign-bit LSH has two documented failure modes at corpus scale:
(1) hot buckets when leading dimensions are correlated (skew → quadratic
island in the within-bucket self-join), and (2) recall decay as nbits grows
(more planes → true neighbors split across buckets, and no multi-probe).
These tests pin both behaviors on deterministic data so the envelope in
SCALE.md stays true; IVF (``ivf_top1``) is the recommended default for real
embedding distributions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators import similarity as S


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _stats(corpus, nbits):
    return (
        S.bucket_stats(corpus, "embedding", nbits)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.col("n") * F.col("n")).alias("pair_cost"),
            F.sum("n").alias("n_vectors"),
        )
        .collect()[0]
    )


def test_bucket_stats_detects_hot_bucket_on_correlated_embeddings(spark):
    """All-positive leading dimensions (the correlated-embedding shape) put
    the ENTIRE corpus in one bucket — the audit must surface it, because the
    within-bucket join is then |corpus|², not ANN at all."""
    rows = [(i, [1.0 + (i % 7) * 0.1, 2.0, 0.5 + (i % 3), -1.0 + 0.1 * (i % 5)])
            for i in range(100)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    st = (
        S.bucket_stats(df, "embedding", nbits=3)
        .agg(F.count(F.lit(1)).alias("n_buckets"), F.max("n").alias("max_bucket"))
        .collect()[0]
    )
    assert st.n_buckets == 1
    assert st.max_bucket == 100


def test_nbits_is_the_pair_cost_knob(spark, sf_dir):
    """On the fixture embeddings, raising nbits must strictly shrink both
    the hottest bucket and the Σn² candidate-pair cost — the knob that keeps
    the self-join linear-ish at scale."""
    emb = _emb(spark, sf_dir)
    stats = {nbits: _stats(emb, nbits) for nbits in (2, 4, 8)}
    assert stats[2].max_bucket > stats[4].max_bucket > stats[8].max_bucket
    assert stats[2].pair_cost > stats[4].pair_cost > stats[8].pair_cost
    # and no bucket hogs the corpus at the catalog's default (nbits=4)
    assert stats[4].max_bucket < 0.25 * stats[4].n_vectors


def test_single_table_lsh_recall_decays_with_nbits(spark, sf_dir):
    """Recall@1 vs the exact brute force: ≥0.4 at nbits=2 on this fixture,
    strictly decaying as nbits grows (single-table, no multi-probe). This is
    the documented trade that makes IVF the default for real workloads —
    cutting pair cost via nbits pays directly in recall."""
    emb = _emb(spark, sf_dir)
    bf = (
        S.brute_force_topk(emb, emb, "vec_id", "embedding", k=1)
        .where(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("bf_n"))
    )
    recalls = {}
    for nbits in (2, 4, 8):
        ann = S.bucketed_ann_top1(emb, "vec_id", "embedding", nbits=nbits).select(
            "query_id", F.col("neighbor_id").alias("ann_n")
        )
        j = bf.join(ann, "query_id")
        recalls[nbits] = (
            j.where(F.col("bf_n") == F.col("ann_n")).count() / j.count()
        )
    assert recalls[2] >= 0.4, recalls
    assert recalls[2] > recalls[4] > recalls[8], recalls


def test_multiprobe_recovers_recall(spark, sf_dir):
    """Multi-probe (query fans out to Hamming-1 buckets of the planes it
    sits closest to) must recover most of the recall single-probe loses:
    on the fixture, nbits=4 goes 0.164 -> ~0.55 with probes=4. Pin a 2×
    floor so the probe selection logic can't silently regress."""
    emb = _emb(spark, sf_dir)
    bf = (
        S.brute_force_topk(emb, emb, "vec_id", "embedding", k=1)
        .where(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("bf_n"))
    )

    def recall(probes):
        ann = S.bucketed_ann_top1(
            emb, "vec_id", "embedding", nbits=4, probes=probes
        ).select("query_id", F.col("neighbor_id").alias("ann_n"))
        j = bf.join(ann, "query_id")
        return j.where(F.col("bf_n") == F.col("ann_n")).count() / j.count()

    single, multi = recall(0), recall(4)
    assert multi >= 2 * single, (single, multi)
    assert multi >= 0.5, (single, multi)


def test_kmeans_fit_deterministic_and_improves_assignment(spark, sf_dir):
    """kmeans_fit must (a) return identical centroids regardless of input
    partitioning — the decimal-sum + hash-init determinism claim — and
    (b) produce a better coarse quantizer than 'first 8 vectors': mean
    assignment cosine strictly improves after fitting."""
    emb = _emb(spark, sf_dir)

    def centroids(df, iters=2):
        out = S.kmeans_fit(df, "vec_id", "embedding", k=8, iters=iters)
        return sorted((r.cell_id, tuple(r.vec)) for r in out.collect())

    assert centroids(emb) == centroids(emb.repartition(17))

    # compare quantizer quality: mean best-cell cosine, naive vs fitted
    naive = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"),
        S.as_double_array("embedding").alias("vec"))
    fitted = S.kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)

    def quality(cents):
        c = cents.select(F.col("cell_id").alias("vec_id"),
                         F.col("vec").alias("embedding"))
        a = S._ivf_assign_n(emb, c, "vec_id", "embedding")
        cv = c.select(F.col("vec_id").alias("cell_id"),
                      S.as_double_array("embedding").alias("cv"))
        scored = a.join(cv, "cell_id").select(
            S.cosine(F.col("vec"), F.col("cv")).alias("cos"))
        return scored.agg(F.avg("cos")).collect()[0][0]

    assert quality(fitted) > quality(naive)


def _correlated_corpus(spark, n=240, dim=8, lead=6):
    """Correlated-dims corpus: the first ``lead`` dimensions are always
    positive (shared direction — the real-embedding failure shape for
    axis-aligned sign planes); only the tail dims vary in sign."""
    rows = []
    for i in range(n):
        head = [1.0 + 0.01 * ((i * (j + 3)) % 17) for j in range(lead)]
        tail = [((-1.0) ** ((i // (2**j)) % 2)) * (0.5 + 0.01 * (i % 13))
                for j in range(dim - lead)]
        rows.append((i, head + tail))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_bucket_stats_fallback_advice_holds_on_correlated_corpus(spark):
    """The documented pre-flight playbook (bucket_stats docstring) must
    actually work on a correlated-dims corpus: (a) the audit flags the hot
    bucket at the default nbits=4 (whole corpus in 1 bucket → |corpus|²
    pairs); (b) bumping nbits past the correlated prefix caps the max
    bucket at ≤ 30% of the corpus; (c) the IVF switch spreads vectors over
    data-driven cells with the same cap — both advertised fallbacks hold."""
    corpus = _correlated_corpus(spark)
    n_vec = corpus.count()

    hot = _stats(corpus, nbits=4)
    assert hot.n_buckets == 1 and hot.max_bucket == n_vec  # (a) audit fires

    bumped = _stats(corpus, nbits=8)
    assert bumped.n_buckets >= 4
    assert bumped.max_bucket <= 0.3 * n_vec  # (b) nbits bump

    cents = S.kmeans_fit(corpus, "vec_id", "embedding", k=8, iters=2)
    cells = (
        S._ivf_assign_n(corpus, cents.select(F.col("cell_id").alias("vec_id"),
                                             F.col("vec").alias("embedding")),
                        "vec_id", "embedding")
        .groupBy("cell_id").count().collect()
    )
    assert max(r["count"] for r in cells) <= 0.3 * n_vec  # (c) IVF switch
    assert len(cells) >= 4


def test_ivf_nprobe_raises_recall_and_agrees_at_nprobe1(spark, sf_dir):
    """ivf_topk must (a) reduce exactly to ivf_top1 at nprobe=1 and
    (b) strictly improve recall@1 vs brute force as nprobe grows — the
    FAISS-style quality knob, bounded at nprobe× candidate cost."""
    emb = _emb(spark, sf_dir)
    cents = emb.where(F.col("vec_id") < 8)
    t1 = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_top1(emb, cents, "vec_id", "embedding").collect()
    }
    tk1 = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, cents, "vec_id", "embedding", nprobe=1).collect()
    }
    assert t1 == tk1  # (a)

    bf = (
        S.brute_force_topk(emb, emb, "vec_id", "embedding", k=1)
        .where(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("bf_n"))
    )

    def recall(nprobe):
        ann = S.ivf_topk(
            emb, cents, "vec_id", "embedding", nprobe=nprobe
        ).select("query_id", F.col("neighbor_id").alias("ann_n"))
        j = bf.join(ann, "query_id")
        return j.where(F.col("bf_n") == F.col("ann_n")).count() / j.count()

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 < r2 <= r4, (r1, r2, r4)  # (b)


def test_multitable_or_amplification_raises_recall(spark, sf_dir):
    """Independent hash tables compose recall as 1-(1-p)^L: strictly
    increasing in L, and 4 tables must roughly match the single-table
    theoretical composition (measured 0.164 -> 0.472 on the fixture)."""
    emb = _emb(spark, sf_dir)
    bf = (
        S.brute_force_topk(emb, emb, "vec_id", "embedding", k=1)
        .where(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("bf_n"))
    )

    def recall(tables):
        ann = S.multitable_ann_top1(
            emb, "vec_id", "embedding", nbits=4, tables=tables
        ).select("query_id", F.col("neighbor_id").alias("ann_n"))
        j = bf.join(ann, "query_id")
        return j.where(F.col("bf_n") == F.col("ann_n")).count() / j.count()

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 < r2 < r4, (r1, r2, r4)
    assert r4 >= 0.4, (r1, r2, r4)


def test_all_pairs_dots_blocked_exact_and_unique(spark, sf_dir):
    """Block tiling covers every unordered pair EXACTLY once and matches
    the plain crossJoin pair cosines bit-for-bit (both orientations of
    the kernel's sequential fold are IEEE-commutative-safe)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(150)
    got = {
        (r.query_id, r.neighbor_id) if r.query_id < r.neighbor_id
        else (r.neighbor_id, r.query_id): r.dot / (r.qn * r.bn)
        for r in S.all_pairs_dots_blocked(
            emb, "vec_id", "embedding", blocks=5).collect()
    }
    a = emb.select(F.col("vec_id").alias("id_a"),
                   S.as_double_array("embedding").alias("va")
                   ).withColumn("na", S.norm(F.col("va")))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   S.as_double_array("embedding").alias("vb")
                   ).withColumn("nb", S.norm(F.col("vb")))
    want = {
        (r.id_a, r.id_b): r.cos
        for r in a.crossJoin(b).where(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b",
            S.cosine_pre(F.col("va"), F.col("vb"),
                         F.col("na"), F.col("nb")).alias("cos")).collect()
    }
    assert set(got) == set(want)          # every pair once, none twice
    assert got == want                    # bit-identical, no tolerance


def test_cell_pair_dots_string_ids_pass_through(spark, sf_dir):
    """Ids flow through the kernel untouched — string and bigint alike —
    the output schema mirrors them, and every same-cell pair cosine equals
    a Catalyst fold (cosine_pre over an equi-join on the cell) bit-for-bit."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 200)
    for id_col, id_type in (
        (F.concat(F.lit("v"), F.col("vec_id").cast("string")), "string"),
        (F.col("vec_id").cast("bigint"), "bigint"),
    ):
        side = emb.select(
            id_col.alias("id"), S.as_double_array("embedding").alias("vec")
        ).withColumn("n", S.norm(F.col("vec"))).withColumn(
            "cell_id", S.sign_bucket(F.col("vec"), 2))
        dots = S._cell_pair_dots(side, side)
        types = dict(dots.dtypes)
        assert types["query_id"] == types["neighbor_id"] == id_type
        got = {
            (r.query_id, r.neighbor_id): r.dot / (r.qn * r.bn)
            for r in dots.collect()
        }
        a = side.select(F.col("id").alias("id_a"), F.col("vec").alias("va"),
                        F.col("n").alias("na"), "cell_id")
        b = side.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"),
                        F.col("n").alias("nb"), "cell_id")
        want = {
            (r.id_a, r.id_b): r.cos
            for r in a.join(b, "cell_id").select(
                "id_a", "id_b",
                S.cosine_pre(F.col("va"), F.col("vb"),
                             F.col("na"), F.col("nb")).alias("cos")).collect()
        }
        assert got == want and len(got) > 200  # bit-identical, no tolerance


def test_cell_pair_dots_rejects_exotic_id_types(spark, sf_dir):
    """Non-integral/non-string ids must raise instead of silently nulling
    out (the pre-round-11 failure mode for the hard-coded bigint schema)."""
    emb = _emb(spark, sf_dir).limit(10).select(
        F.array(F.col("vec_id")).alias("id"),
        S.as_double_array("embedding").alias("vec"),
    ).withColumn("n", S.norm(F.col("vec"))).withColumn(
        "cell_id", F.lit(0))
    with pytest.raises(TypeError, match="unsupported id type"):
        S._cell_pair_dots(emb, emb)


ANN_QUERIES = (
    "q_cosine_topk", "q_ann_bucketed", "q_ann_multiprobe",
    "q_ann_ivf", "q_ann_ivf_nprobe", "q_ann_multitable",
)


@pytest.fixture(scope="module")
def oracle_gate(sf_dir):
    """(check_oracle module, DuckDB connection over the sf_dir tables)."""
    import importlib.util
    from pathlib import Path

    import duckdb

    path = Path(__file__).resolve().parent.parent / "scripts" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield co, con
    con.close()


@pytest.mark.parametrize("name", ANN_QUERIES)
def test_ann_query_matches_duckdb_oracle(spark, sf_dir, oracle_gate, name):
    """Every consumer of the pair kernel returns exactly its DuckDB
    oracle's rows: same columns, same row count, float cells equal to the
    last bit (a near-miss is reported as NEAR and still fails)."""
    from platform_etl_backend_spark.catalog import QUERIES

    co, con = oracle_gate
    s_cols, s_rows = co.rows_of_spark(QUERIES[name].fn(spark, sf_dir))
    d_cols, d_rows = co.rows_of_duck(con, QUERIES[name].oracle)
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows) and s_rows
    bad = [(a, b) for a, b in zip(sorted(s_rows), sorted(d_rows)) if a != b]
    tag = "NEAR" if all(co.near(a, b) for a, b in bad) else "VALUES"
    assert not bad, f"{tag} mismatch in {len(bad)}/{len(s_rows)} rows; e.g. {bad[0]}"
