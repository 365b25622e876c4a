"""Similarity search over embedding columns (array<float>).

Per-vector work (norms, centroid scoring, sign buckets) is Catalyst:
``zip_with`` + ``aggregate`` higher-order functions, JVM-side, no Python
boundary per row. Per-PAIR dot products — the quadratic stage of every
top-k / ANN / dedup operator here — go through ONE Arrow kernel,
:func:`_cell_pair_dots`, bit-identical to the Catalyst left fold; the
division by the norms and the 6-dp ROUND stay in Catalyst (:func:`_cos`).

Scale design:
- ``brute_force_topk``: the exact baseline; the corpus hashes into
  blocks (one kernel task each) and the small query set is replicated to
  every block, so cost is O(|corpus|·|queries|) and the corpus crosses
  the network once.
- ``bucketed_ann_top1``: sign-bit bucketing on leading dimensions (a
  fixed random-hyperplane LSH with axis-aligned planes — deterministic
  and oracle-checkable). Candidates pair only within buckets: at 100TB
  the corpus self-join becomes |corpus|·avg_bucket_size instead of
  |corpus|². Recall is tunable via the number of sign bits.
- ``ivf_top1`` / ``ivf_topk``: k-means cells instead of fixed planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.types import IntegerType


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with PRECOMPUTED norms — bit-identical (norm(x) is
    the same left-fold over the same array wherever it is evaluated, so
    the quotient sees the exact same IEEE operands), but in an n×m pair
    join it does ONE 64-dim fold per pair instead of three: compute each
    side's norm once per VECTOR (O(n+m) folds) and reuse it across every
    pair. The quadratic stages of the ANN/near-dup family get 2-4.5x
    lighter for free; round-9 measured at sf0.1: q_embedding_near_dup
    43.9 -> 9.8 s, q_ann_ivf_nprobe 23.9 -> 7.7 s, q_semantic_dedup
    7.5 -> 3.8 s (BENCH_DETAIL_r09 surveyed section)."""
    return dot(a, b) / (na * nb)


def as_double_array(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k: every (query, corpus) pair, windowed rank.
    Pair dots go through the bipartite Arrow kernel (bit-identical to the
    Catalyst fold — see :func:`_cell_pair_dots`), norms are computed once
    per vector."""
    pairs = _pair_cos(bipartite_dots_blocked(queries, corpus, id_col, vec_col))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select("query_id", "rn", "neighbor_id", "cos")
    )


def _centroid_cells(centroids: DataFrame, id_col: str, vec_col: str):
    """(one-row frame holding ALL centroids as an array of (cell_id, cv,
    cn) structs, centroid-id DataType). crossJoin(broadcast(·)) attaches
    the array to every corpus row so nearest-centroid selection runs
    MAP-SIDE — the old shape scored an n×k crossJoin and picked rn=1
    through Window.partitionBy(vid): an Exchange carrying k copies of
    every vector payload just to compare k scalars produced in the same
    task (guide §2.4 — remove shuffles outright). collect_list order is
    nondeterministic, but every consumer selects with a TOTAL tie order
    (score, then cell_id), so the result is array-order-invariant."""
    idt = centroids.schema[id_col].dataType
    c = centroids.select(
        F.col(id_col).alias("cell_id"), as_double_array(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    carr = c.agg(F.collect_list(F.struct("cell_id", "cv", "cn")).alias("cells"))
    return carr, idt


def _scored_cells(vec: Column, vn: Column) -> Column:
    """Per-row (cc, cell_id) structs over the attached centroid array —
    the SAME ROUND(6) cosine_pre expression the n×k crossJoin evaluated,
    so each pair's score is IEEE-bit-identical to the window shape."""
    return F.transform(
        F.col("cells"),
        lambda s: F.struct(
            F.round(cosine_pre(vec, s["cv"], vn, s["cn"]), 6).alias("cc"),
            s["cell_id"].alias("cell_id"),
        ),
    )


def _best_cell(scored: Column, idt) -> Column:
    """Argmax with the (cc DESC, cell_id ASC) total order — the fold twin
    of ``row_number() == 1`` over that window ordering. Primitive double
    >/= comparisons match the window's sort order on every value these
    scores take (ROUND(6) cosines in [-1, 1]; no NaNs — a NaN or a
    -0.0/0.0 max tie would diverge, and the oracle gate would catch it)."""
    init = F.struct(
        F.lit(float("-inf")).alias("cc"), F.lit(None).cast(idt).alias("cell_id")
    )
    return F.aggregate(
        scored,
        init,
        lambda acc, x: F.when(
            (x["cc"] > acc["cc"])
            | ((x["cc"] == acc["cc"]) & (x["cell_id"] < acc["cell_id"])),
            x,
        ).otherwise(acc),
    )


def _cells_sorted(scored: Column) -> Column:
    """The full (cc DESC, cell_id ASC) ordering of the attached centroid
    scores — for consumers that need more than the argmax (top-nprobe
    probes, silhouette's second-best)."""
    return F.array_sort(
        scored,
        lambda l, r: F.when(l["cc"] > r["cc"], F.lit(-1))
        .when(l["cc"] < r["cc"], F.lit(1))
        .when(l["cell_id"] < r["cell_id"], F.lit(-1))
        .when(l["cell_id"] > r["cell_id"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def _ivf_assign_n(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer):
    (vid, vec, vn, cell_id), carrying each vector's norm ``vn`` so
    downstream pair scoring computes it once per vector. Assignment is
    one map-side argmax fold over the broadcast centroid array — no
    corpus self-join, zero exchanges (see ``_centroid_cells``). Any
    deterministic centroid set plugs in (``kmeans_fit`` at scale)."""
    carr, idt = _centroid_cells(centroids, id_col, vec_col)
    v = corpus.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec")
    ).withColumn("vn", norm(F.col("vec")))
    best = _best_cell(_scored_cells(F.col("vec"), F.col("vn")), idt)
    return v.crossJoin(F.broadcast(carr)).select(
        "vid", "vec", "vn", best["cell_id"].alias("cell_id")
    )


def _cell_pair_dots(queries: DataFrame, index: DataFrame) -> DataFrame:
    """RAW dot products of every (query, vector) pair sharing a cell, via
    an Arrow per-cell kernel. Inputs: ``queries`` (id, vec, n, cell_id) —
    a vector may probe several cells — and ``index`` (id, vec, n, cell_id),
    one cell per vector. Output: (query_id, neighbor_id, dot, qn, bn),
    self-pairs included (callers filter).

    WHY a pandas kernel (the documented CDC/Gram-kernel exception — the
    no-UDF rule's one carve-out): Catalyst's higher-order functions do
    not participate in whole-stage codegen, so the per-pair 64-dim
    zip_with+aggregate fold interprets ~5.6 µs/pair (measured: 1.0M pairs
    = 5.6 s of the 7.0 s q_ann_ivf_nprobe wall). The kernel streams each
    cell's (queries × vectors) block through numpy with SEQUENTIAL-ORDER
    accumulation — 64 vectorized passes adding ``a[j]*b[j]`` in index
    order, the exact IEEE operation order of the Catalyst left fold and
    the DuckDB loop, so the result is BIT-IDENTICAL, not just close
    (np.matmul/BLAS pairwise summation would NOT be). Division by the
    norms and the 6-dp ROUND stay in Catalyst, unchanged. Measured at
    sf0.1: q_ann_ivf_nprobe 7.0 -> 1.5 s warm.

    Memory shape: BOTH pair axes are chunked (4096 × 4096), so the dense
    score block is bounded (~134 MB of float64) however large a cell
    gets. The group's pair OUTPUT, though, is inherently
    O(|cell_q| · |cell_v|) rows — the same pair volume an equi-join on
    cell_id would shuffle, materialized chunk by chunk on the worker
    before Arrow hands it back. Callers must bound cell sizes BY
    CONSTRUCTION (the IVF k-grows-with-corpus rule; ``bucket_stats`` as
    the pre-flight audit before ``bucketed_ann_top1``; block tiling in
    ``all_pairs_dots_blocked``): a hot cell is a cost problem for a join
    and the kernel alike, and the kernel concentrates it on one task. At
    cluster scale each cell group is one task — the same per-cell
    parallelism as an equi-join.

    Ids pass through untouched and may be any integral or string type
    (the output schema mirrors each side's id type); other types raise —
    cast such an id to an integral or string type first.
    """
    import numpy as np
    import pandas as pd

    _ID_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}
    qt = queries.schema["id"].dataType.simpleString()
    vt = index.schema["id"].dataType.simpleString()
    if qt not in _ID_TYPES or vt not in _ID_TYPES:
        raise TypeError(
            f"_cell_pair_dots: unsupported id type (query={qt}, index={vt});"
            " cast the id to an integral or string type"
        )

    q = queries.select("id", "vec", "n", "cell_id", F.lit("q").alias("role"))
    v = index.select("id", "vec", "n", "cell_id", F.lit("v").alias("role"))

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["role"] == "q"]
        vs = pdf[pdf["role"] == "v"]
        if qs.empty or vs.empty:
            return pd.DataFrame({
                "query_id": qs["id"].iloc[:0],
                "neighbor_id": vs["id"].iloc[:0],
                "dot": pd.Series([], dtype="float64"),
                "qn": pd.Series([], dtype="float64"),
                "bn": pd.Series([], dtype="float64"),
            })
        Q = np.stack(qs["vec"].to_numpy())
        V = np.stack(vs["vec"].to_numpy())
        qn, bn = qs["n"].to_numpy(), vs["n"].to_numpy()
        qid, bid = qs["id"].to_numpy(), vs["id"].to_numpy()
        out, CH = [], 4096
        for s0 in range(0, len(Q), CH):
            Qc = Q[s0:s0 + CH]
            for t0 in range(0, len(V), CH):
                Vc = V[t0:t0 + CH]
                acc = np.zeros((len(Qc), len(Vc)))
                for j in range(Q.shape[1]):  # sequential order == the fold
                    acc += Qc[:, j:j + 1] * Vc[:, j]
                m, p = acc.shape
                out.append(pd.DataFrame({
                    "query_id": np.repeat(qid[s0:s0 + CH], p),
                    "neighbor_id": np.tile(bid[t0:t0 + CH], m),
                    "dot": acc.ravel(),
                    "qn": np.repeat(qn[s0:s0 + CH], p),
                    "bn": np.tile(bn[t0:t0 + CH], m),
                }))
        return pd.concat(out, ignore_index=True)

    return q.unionByName(v).groupBy("cell_id").applyInPandas(
        score_cell,
        f"query_id {qt}, neighbor_id {vt}, dot double, qn double, bn double",
    )


def _cos() -> Column:
    """``round(dot / (qn * bn), 6)`` over :func:`_cell_pair_dots` output —
    the one cosine every pair consumer ranks or thresholds on. The
    division and the ROUND stay in Catalyst, over the kernel's
    bit-identical raw dots."""
    return F.round(F.col("dot") / (F.col("qn") * F.col("bn")), 6)


def _pair_cos(dots: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos) from :func:`_cell_pair_dots` output,
    self-pairs dropped."""
    return dots.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", _cos().alias("cos")
    )


def all_pairs_dots_blocked(
    vectors: DataFrame, id_col: str, vec_col: str, blocks: int = 16
) -> DataFrame:
    """EXACT all-pairs dot products by block tiling over the Arrow cell
    kernel — the distributed-GEMM shape for the quadratic baseline paths.

    Each vector hashes to one of ``blocks`` row-blocks; every unordered
    pair lives in exactly one of the B(B+1)/2 block-pair cells (query
    side replicates to cells (g, j>=g), index side to (i<=g, g)), so the
    n² work splits into independent tasks of ~ (n/B)² pairs each — the
    parallelism knob at scale is B ~ sqrt(cores). Output (query_id,
    neighbor_id, dot, qn, bn): every unordered pair ONCE, self-pairs and
    within-block duplicates already filtered; dot is bit-identical to the
    Catalyst fold in either orientation (per-element products and the
    index-ordered sum are commutative-safe). Arrow transfer is ~B copies
    of the (id, vec, norm) corpus — linear, never the pair set.
    """
    B = blocks
    v = vectors.select(
        F.col(id_col).alias("id"),
        as_double_array(vec_col).alias("vec"),
    ).withColumn("n", norm(F.col("vec"))).withColumn(
        "g", F.pmod(F.xxhash64("id"), F.lit(B)).cast("int")
    )
    q = v.select(
        "id", "vec", "n",
        F.explode(F.sequence(F.col("g"), F.lit(B - 1))).alias("j"), "g",
    ).select("id", "vec", "n", (F.col("g") * B + F.col("j")).alias("cell_id"))
    ix = v.select(
        "id", "vec", "n",
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("i"), "g",
    ).select("id", "vec", "n", (F.col("i") * B + F.col("g")).alias("cell_id"))
    dots = _cell_pair_dots(q, ix)
    # off-diagonal cells hold each cross-block pair once; diagonal cells
    # hold both orientations + self-pairs — one predicate covers both
    gq = F.pmod(F.xxhash64(F.col("query_id")), F.lit(B))
    gn = F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(B))
    return dots.where(
        (gq < gn) | ((gq == gn) & (F.col("query_id") < F.col("neighbor_id")))
    )


def bipartite_dots_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """RAW dot products of EVERY (query, corpus) pair — the bipartite twin
    of :func:`all_pairs_dots_blocked`: the corpus hashes into 16
    row-blocks (one kernel task each), the query side replicates to every
    block (queries are the small side by contract, exactly the frame
    brute_force_topk broadcasts today). Output (query_id, neighbor_id,
    dot, qn, bn), one row per ordered pair, self-pairs included."""
    B = 16
    q = queries.select(
        F.col(id_col).alias("id"),
        as_double_array(vec_col).alias("vec"),
    ).withColumn("n", norm(F.col("vec"))).select(
        "id", "vec", "n",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("cell_id"),
    )
    ix = corpus.select(
        F.col(id_col).alias("id"),
        as_double_array(vec_col).alias("vec"),
    ).withColumn("n", norm(F.col("vec"))).withColumn(
        "cell_id", F.pmod(F.xxhash64("id"), F.lit(B)).cast("int")
    )
    return _cell_pair_dots(q, ix)


def ivf_top1(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF ANN (nprobe=1): candidates share the assigned centroid cell, so
    the pair work is bounded by cell sizes instead of |corpus|²; pair dots
    via the Arrow cell kernel (bit-identical — see :func:`_cell_pair_dots`)."""
    assigned = _ivf_assign_n(corpus, centroids, id_col, vec_col)
    side = assigned.select(F.col("vid").alias("id"), "vec",
                           F.col("vn").alias("n"), "cell_id")
    pairs = _pair_cos(_cell_pair_dots(side, side))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "cos")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN with multi-cell probing — the FAISS-style search shape.

    The corpus index stays one-cell-per-vector (``_ivf_assign_n``); each QUERY
    fans out to its ``nprobe`` highest-cosine cells, so recall rises at a
    bounded ``nprobe``× candidate-cost multiplier (query side only — the
    index is untouched, and a neighbor can appear through at most one probe
    because it lives in exactly one cell, so no dedup pass is needed).
    Returns the per-query top neighbor with its rank ``rk`` (always 1).

    Scale shape: centroids broadcast twice (assignment + probe selection),
    one kernel group per cell_id bounded by cell sizes × nprobe, one
    windowed top-k. Same plan family as ``ivf_top1`` — no quadratic path
    at any nprobe.
    """
    assigned = _ivf_assign_n(corpus, centroids, id_col, vec_col)
    carr, _idt = _centroid_cells(centroids, id_col, vec_col)
    v = corpus.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec")
    ).withColumn("vn", norm(F.col("vec")))
    # top-nprobe probe cells map-side: sort the attached centroid scores
    # (cc DESC, cell_id ASC) and explode the first nprobe — the fold twin
    # of row_number() <= nprobe over the old n×k window (guide §2.4);
    # slice past the array end returns the whole array, matching the
    # window's behavior when nprobe > |cells|.
    sortd = _cells_sorted(_scored_cells(F.col("vec"), F.col("vn")))
    probes_n = (
        v.crossJoin(F.broadcast(carr))
        .select(
            "vid", "vec", "vn",
            F.explode(F.slice(sortd, 1, nprobe)).alias("p"),
        )
        .select("vid", "vec", "vn", F.col("p.cell_id").alias("cell_id"))
    )
    pairs = _pair_cos(_cell_pair_dots(
        probes_n.select(F.col("vid").alias("id"), "vec",
                        F.col("vn").alias("n"), "cell_id"),
        assigned.select(F.col("vid").alias("id"), "vec",
                        F.col("vn").alias("n"), "cell_id"),
    ))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 1)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def _first_by_hash(v: DataFrame, k: int, *cols) -> DataFrame:
    """The ``k`` rows of ``v`` first in md5(vid) order, numbered 0.. as
    ``cell_id``, with ``cols``: the deterministic centroid seeding."""
    return (
        v.withColumn("_h", F.md5(F.col("vid").cast("string")))
        .orderBy("_h", "vid")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("_h", "vid")) - 1).alias("cell_id"),
            *cols,
        )
    )


def _centroid_means(assigned: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """Per ``keys`` group, the mean of the ``vec`` arrays as ``cvec`` (per
    dimension DECIMAL sums, so the mean is order-free), checkpointed."""
    dims = (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    return (
        dims.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
            ).alias("cvec")
        )
        .localCheckpoint()
    )


def kmeans_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer — makes
    the IVF path self-contained instead of borrowing arbitrary vectors as
    centroids.

    Determinism at any parallelism (the whole point vs MLlib's KMeans,
    whose random init and double-sum order vary by partitioning):
    - init: the k vectors with smallest md5(id) (bottom-k hash rank — a
      uniform deterministic sample);
    - assignment: argmax cosine ROUNDED to 6 d.p., ties by cell id;
    - update: per-dimension means via DECIMAL sums (distributed sum order
      cannot change the result), divided once in IEEE double.

    Scale shape: centroids are k rows — broadcast to every assignment pass;
    the update is one (cell, dim)-keyed aggregation, linear per iteration;
    ``iters`` is fixed (no convergence collect). Empty cells drop out
    deterministically. At 100 TB you fit on a bottom-k hash SAMPLE of the
    corpus (same operator, sampled input) and assign the full data once.
    """
    v = corpus.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec")
    ).withColumn("vn", norm(F.col("vec")))  # one fold per vector, reused k× per iter
    cents = _first_by_hash(v, k, F.col("vec").alias("cvec")).localCheckpoint()
    for _ in range(iters):
        # map-side argmax over the broadcast centroid array (same ROUND(6)
        # cosine_pre per pair, (cc DESC, cell_id ASC) total order — the
        # fold twin of the old n×k window; see _centroid_cells)
        carr = (
            cents.withColumn("cn", norm(F.col("cvec")))
            .agg(
                F.collect_list(
                    F.struct("cell_id", F.col("cvec").alias("cv"), "cn")
                ).alias("cells")
            )
        )
        best = _best_cell(
            _scored_cells(F.col("vec"), F.col("vn")), IntegerType()
        )
        assigned = v.crossJoin(F.broadcast(carr)).select(
            "vid", "vec", best["cell_id"].alias("cell_id")
        )
        cents = _centroid_means(assigned, ["cell_id"], "vec")
    return cents.select("cell_id", F.col("cvec").alias("vec"))


def sign_bucket(vec: Column, nbits: int, offset: int = 0) -> Column:
    """LSH bucket id from the sign bits of ``nbits`` dimensions starting at
    ``offset`` (0-based) — ``offset`` selects the plane block for one hash
    table of a multi-table scheme."""
    acc = F.lit(0)
    for i in range(nbits):
        acc = acc + F.when(
            F.element_at(vec, offset + i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return acc.cast("int")


def multitable_ann_top1(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nbits: int = 4,
    tables: int = 2,
) -> DataFrame:
    """Multi-TABLE sign-bit LSH (OR-amplification): ``tables`` independent
    hash tables, table ℓ bucketing on dimension block [ℓ·nbits, (ℓ+1)·nbits).
    A candidate pair is considered if it collides in ANY table — recall
    composes as 1-(1-p)^L across independent projections, the classic LSH
    amplification that multi-probe (Hamming-neighbor fan-out within ONE
    table) does not give.

    Cost is honest and bounded: both sides explode to L (table, bucket)
    keys → the join input is L× corpus rows, candidates are
    Σ_ℓ Σ_buckets n², deduped before scoring. Still never |corpus|².

    Pair dots go through the Arrow cell kernel (bit-identical —
    :func:`_cell_pair_dots`), keyed on the composite (table, bucket) cell
    ``tbl·2^nbits + bkt``. A pair colliding in several tables is scored
    once per table and collapsed by a post-cos ``distinct``.
    """
    n = corpus.sparkSession.sparkContext.defaultParallelism
    v = corpus.repartition(n).select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec")
    )
    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                sign_bucket(F.col("vec"), nbits, offset=t * nbits).alias("bkt"),
            )
            for t in range(tables)
        ]
    )
    keyed = (
        v.withColumn("vn", norm(F.col("vec")))
        .select("vid", "vec", "vn", F.explode(keys).alias("k"))
        .select("vid", "vec", "vn",
                F.col("k.tbl").alias("tbl"), F.col("k.bkt").alias("bkt"))
    )
    cell = (F.col("tbl") * F.lit(1 << nbits) + F.col("bkt")).cast("int")
    side = keyed.select(F.col("vid").alias("id"), "vec",
                        F.col("vn").alias("n"), cell.alias("cell_id"))
    pairs = _pair_cos(_cell_pair_dots(side, side)).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "cos")
    )


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth trade
    every embedding pipeline makes before ANN serving (4× smaller than fp32,
    8× than fp64): ``scale = max|v|/127``, ``q_i = round(v_i/scale)``.

    Pure Catalyst (HOFs over the array — no Python boundary); emits the
    quantized codes '|'-serialized (canonicalizer-proof), the scale, and the
    L2 reconstruction error so quantization quality is measurable per
    vector. Zero vectors pass through with scale 0 and empty-equivalent
    codes of zeros. Map-side only — zero shuffle at any corpus size.
    """
    v = as_double_array(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = absmax / F.lit(127.0)
    q = F.transform(v, lambda x: F.when(F.lit(True) & (absmax > 0),
                                        F.round(x / scale, 0).cast("int"))
                    .otherwise(F.lit(0)))
    recon_err = F.sqrt(
        F.aggregate(
            F.zip_with(v, q, lambda x, c: (x - c.cast("double") * scale)
                       * (x - c.cast("double") * scale)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
    )
    return df.select(
        F.col(id_col),
        F.concat_ws("|", F.transform(q, lambda c: c.cast("string"))).alias("codes"),
        F.round(scale, 6).alias("scale"),
        F.round(recon_err, 6).alias("l2_err"),
    )


def bucket_stats(
    corpus: DataFrame, vec_col: str, nbits: int
) -> DataFrame:
    """Pre-flight skew audit for sign-bit LSH: per-bucket population.

    The within-bucket self-join costs Σ bucket_size² pairs; one hot bucket
    (correlated leading dimensions — common in real embedding spaces)
    reintroduces a quadratic island. Run this BEFORE ``bucketed_ann_top1``
    at a new scale / on a new embedding family: if ``max(n)`` is a large
    fraction of the corpus, raise ``nbits`` or use the IVF path
    (``ivf_top1``), whose cells follow the data distribution instead of
    fixed axis-aligned planes. Returns one row per bucket with its count;
    aggregate max/Σn² on top as needed.
    """
    v = corpus.select(sign_bucket(as_double_array(vec_col), nbits).alias("bucket"))
    return v.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


def bucketed_ann_top1(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nbits: int = 4,
    probes: int = 0,
) -> DataFrame:
    """Approximate nearest neighbor: candidates share the sign-bit bucket.
    In-bucket pair dots go through the Arrow cell kernel (bit-identical —
    :func:`_cell_pair_dots`).
    Run :func:`bucket_stats` as the pre-flight audit at a new scale or on
    a new embedding family: one hot bucket concentrates O(bucket²) pair
    work on one kernel task exactly as it would on one join partition.

    ``probes > 0`` enables MULTI-PROBE: each query additionally searches
    the ``probes`` buckets at Hamming distance 1 whose flipped dimension
    has the SMALLEST |value| — the planes the vector sits closest to, i.e.
    the flips most likely to hide a true neighbor (the standard multi-probe
    LSH heuristic). This recovers most of the recall that single-table
    sign-bit LSH loses as nbits grows (see tests/test_ann_skew.py), at a
    candidate-cost multiplier of (1+probes) — still bucket-bounded, never
    |corpus|². Only the query side fans out; the corpus index is unchanged.
    """
    n = corpus.sparkSession.sparkContext.defaultParallelism
    v = (
        corpus.repartition(n)
        .select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec"))
        .withColumn("vn", norm(F.col("vec")))
        .withColumn("bucket", sign_bucket(F.col("vec"), nbits))
    )
    if probes > 0:
        # rank dimensions by |value| asc; flip the `probes` closest planes
        absvals = F.transform(
            F.slice(F.col("vec"), 1, nbits),
            lambda x, i: F.struct(F.abs(x).alias("a"), i.alias("i")),
        )
        flips = F.slice(F.array_sort(absvals), 1, probes)
        probe_buckets = F.concat(
            F.array(F.col("bucket")),
            F.transform(
                flips,
                # 2^i as int (exact for i < 31); shiftleft needs a literal
                lambda s: F.col("bucket").bitwiseXOR(
                    F.pow(F.lit(2.0), s["i"]).cast("int")
                ),
            ),
        )
        a = v.select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("qv"),
            F.col("vn").alias("qn"),
            F.explode(probe_buckets).alias("bucket"),
        )
    else:
        a = v.select(F.col("vid").alias("query_id"), F.col("vec").alias("qv"),
                     F.col("vn").alias("qn"), "bucket")
    b = v.select(F.col("vid").alias("neighbor_id"), F.col("vec").alias("bv"),
                 F.col("vn").alias("bn"), "bucket")
    pairs = _pair_cos(_cell_pair_dots(
        a.select(F.col("query_id").alias("id"), F.col("qv").alias("vec"),
                 F.col("qn").alias("n"), F.col("bucket").alias("cell_id")),
        b.select(F.col("neighbor_id").alias("id"), F.col("bv").alias("vec"),
                 F.col("bn").alias("n"), F.col("bucket").alias("cell_id")),
    ))
    if probes > 0:
        pairs = pairs.distinct()  # a neighbor may appear via several probes
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "cos")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.9,
    max_pair_cost: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv:2303.09540): cluster the embedding space with the deterministic
    k-means quantizer, then within each cluster drop every vector that has
    a same-cell neighbor with smaller id and cosine >= threshold (the
    keep-first greedy rule, made deterministic by the id order).

    Scale shape: the expensive pairwise step never leaves a cell — cost is
    Σ|cell|² not |corpus|², exactly the IVF bound — which is safe ONLY when
    k grows with the corpus. The scale bound is therefore ENFORCED here,
    not just documented:

    - ``k=None`` (the default) picks ``k = max(1, isqrt(n))`` from one
      cheap count of the corpus, so the expected per-cell population is
      ~√n and Σcell² ~ n^1.5 instead of n²;
    - ``max_pair_cost`` (optional) computes the ACTUAL Σ|cell|² after
      assignment (one small aggregation over cell counts) and raises
      ``ValueError`` when an undersized ``k`` or a skewed clustering would
      exceed it — fail fast instead of launching a quadratic stage.

    Returns per-cell summary: (cell_id, n_vectors, n_dropped, dropped)
    with dropped a '|'-serialized sorted id list (canonicalizer-proof).
    """
    import math

    if k is None:
        k = max(1, math.isqrt(corpus.count()))
    cents = kmeans_fit(corpus, id_col, vec_col, k=k, iters=iters).select(
        F.col("cell_id").alias(id_col), F.col("vec").alias(vec_col)
    )
    assigned = _ivf_assign_n(corpus, cents, id_col, vec_col)
    if max_pair_cost is not None:
        cost_row = (
            assigned.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.col("n") * F.col("n")).alias("cost"))
            .first()
        )
        cost = int(cost_row["cost"] or 0)
        if cost > max_pair_cost:
            raise ValueError(
                f"semantic_dedup: within-cell pair cost {cost} exceeds "
                f"max_pair_cost={max_pair_cost}; raise k (~sqrt(n), got k={k}) "
                "or the bound"
            )
    # within-cell pairs through the Arrow cell kernel (bit-identical raw
    # dots; the rounded-quotient threshold stays in Catalyst — see
    # _cell_pair_dots for why the interpreted HOF fold loses here)
    side = assigned.select(F.col("vid").alias("id"), "vec",
                           F.col("vn").alias("n"), "cell_id")
    dropped = (
        _cell_pair_dots(side, side)
        .where(F.col("query_id") < F.col("neighbor_id"))
        .where(_cos() >= threshold)
        .select(F.col("neighbor_id").alias("vid"))
        .distinct()
    )
    flagged = assigned.join(
        dropped.withColumn("is_dropped", F.lit(1)), "vid", "left"
    )
    return flagged.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.coalesce(F.sum("is_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(
                    F.collect_list(F.when(F.col("is_dropped") == 1, F.col("vid")))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("dropped"),
    )


def covariance_power_sums(
    df: DataFrame, vec_col: str
) -> DataFrame:
    """Partial power sums for the embedding covariance matrix via an
    Arrow-batched numpy Gram product — the one place a pandas boundary
    beats Catalyst by design, documented per the repo rule: the relational
    formulation must EXPLODE d(d+1)/2 pair rows per vector (104M rows at
    sf0.1, observed 31.8s), while each Arrow batch here is one int64
    ``Q.T @ Q`` matmul emitting d² partial rows per BATCH (observed 0.5s;
    the classic BLAS-shaped kernel).

    Determinism: vectors are quantized exactly like the Catalyst path —
    ``floor(v * 1e6)`` on float64, bit-identical in numpy — and every
    partial is an exact int64 sum, so the merged totals are
    partitioning-invariant integers. The merge-side sums ride
    DECIMAL(38,0) so corpus-scale totals cannot overflow int64 (each
    per-batch partial is bounded by batch size × max|q|²).

    Returns (i, j, n, si, sj, sij) partials for i <= j; callers groupBy
    (i, j) and combine — the shuffle carries only d² groups per batch.
    """
    import numpy as np
    import pandas as pd

    schema = "i int, j int, n bigint, si bigint, sj bigint, sij bigint"

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            q = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * 1000000.0
            ).astype(np.int64)
            n, d = q.shape
            gram = q.T @ q
            s = q.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "n": np.full(len(iu), n, dtype="int64"),
                    "si": s[iu],
                    "sj": s[ju],
                    "sij": gram[iu, ju],
                }
            )

    return df.select(vec_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (Achlioptas 2001: +-1 sign
# matrix — "database-friendly random projections"). Deterministic and
# engine-portable by construction: the sign matrix entries come from md5
# parity (md5('jl:i:j') — identical in hashlib, Spark, and DuckDB), and
# vectors are micro-unit quantized (floor(v*1e6) BIGINT) so every
# projected coordinate is an EXACT integer dot product — no float
# accumulation anywhere. The hot path is an Arrow int64 matmul (the
# covariance-kernel precedent: per-element numeric work is where
# interpreted HOFs lose 30x+); the oracle recomputes relationally from
# the same md5 rule.
# ---------------------------------------------------------------------------

JL_OUT_DIMS = 16
JL_IN_DIMS = 64


def jl_sign(i: int, j: int) -> int:
    """+1/-1 from the parity of the first hex char of md5('jl:i:j')."""
    import hashlib

    h = hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def jl_sign_matrix() -> "np.ndarray":
    import numpy as np

    return np.array(
        [[jl_sign(i, j) for j in range(1, JL_IN_DIMS + 1)] for i in range(1, JL_OUT_DIMS + 1)],
        dtype=np.int64,
    )


def jl_project(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, y1..y4 micro BIGINT, norm_ratio double): projected coordinates
    (first 4 of 16 for a bounded schema) and the norm-preservation ratio
    (||y||^2/d_out) / ||q||^2 that the JL lemma bounds around 1."""
    import numpy as np

    sign = jl_sign_matrix()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids, cols, ratios = [], [[] for _ in range(4)], []
            for vid, vec in zip(pdf[id_col], pdf[vec_col]):
                q = np.floor(np.asarray(vec, dtype=np.float64) * 1e6).astype(np.int64)
                y = sign @ q  # exact int64: |q|<=1e6ish, 64 terms
                ids.append(vid)
                for c in range(4):
                    cols[c].append(int(y[c]))
                qq = int(q @ q)
                yy = int(y @ y)
                ratios.append((yy / float(JL_OUT_DIMS)) / qq if qq else 0.0)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "y1_micro": cols[0],
                    "y2_micro": cols[1],
                    "y3_micro": cols[2],
                    "y4_micro": cols[3],
                    "norm_ratio": ratios,
                }
            )

    schema = (
        f"{id_col} bigint, y1_micro bigint, y2_micro bigint, "
        f"y3_micro bigint, y4_micro bigint, norm_ratio double"
    )
    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# Product quantization (Jegou et al., PAMI 2011) — the third ANN family
# beside LSH and IVF: split vectors into M subspaces, k-means each
# subspace, store each vector as M one-byte codes, and answer queries via
# asymmetric distance computation (ADC) — a table lookup per subspace
# instead of a full-dimension scan. Deterministic by the same conventions
# as kmeans_fit (bottom-k md5 init, ROUND(6) argmin with cell-id ties,
# decimal-sum centroid means); ADC sums ride DECIMAL(18,6) so the
# M-term reduction is order-free. Scale shape: codebooks are M*K rows
# (broadcast everywhere); encoding is one pass over the corpus; the ADC
# join fans out per query to M rows, never |corpus|^2.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_DSUB = 16  # dims per subspace (M * DSUB = 64)
PQ_K = 8  # centroids per subspace
PQ_ITERS = 2  # Lloyd rounds of the codebook fit


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential fold (same op order as the
    oracle's list_sum comprehension)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sub(vec: Column, s: int) -> Column:
    return F.slice(vec, s * PQ_DSUB + 1, PQ_DSUB)


def _best_code(cells: Column, sv: Column) -> Column:
    """Nearest-codeword argmin over the attached per-subspace codebook
    array — (d ASC, cell_id ASC) total order, the fold twin of
    ``row_number() == 1`` over the old (vid, s) window (guide §2.4: the
    window exchanged K copies of every sub-vector payload to compare K
    scalars computed in the same task). Same ROUND(6) l2sq per pair —
    IEEE-bit-identical scores; collect order cannot matter under the
    total tie order."""
    scored = F.transform(
        cells,
        lambda c: F.struct(
            F.round(l2sq(sv, c["cvec"]), 6).alias("d"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    init = F.struct(
        F.lit(float("inf")).alias("d"),
        F.lit(None).cast(IntegerType()).alias("cell_id"),
    )
    return F.aggregate(
        scored,
        init,
        lambda acc, x: F.when(
            (x["d"] < acc["d"])
            | ((x["d"] == acc["d"]) & (x["cell_id"] < acc["cell_id"])),
            x,
        ).otherwise(acc),
    )


def _subspaces(name: str) -> Column:
    """One row ``e`` per PQ subspace of ``vec``: struct of the subspace
    index ``s`` and its slice, named ``name``."""
    return F.explode(
        F.array(*[
            F.struct(F.lit(s).alias("s"), _sub(F.col("vec"), s).alias(name))
            for s in range(PQ_M)
        ])
    ).alias("e")


def _codebook_cells(codebooks: DataFrame) -> DataFrame:
    """(s, cells): each subspace's codebook collected into one array row —
    broadcast-joined on ``s`` so code assignment is map-side."""
    return codebooks.groupBy("s").agg(
        F.collect_list(F.struct("cell_id", "cvec")).alias("cells")
    )


def pq_fit_codebooks(
    corpus: DataFrame, id_col: str, vec_col: str, iters: int = 2
) -> DataFrame:
    """(s, cell_id, cvec): one K-centroid codebook per subspace, fitted
    with deterministic Lloyd iterations under ROUND(6)-L2 argmin."""
    v = corpus.select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec"))
    subs = v.select("vid", _subspaces("sv")).select("vid", "e.s", "e.sv")
    init = _first_by_hash(v, PQ_K, "vec")
    cents = init.select(_subspaces("cvec"), "cell_id").select(
        "e.s", "cell_id", "e.cvec"
    ).localCheckpoint()
    for _ in range(iters):
        best = _best_code(F.col("cells"), F.col("sv"))
        assigned = subs.join(F.broadcast(_codebook_cells(cents)), "s").select(
            "vid", "s", "sv", best["cell_id"].alias("cell_id")
        )
        cents = _centroid_means(assigned, ["s", "cell_id"], "sv")
    return cents


def pq_encode(
    corpus: DataFrame, codebooks: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(vid, s, code, sub_err): per-subspace nearest-centroid code and the
    ROUND(6) quantization error that code costs."""
    v = corpus.select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec"))
    subs = v.select("vid", _subspaces("sv")).select("vid", "e.s", "e.sv")
    best = _best_code(F.col("cells"), F.col("sv"))
    return (
        subs.join(F.broadcast(_codebook_cells(codebooks)), "s")
        # two-step projection: `b` is referenced twice below and
        # CollapseProject will not duplicate a non-cheap fold
        .select("vid", "s", best.alias("b"))
        .select(
            "vid", "s",
            F.col("b.cell_id").alias("code"), F.col("b.d").alias("sub_err"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
) -> DataFrame:
    """ADC search: queries compute an M x K distance table to the
    codebooks, candidates are scored by M table lookups on their codes
    (DECIMAL sum — order-free), per-query top-k by (distance, vid)."""
    books = pq_fit_codebooks(corpus, id_col, vec_col, PQ_ITERS).localCheckpoint()
    codes = pq_encode(corpus, books, id_col, vec_col).select("vid", "s", "code")
    v = corpus.select(F.col(id_col).alias("qid"), as_double_array(vec_col).alias("vec"))
    queries = v.where(query_pred)
    qsubs = queries.select(
        "qid",
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("s"), _sub(F.col("vec"), s).alias("qv"))
                for s in range(PQ_M)
            ])
        ).alias("e"),
    ).select("qid", "e.s", "e.qv")
    dtable = qsubs.join(F.broadcast(books), "s").select(
        "qid", "s", F.col("cell_id").alias("code"),
        F.round(l2sq(F.col("qv"), F.col("cvec")), 6).alias("d"),
    )
    scored = (
        codes.join(F.broadcast(dtable), ["s", "code"])
        .where(F.col("qid") != F.col("vid"))
        .groupBy("qid", "vid")
        .agg(F.sum(F.col("d").cast("decimal(18,6)")).cast("double").alias("adc_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("vid"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select(
            F.col("qid").alias("query_id"), "rn",
            F.col("vid").alias("neighbor_id"), "adc_dist",
        )
    )
