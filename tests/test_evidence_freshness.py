"""Driver-evidence freshness gate (round-9 VERDICT #2; rotation
auto-derivation round-11 VERDICT #7): the rotation protocol used to live
as prose in ``catalog/__init__.py``; this test makes it CI, the way the
shared-fragment pin registry did for oracle fragments.

Mechanics
---------
The committed ``CORRECTNESS_r*.json`` files are the driver's evidence
record; the "current round" is the newest committed file + 1 (the window
in ``catalog._DRIVER_WINDOW`` is what the CURRENT round's driver will
check, so in-window queries project to current-round evidence).

Enforced rules:
1. **No structural lag** — every registered query either has some driver
   evidence already or sits in the current window.
2. **Deterministic rotation, zero hand-curated lists** — the stale set
   (hash-checkable queries whose evidence age exceeds
   ``MAX_EVIDENCE_AGE_ROUNDS``) is ordered deterministically (oldest
   evidence round first, then alphabetical). After the *fronted* slots
   (new queries with no evidence + changed contracts newer than their
   evidence), the window MUST consume exactly the prefix of that order
   that fits. Stale queries that don't fit are exempt *automatically* —
   there is no ``NEXT_WINDOW_STAGED`` list to maintain. Dropping a
   prefix member from the window (or wasting a slot on a voluntary
   re-check while stale rows remain) fails CI.
3. **Changed contracts get a slot** — any entry in ``CHANGED_CONTRACTS``
   whose change round is newer than its latest driver evidence must be in
   the current window. Record every output-contract or plan-shape change
   there in the same commit that makes it (CLAUDE.md hard rule).

With 349 registered queries and a 50-slot window the steady-state
evidence age is ceil(349/50) = 7 rounds, above the 6-round bound — the
automatic exemption (rule 2) is what absorbs that structural gap, while
still forcing maximal per-round progress through the backlog.
"""

from __future__ import annotations

import glob
import json
import os
import re

from platform_etl_backend_spark.catalog import QUERIES
from platform_etl_backend_spark.catalog import _DRIVER_WINDOW

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A query's driver evidence may be at most this many rounds old (counting
# the current window as current-round evidence) before it must compete
# for a window slot under the deterministic rotation order.
MAX_EVIDENCE_AGE_ROUNDS = 6

# {query: round its output contract / plan shape last changed}. Append in
# the same commit as the change; the query must then hold a window slot
# until the driver re-checks it.
CHANGED_CONTRACTS: dict[str, int] = {
    # flatten_cat gained the reference's trim+comma element normalization
    # (Helpers.scala:154-167) in round 10.
    "q_flatten_cat_labels": 10,
    # round-10 fuzzy-verify rewire (bounded levenshtein, verify-before-
    # distinct, zip_with+substr transposition, bucket-checkpoint fence);
    # round-11: the in-bucket pair expansion moved from nested transform/
    # flatten lambda HOFs to codegen posexplode+slice+explode (same pair
    # multiset, new plan shape for every _variant_pair_candidates
    # consumer).
    "q_fuzzy_damerau": 11,
    "q_fuzzy_token_join": 11,
    # round-10 fuzzy rewire; round-11: dedup=False feed into CC (one pair
    # dedup shuffle instead of two) + one-pass tail aggregation.
    "q_entity_resolution": 11,
    # round-10 iterative-plan fixes: graph closure path doubling (4 BSP
    # rounds, was 15 one-hop) and logreg's per-step weight checkpoint.
    # round-11 closure-double orchestration rewrite: one distinct+
    # checkpoint job per round (union replaces the left_anti frontier
    # diff) with count-converged detection — new plan shape.
    # q_logreg_gd's round-11 eager=False checkpoints leave the executed
    # plan STRUCTURALLY IDENTICAL (verified: plans/r11/q_logreg_gd_
    # {before,after}.txt differ only in attribute ids), so its entry
    # stays at 10.
    "q_graph_closure": 11,
    "q_logreg_gd": 10,
    # round-10 Arrow cell-pair kernel (bit-identical sequential fold) for
    # the IVF pair-scoring stage. round-11: nearest-centroid assignment
    # (and kmeans_fit's assign step) became a map-side argmax fold over
    # the broadcast centroid array — the n×k crossJoin + per-vid window
    # exchange is gone (same ROUND(6) cosine per pair, (cc DESC, cell_id
    # ASC) total tie order → bit-identical).
    "q_ann_ivf": 11,
    "q_ann_ivf_kmeans": 11,
    "q_ann_ivf_nprobe": 11,
    # round-10 block-tiled all-pairs kernel; round-11 planted
    # deterministic near-duplicates so the 0.95-threshold oracle compares
    # NON-empty frames (the r10 judge flagged the vacuous 0-row slot).
    "q_embedding_near_dup": 11,
    # round-10 within-cell pair stage through the Arrow cell kernel;
    # round-11 map-side centroid argmax (see q_ann_ivf note).
    "q_semantic_dedup": 11,
    # round-11 map-side centroid / codeword argmax rewires (same fold
    # family): silhouette additionally reads own+second-best off ONE
    # sorted centroid-score array (the own⋈oth self-join is gone); the PQ
    # pair use the per-subspace codebook array with an (d ASC, cell_id
    # ASC) argmin fold.
    "q_silhouette_cells": 11,
    "q_davies_bouldin": 11,
    "q_pq_codes": 11,
    "q_pq_adc_topk": 11,
    # round-11 kernel default flip: brute_force_topk / bucketed_ann_top1 /
    # multitable_ann_top1 pair dots now route through the Arrow cell
    # kernel by default (bit-identical; parity pytests pin the twin).
    "q_cosine_topk": 11,
    "q_matryoshka_topk": 11,
    "q_ann_bucketed": 11,
    "q_ann_multiprobe": 11,
    "q_ann_multitable": 11,
    # round-11 connected_components fixpoint-check rewrite (star-forest
    # role-count on the new frame, fires a round earlier) — plan change
    # for every CC consumer. Also round-11: star rounds rewired onto
    # per-neighborhood window minima (one exchange + sort per star phase
    # instead of groupBy(min) + self-join; large-star's intermediate
    # distinct dropped) — labels bit-identical, new plan shape.
    "q_dedup_clusters": 11,
    "q_bipartite_check": 11,
    "q_grid_cluster": 11,
    # round-11: the scorer became the integer fixed-point transformer and
    # the query gained a relational DuckDB oracle (left the rows-only set;
    # output contract changed from float score to bigint logit).
    "q_transformer_rerank": 11,
    # round-11 optimization pass (same output, new plan shape):
    # - retrieval/MAP eval: dl rides the explode map-side (= size(tokens))
    #   and the token stream is filtered to the 8 query terms before the
    #   only aggregation shuffle; the full-corpus tf/dl rollups are gone.
    "q_retrieval_eval": 11,
    "q_map_eval": 11,
    # - PCA power iteration: the 64x64 matrix packs into one row and the
    #   20 matrix-vector rounds run as decimal array folds (value-
    #   identical; was 40 shuffles + 20 checkpoint jobs of orchestration).
    "q_pca_power": 11,
    # - naive bayes / crossval: ONE token-explode pass (tf carries
    #   source/fold; class counts = SUM(tf) off the persisted rollup) and
    #   the actual-label join folds into the per-doc groupBy.
    "q_naive_bayes": 11,
    "q_nb_crossval": 11,
    # - winnowing fingerprint: interpreted array_min∘transform(md5) HOF
    #   → explode positions + codegen md5 + partial-agg min.
    "q_winnow_fingerprint": 11,
    # - viterbi_segment: ~160-deep withColumn chain (stacked Projects,
    #   2 s driver-side analysis per build) → one selectExpr with lateral
    #   column aliases; same expressions, collapsed Project tree.
    "q_unigram_tokenize": 11,
    "q_unigram_em_costs": 11,
    # - JPEG roundtrip kernels: the plane is a pure function of id % 128,
    #   so the codec runs once per distinct residue (repartitioned over
    #   the 128-key space) and broadcast-joins back — same rows, new plan
    #   (distinct + join around the mapInPandas stage).
    "q_jpeg_roundtrip": 11,
    "q_jpeg_progressive": 11,
    # - sequential patterns: greedy subsequence match rewired from the
    #   per-user position-map × broadcast-pattern-frame (interpreted HOF
    #   lambda per row) to relational user-keyed joins over a
    #   (user, type) first/last rollup — same support counts, new plan.
    "q_sequential_patterns": 11,
    # - item similarity: basket pairs via one order-keyed collect_set +
    #   codegen posexplode/slice expansion instead of distinct + self-join
    #   (three exchanges of the basket frame -> one); same pair counts.
    "q_item_similarity": 11,
    # - LM family (round-11 optimization pass, fifth batch): stupid
    #   backoff derives bigram counts from the trigram rollup + per-doc
    #   last bigrams (the second full-corpus explode+shuffle is gone) and
    #   both context denominators ride window sums; bigram_logprob /
    #   kneser_ney replace their agg+self-join context counts with window
    #   sums over the model frame's own exchange. Values identical
    #   (exact integer counts, same rounded logs), new plan shapes.
    "q_stupid_backoff": 11,
    "q_bigram_logprob": 11,
    "q_kneser_ney": 11,
    # - spearman: 2*midrank = rank + count(v' <= v) folds the tie count
    #   into the rank window's own (partition, order) spec — one Window
    #   node per axis instead of two (exact integer identity).
    "q_spearman_corr": 11,
    # - ngram novelty: first_doc = window min over the shingle partition
    #   (the rollup+join-back form scanned+exploded the corpus twice);
    #   4 parquet scans -> 2, 10 -> 8 Exchange. q_mmr_rerank's round-11
    #   eager=False greedy-round checkpoints leave the executed plan
    #   STRUCTURALLY IDENTICAL (LogicalRDD scans either way), so it
    #   needs no entry (the q_logreg_gd precedent).
    "q_ngram_novelty": 11,
    # - duplicated_spans: the cross-doc fingerprint test is now
    #   min(id) != max(id) over the fp window (== countDistinct >= 2) —
    #   one corpus scan+exchange instead of the rollup+join-back's two
    #   (4 parquet scans -> 2, 8 -> 6 Exchange); locally neutral, the
    #   halved scan volume is the 100 TB term.
    # - fuzzy_pairs_damerau1: single-pass verify (one combined predicate;
    #   the easy/hard union re-ran the whole pair expansion + bounded
    #   levenshtein per branch). q_fuzzy_damerau's entry is already 11.
    "q_dup_spans": 11,
    # - pagerank family: outdeg attached to the edge frame once before
    #   the loop (one SMJ per iteration removed; 40 -> 30 Exchange each);
    #   heaps' checkpoints land in buckets via a CASE over the broadcast
    #   scalar instead of 4x crossJoin replication, and prods is
    #   lazily checkpointed (50 -> 6 Exchange).
    "q_pagerank": 11,
    "q_personalized_pagerank": 11,
    "q_textrank_keywords": 11,
    "q_heaps_law": 11,
    # - k_truss / k_core: fixed-budget peeling exits at the detected
    #   fixpoint (a no-drop round makes every later budgeted round a
    #   no-op — result bit-identical); k_truss's converged round doubles
    #   as the output support pass, so its final plan drops the left
    #   join + third support computation.
    "q_ktruss": 11,
    "q_kcore": 11,
    # round-12 optimization pass, first batch (same outputs, new plan
    # shapes):
    # - recall-eval twins: the verify pass is DERIVED from the truth pass
    #   (ver == truth ∩ cands exactly — a candidate pair with no shared
    #   shingle/gram passes neither side; shared-gram pairs get the
    #   identical threshold test on identical integers), so the whole
    #   second per-candidate pair aggregation is gone, and
    #   q_minhash_recall's truth side reuses the already-persisted
    #   shingle frame instead of re-shingling the corpus
    #   (36 → 26 / 36 → 20 Exchange).
    "q_minhash_recall": 12,
    "q_weighted_minhash_recall": 12,
    # - prefix-filtered Jaccard / containment joins: the shingle document
    #   frequency is a window count over the shingle partition instead of a
    #   df rollup joined back (same pairs and scores, new plan shape).
    "q_prefix_jaccard": 12,
    "q_containment_join": 12,
    # round 13: operators.stats.with_llr computes each ratio log's steps in
    # successive projections instead of one inlined tree (bit-identical
    # llr, new plan shape for every contingency_via_groupby consumer).
    "q_llr_contingency": 13,
    "q_montecarlo_critical": 13,
}


def _evidence() -> tuple[dict[str, int], int]:
    latest: dict[str, int] = {}
    rounds = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        rounds.append(rnd)
        with open(path) as fh:
            data = json.load(fh)
        entries = data.get("queries", data)
        names = entries.keys() if isinstance(entries, dict) else [
            e["name"] for e in entries
        ]
        for name in names:
            latest[name] = max(rnd, latest.get(name, 0))
    assert rounds, "no committed CORRECTNESS_r*.json evidence files"
    return latest, max(rounds) + 1


def _rotation(latest: dict[str, int], current: int):
    """Derive (fronted, stale_in_order, expected_prefix, auto_exempt).

    fronted: window members that MUST hold a slot regardless of age —
    new queries with no driver evidence, and changed contracts newer
    than their evidence. stale_in_order: hash-checkable non-fronted
    queries older than the bound, in deterministic rotation order
    (evidence round asc, then name). expected_prefix: the stale rows the
    window must contain (as many as fit after the fronted slots).
    auto_exempt: the leftover stale rows — exempt this round by
    construction, and the front of the NEXT round's rotation.
    """
    fronted = {
        n
        for n in _DRIVER_WINDOW
        if n not in latest or CHANGED_CONTRACTS.get(n, 0) > latest.get(n, 0)
    }
    stale = sorted(
        (
            n
            for n, spec in QUERIES.items()
            if spec.oracle is not None
            and n not in fronted
            and current - latest.get(n, 0) > MAX_EVIDENCE_AGE_ROUNDS
        ),
        key=lambda n: (latest.get(n, 0), n),
    )
    take = min(len(stale), len(_DRIVER_WINDOW) - len(fronted))
    return fronted, stale, stale[:take], set(stale[take:])


def test_no_structural_lag():
    latest, _ = _evidence()
    missing = [
        n for n in QUERIES if n not in latest and n not in _DRIVER_WINDOW
    ]
    assert not missing, (
        "registered queries with no driver evidence and no window slot "
        f"(front them in _DRIVER_WINDOW): {sorted(missing)}"
    )


def test_window_consumes_stale_in_rotation_order():
    """The forcing function: after fronted slots, every remaining window
    slot must consume the stale backlog in deterministic order. A
    voluntary re-check while stale rows remain, or a dropped prefix
    member, fails here."""
    latest, current = _evidence()
    fronted, stale, expected, _ = _rotation(latest, current)
    in_window = [n for n in stale if n in _DRIVER_WINDOW]
    assert set(in_window) == set(expected), (
        "window does not consume the stale rotation prefix; "
        f"missing={sorted(set(expected) - set(in_window))} "
        f"extra(out-of-order)={sorted(set(in_window) - set(expected))} "
        f"(fronted={sorted(fronted)})"
    )


def test_evidence_freshness_bound():
    latest, current = _evidence()
    _, _, _, auto_exempt = _rotation(latest, current)
    stale = {}
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue  # rows-only by design: a slot buys no hash evidence
        projected = current if name in _DRIVER_WINDOW else latest.get(name, 0)
        age = current - projected
        if age > MAX_EVIDENCE_AGE_ROUNDS and name not in auto_exempt:
            stale[name] = projected
    assert not stale, (
        f"driver evidence older than {MAX_EVIDENCE_AGE_ROUNDS} rounds and "
        f"not covered by the derived rotation exemption: {stale}"
    )


def test_changed_contracts_hold_a_window_slot():
    latest, _ = _evidence()
    missing = [
        name
        for name, changed_round in CHANGED_CONTRACTS.items()
        if changed_round > latest.get(name, 0) and name not in _DRIVER_WINDOW
    ]
    assert not missing, (
        "contract changed since last driver check but no window slot: "
        f"{sorted(missing)}"
    )


def test_window_is_valid():
    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    unknown = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    assert not unknown, f"window names not in registry: {unknown}"
    # the harness checks the FIRST 50 registered queries — the window
    # reorder must actually have applied
    assert list(QUERIES)[:50] == list(_DRIVER_WINDOW)
