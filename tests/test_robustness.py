from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.engine.config import IOResourceConfig
from platform_etl_backend_spark.engine.io import read_single
from platform_etl_backend_spark.steps import run_step


def test_corrupt_json_records_permissive(spark, tmp_path):
    """Malformed JSON lines survive as _corrupt_record instead of failing
    the job (PERMISSIVE default — matters on 100TB of scraped JSONL)."""
    p = tmp_path / "data.jsonl"
    p.write_text('{"id": 1, "v": "ok"}\n{broken json}\n{"id": 2, "v": "ok2"}\n')
    df = read_single(
        spark,
        IOResourceConfig(
            format="json",
            path=str(p),
            options={"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    ).cache()
    assert df.count() == 3
    good = df.where(F.col("id").isNotNull())
    assert good.count() == 2
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1
    df.unpersist()


def test_corrupt_json_failfast_raises(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text('{"id": 1}\n{broken}\n')
    # FAILFAST already rejects the file at schema inference (load time)
    with pytest.raises(Exception, match="(?i)malformed"):
        read_single(
            spark,
            IOResourceConfig(format="json", path=str(p), options={"mode": "FAILFAST"}),
        ).collect()


def test_csv_malformed_rows_dropped(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id,v\n1,a\nthis,row,has,too,many,columns\n2,b\n")
    df = read_single(
        spark,
        IOResourceConfig(
            format="csv",
            path=str(p),
            options={"header": "true", "mode": "DROPMALFORMED"},
        ),
    )
    assert [(r.id, r.v) for r in df.orderBy("id").collect()] == [("1", "a"), ("2", "b")]


def test_record_text_reader_is_split_invariant(spark, tmp_path):
    """format=record_text gives the same records whether the file is one
    split or ~50 splits of 97 bytes (records cut mid-delimiter, at record
    start, at split end): the trailing undelimited record is kept, records
    of spaces only are dropped, and an empty file has no rows."""
    from spark_helpers import session_scoped_conf

    delim = "//\n"
    parts = []
    for i in range(200):
        if i % 17 == 0:
            parts.append("   ")  # spaces only: dropped
        elif i % 23 == 0:
            parts.append("")  # empty: dropped
        else:
            parts.append(f"ID   rec{i}\n" + "x" * (i % 11) + "\n")
    body = delim.join(parts) + delim + "tail-no-delim\n"
    p = tmp_path / "recs.txt"
    p.write_text(body)
    empty = tmp_path / "empty.txt"
    empty.write_text("")
    want = sorted(r for r in body.split(delim) if r.strip(" "))
    assert "tail-no-delim\n" in want and "   " not in want

    def read(path):
        conf = IOResourceConfig(format="record_text", path=str(path),
                                options={"delimiter": delim})
        return read_single(spark, conf)

    assert sorted(r.record for r in read(p).collect()) == want
    assert read(empty).count() == 0
    with session_scoped_conf(spark, {"spark.sql.files.maxPartitionBytes": "97"}):
        split = read(p)
        assert split.rdd.getNumPartitions() > 10
        assert sorted(r.record for r in split.collect()) == want
        assert read(empty).count() == 0


def test_embedding_step_via_runner(spark, tmp_path):
    pubs = spark.createDataFrame(
        [("spark query engine",), ("spark fast engine",)] * 5, ["text"]
    )
    out = run_step(
        spark, "embedding", {"publications": pubs},
        model_path=str(tmp_path / "w2v"), vector_size=8, num_partitions=2, max_iter=1,
    )["vectors"]
    assert {r.word for r in out.collect()} == {"spark", "query", "engine", "fast"}
    from pyspark.ml.feature import Word2VecModel

    assert Word2VecModel.load(str(tmp_path / "w2v")).getVectors().count() == 4


def test_new_operators_on_empty_and_degenerate_inputs(spark):
    """Edge-input behavior of the round-2 operators: empty frames and
    degenerate shapes must return empty/clean results, never throw."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.dedup import decontamination_hits
    from platform_etl_backend_spark.operators.sampling import bottomk_sample, cap_per_group
    from platform_etl_backend_spark.operators.similarity import (
        kmeans_fit,
        multitable_ann_top1,
        quantize_int8,
    )

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    docs = spark.createDataFrame([(1, "alpha beta gamma delta")], ["doc_id", "text"])

    # decontamination: empty eval set -> no hits; empty train -> no rows
    assert decontamination_hits(docs, empty_docs, "doc_id", "text", k=2).count() == 0
    assert decontamination_hits(empty_docs, docs, "doc_id", "text", k=2).count() == 0

    # sampling: k larger than the data
    assert bottomk_sample(docs, ["doc_id"], 10).count() == 1
    assert cap_per_group(docs.withColumn("source", F.lit("s")),
                         ["source"], ["doc_id"], 10).count() == 1

    # quantization: empty frame
    empty_vec = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert quantize_int8(empty_vec, "vec_id", "embedding").count() == 0

    # k-means: k greater than the corpus size still converges (init keeps
    # min(k, n) centroids; empty cells drop)
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])], ["vec_id", "embedding"]
    )
    cents = kmeans_fit(vecs, "vec_id", "embedding", k=8, iters=1)
    assert 1 <= cents.count() <= 3

    # multi-table ANN on a single vector: no pairs, no crash
    single = spark.createDataFrame([(1, [1.0, -1.0, 1.0, -1.0,
                                         1.0, 1.0, -1.0, -1.0])],
                                   ["vec_id", "embedding"])
    assert multitable_ann_top1(single, "vec_id", "embedding",
                               nbits=4, tables=2).count() == 0


def test_round3_operators_on_empty_and_degenerate_inputs(spark):
    """Edge-input behavior of the round-3 operators."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.dedup import (
        duplicated_spans,
        fuzzy_pairs_damerau1,
        fuzzy_pairs_dist1,
    )
    from platform_etl_backend_spark.operators.graph import pagerank, triangle_count
    from platform_etl_backend_spark.operators.sampling import stratified_sample
    from platform_etl_backend_spark.operators.stats import count_min_estimates
    from platform_etl_backend_spark.operators.textqa import (
        bigram_logprob,
        chunk_documents,
        pack_sequences,
    )

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_edges = spark.createDataFrame([], "src bigint, dst bigint")
    one_doc = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])

    assert duplicated_spans(empty_docs, "doc_id", "text").count() == 0
    assert duplicated_spans(one_doc, "doc_id", "text").count() == 0
    assert bigram_logprob(one_doc, "doc_id", "text").count() == 0  # <2 tokens
    assert chunk_documents(empty_docs, "doc_id", "text").count() == 0
    assert pack_sequences(empty_docs, "doc_id", "text").count() == 0
    assert count_min_estimates(empty_docs, "doc_id", "text").count() == 0
    assert stratified_sample(empty_docs.withColumn("lang", F.lit("en")),
                             "lang", ["doc_id"], {"en": 0.5}).count() == 0
    assert fuzzy_pairs_dist1(one_doc, "doc_id", "text").count() == 0
    assert fuzzy_pairs_damerau1(one_doc, "doc_id", "text").count() == 0
    assert pagerank(empty_edges).count() == 0  # graceful empty, no div-by-zero
    row = triangle_count(empty_edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (0, 0, 0)
    # self-loop-only graph: no nodes after loop removal
    loops = spark.createDataFrame([(1, 1), (2, 2)], ["src", "dst"])
    assert triangle_count(loops).collect()[0].n_triangles == 0


def test_round4_operators_on_empty_and_degenerate_inputs(spark):
    """Edge-input behavior of the round-4 operators."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators.asof import interval_overlap_join
    from platform_etl_backend_spark.operators.bpe import bpe_encode_stats, bpe_train
    from platform_etl_backend_spark.operators.similarity import covariance_power_sums
    from platform_etl_backend_spark.operators.textqa import (
        hashed_features,
        rouge_overlap,
        segment_sentences,
        skipgram_pairs,
    )

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    one_tok = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])

    # sentence split: empty corpus -> no rows; a single unpunctuated token
    # -> exactly one sentence covering it
    assert segment_sentences(empty_docs, "doc_id", "text").count() == 0
    rows = segment_sentences(one_tok, "doc_id", "text").collect()
    assert len(rows) == 1 and rows[0].sentence == "solo" and rows[0].n_tokens == 1

    # BPE: empty corpus -> empty merges AND empty vocab, no crash
    merges, vocab = bpe_train(empty_docs, "doc_id", "text", n_merges=3)
    assert merges.count() == 0 and vocab.count() == 0
    assert bpe_encode_stats(empty_docs, "doc_id", "text", vocab).count() == 0

    # skip-grams: a 1-token doc has no pairs at any window
    assert skipgram_pairs(one_tok, "doc_id", "text").count() == 0

    # ROUGE: empty pair list -> empty output (gram frames never consulted)
    empty_pairs = spark.createDataFrame([], "cand_id bigint, ref_id bigint")
    assert rouge_overlap(one_tok, empty_pairs, "doc_id", "text").count() == 0

    # interval overlap: either side empty -> empty
    a = spark.createDataFrame([(1, 0, 10)], "user_id bigint, a_start bigint, a_end bigint")
    b = spark.createDataFrame([], "user_id bigint, b_start bigint, b_end bigint")
    assert interval_overlap_join(a, b, ["user_id"],
                                 "a_start", "a_end", "b_start", "b_end").count() == 0

    # feature hashing: empty corpus -> no rows; signs can cancel to zero
    # and zero-valued buckets are dropped
    assert hashed_features(empty_docs, "doc_id", "text").count() == 0

    # covariance partials: empty vectors frame -> no partial rows
    empty_vecs = spark.createDataFrame([], "embedding array<double>")
    assert covariance_power_sums(empty_vecs, "embedding").count() == 0
