"""Incremental LSH dedup: batch-over-batch detection through the
persisted signature store, redelivery idempotence, versioned index."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from blinkit_etl_pipeline_spark.operators import incremental, snapshot

BASE = (
    "the quick brown fox jumps over the lazy dog and keeps on running "
    "through the quiet green field toward the distant hills at dawn"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_incremental_dedup_across_batches_and_redelivery(spark, tmp_path):
    store = str(tmp_path / "sigstore")

    # batch 1: two near-identical docs + one unrelated
    b1 = _docs(spark, [
        (1, BASE),
        (2, BASE + " tonight"),
        (3, "completely different words about spark shuffles and joins "
            "with partitions exchanges and broadcast variables in rows"),
    ])
    p1, v1 = incremental.ingest_and_find_dups(spark, store, b1)
    got1 = {(r["doc_a"], r["doc_b"]) for r in p1.collect()}
    assert (1, 2) in got1 and v1 == 1
    assert all(a != 3 and b != 3 for a, b in got1)

    # batch 2: a near-dup of doc 1 — found via the STORE, without any
    # access to batch 1's text
    b2 = _docs(spark, [
        (10, BASE + " yesterday"),
        (11, "entirely novel content mentioning gardens rivers bridges "
             "and mountains under a wide open summer sky full of birds"),
    ])
    p2, v2 = incremental.ingest_and_find_dups(spark, store, b2)
    got2 = {(r["doc_a"], r["doc_b"]) for r in p2.collect()}
    assert (1, 10) in got2 and v2 == 2
    # history-vs-history pairs are NOT re-reported
    assert (1, 2) not in got2

    # redelivery of batch 2: zero pairs, no new version
    p3, v3 = incremental.ingest_and_find_dups(spark, store, b2)
    assert p3.count() == 0 and v3 == 2

    # the store is versioned: v1 holds 3 docs' bands, v2 holds 5
    assert snapshot.read_snapshot(spark, store, version=1).select(
        "doc_id"
    ).distinct().count() == 3
    assert snapshot.read_snapshot(spark, store, version=2).select(
        "doc_id"
    ).distinct().count() == 5


def test_incremental_matches_batch_operator_on_union(spark, tmp_path):
    """Ingesting A then B must surface the same cross/new pairs the
    batch band-collision search finds on A ∪ B (minus A's internal
    pairs, already reported at A's ingest)."""
    from blinkit_etl_pipeline_spark.operators.dedup import (
        band_frame,
        minhash_signatures,
    )

    store = str(tmp_path / "sigstore2")
    a = _docs(spark, [(1, BASE), (2, BASE + " extra"), (3, "unrelated "
               "text about engines pipelines and storage formats today")])
    b = _docs(spark, [(10, BASE + " again"), (11, BASE + " extra words")])
    pa, _ = incremental.ingest_and_find_dups(spark, store, a)
    pb, _ = incremental.ingest_and_find_dups(spark, store, b)

    bands = band_frame(minhash_signatures(a.unionByName(b)))
    ref = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    expected = {(r["doc_a"], r["doc_b"]) for r in ref.collect()}
    got = {(r["doc_a"], r["doc_b"]) for r in pa.collect()} | {
        (r["doc_a"], r["doc_b"]) for r in pb.collect()
    }
    assert got == expected


def test_streaming_lsh_ingest_detects_cross_drop_dups(spark, tmp_path):
    """File drops drain through the streaming ingest: a near-dup in a
    LATER drop is found against the store, the pair log accumulates
    monotonically, and a re-drain (and even a byte-copied drop that
    evades the file checkpoint) is a no-op."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.streaming import file_source

    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    log = str(tmp_path / "pairs")

    def process(batch_df, epoch):
        # the pair log is an idempotent per-epoch hive partition: a
        # replayed epoch overwrites ITS OWN directory with identical
        # pairs (the batch_id column comes back from the directory name)
        incremental.ingest_and_find_dups(
            batch_df.sparkSession, store, batch_df,
            on_pairs=lambda pairs: pairs.write.mode("overwrite").parquet(
                f"{log}/batch_id={epoch}"
            ),
        )

    def drop(rows, stage, tag):
        _docs(spark, rows).coalesce(1).write.parquet(str(tmp_path / stage))
        src = _glob.glob(str(tmp_path / stage / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    drop([(1, BASE), (2, "unrelated words about storage engines and "
          "query planners running distributed aggregations at night")],
         "s1", "d1")
    schema = spark.read.parquet(str(raw)).schema
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert spark.read.parquet(log).count() == 0  # no dups yet

    drop([(10, BASE + " tonight")], "s2", "d2")
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    pairs = {(r["doc_a"], r["doc_b"])
             for r in spark.read.parquet(log).collect()}
    assert (1, 10) in pairs

    # byte-copied drop under a NEW filename: the checkpoint can't catch
    # it, the store's doc_id guard must
    shutil.copy(str(raw / "d2.parquet"), str(raw / "d2_copy.parquet"))
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert spark.read.parquet(log).count() == len(pairs)  # unchanged


def test_fifty_batch_ingest_stays_bounded_with_compaction(
    spark, tmp_path, monkeypatch
):
    """Sustained ingest: 50 batches with auto-compaction must keep the
    store's file count and manifest count bounded (the unbounded-growth
    failure mode is one file set per batch forever), keep ingest wall
    time from trending up, and stay CORRECT — a near-dup of a batch-1
    document ingested last must still surface through the compacted
    store. The policy constants are lowered so 50 batches run several
    compaction cycles."""
    import time as _time

    store = str(tmp_path / "sigstore50")
    threshold, target = 12, 2
    monkeypatch.setattr(incremental, "COMPACT_THRESHOLD", threshold)
    monkeypatch.setattr(incremental, "COMPACT_TARGET", target)
    max_files_seen = 0
    walls = []
    for b in range(50):
        docs = _docs(
            spark,
            [
                (
                    100 * b + i,
                    f"batch {b} doc {i} unique filler words "
                    + " ".join(f"tok{b}x{i}y{j}" for j in range(12)),
                )
                for i in range(3)
            ],
        )
        t0 = _time.perf_counter()
        incremental.ingest_and_find_dups(spark, store, docs)
        walls.append(_time.perf_counter() - t0)
        n_files = len(snapshot.read_manifest(store)["files"])
        max_files_seen = max(max_files_seen, n_files)
    # bounded store: never grows past threshold + one batch's file set
    assert max_files_seen <= threshold + 16
    assert len(snapshot.read_manifest(store)["files"]) <= threshold + 16
    import glob as _glob
    import os as _os

    # manifest count: keep_last survives each vacuum, plus at most one
    # manifest per append between compaction cycles (each append adds
    # >= 1 file, so cycles are at most `threshold` appends long)
    manifests = _glob.glob(_os.path.join(store, "_manifests", "v*.json"))
    assert len(manifests) <= threshold + 3
    # all 150 docs' signatures survived every compaction
    assert (
        snapshot.read_snapshot(spark, store).select("doc_id").distinct().count()
        == 150
    )
    # latency stays flat-ish: the last ten batches must not trend far
    # above the first ten (generous 3x guard — the structural bound
    # above is the real invariant; this catches an O(batches) regression)
    assert sum(walls[-10:]) < 3 * sum(walls[:10]) + 5.0
    # correctness through compaction: near-dup of a batch-1 doc found
    probe = _docs(spark, [(99999, "batch 0 doc 1 unique filler words "
                           + " ".join(f"tok0x1y{j}" for j in range(12)))])
    pairs, _ = incremental.ingest_and_find_dups(spark, store, probe)
    assert (1, 99999) in {
        (r["doc_a"], r["doc_b"]) for r in pairs.collect()
    }


def test_streaming_pq_ingest_matches_batch_adc_topk(spark, tmp_path):
    """File-dropped embeddings encode to PQ codes and append to the
    store; ADC top-k over the CODE STORE must equal the fused batch
    pq_adc_topk over the union corpus, and a byte-copied redelivery
    must not change the store."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.operators import vector
    from blinkit_etl_pipeline_spark.plans.codebook import PQ_CODEBOOK
    from blinkit_etl_pipeline_spark.streaming import file_source

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "codestore")

    def process(batch_df, epoch):
        incremental.ingest_pq_codes(
            batch_df.sparkSession, store, batch_df, PQ_CODEBOOK
        )

    def drop(lo, hi, tag):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)) \
            .coalesce(1).write.parquet(str(tmp_path / tag))
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    drop(0, 20, "d1")
    drop(20, 35, "d2")
    schema = emb.schema
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    drop(35, 50, "d3")
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)

    from blinkit_etl_pipeline_spark.operators import snapshot

    codes = snapshot.read_snapshot(spark, store)
    assert codes.count() == 50  # every dropped vector encoded once

    union = emb.filter(F.col("vec_id") < 50)
    qids = range(4)
    got = sorted(map(tuple, vector.pq_store_adc_topk(
        codes, union, qids, PQ_CODEBOOK, k=3,
    ).collect()))
    want = sorted(map(tuple, vector.pq_adc_topk(
        union, qids, PQ_CODEBOOK, k=3,
    ).collect()))
    assert got == want and len(got) == 12

    # byte-copied redelivery under a new name: vec_id guard catches it
    shutil.copy(str(raw / "d2.parquet"), str(raw / "d2_again.parquet"))
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert snapshot.read_snapshot(spark, store).count() == 50


def test_stored_ivfpq_prunes_files_and_matches_fused_scan(spark, tmp_path):
    """The IVFPQ code store must (a) answer probed ADC top-k identically
    to the self-contained fused scan over the same corpus, and (b)
    serve that query from a PRUNED file set — files of unprobed lists
    are never opened (manifest key-range pruning over centroid_id)."""
    from blinkit_etl_pipeline_spark.operators import vector
    from blinkit_etl_pipeline_spark.plans.codebook import (
        PQ_CODEBOOK,
        TRAINED_IVF_CODEBOOK,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = str(tmp_path / "ivfpqstore")
    # pin the file granularity: the default file count follows the
    # session's parallelism and is one file per batch on small machines
    snapshot.ensure_table_properties(store, {"target_file_rows": 5})
    for lo, hi in [(0, 40), (40, 80), (80, 120)]:
        incremental.ingest_ivfpq_codes(
            spark, store,
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            TRAINED_IVF_CODEBOOK, PQ_CODEBOOK,
        )
    union = emb.filter(F.col("vec_id") < 120)
    qids = range(4)

    # the query's own probe ranking decides which lists (hence files)
    # are touched; replicate it to drive the pruned read
    import numpy as np

    cids, CC, cqq = vector._qcodebook(
        sorted((int(c), [float(x) for x in v]) for c, v in TRAINED_IVF_CODEBOOK)
    )
    qrows = vector.with_q(union).filter(F.col("vec_id") < 4).collect()
    probed = set()
    for r in qrows:
        v = np.array(list(r["qvec"]), dtype=np.float64)
        cos = (v @ CC.T) / (np.sqrt(float(r["qq"])) * np.sqrt(cqq))
        probed |= {int(cids[j]) for j in np.lexsort((cids, -cos))[:2]}

    m = snapshot.read_manifest(store)
    pruned = snapshot._pruned_entries(m, sorted(probed))
    assert pruned is not None and len(pruned) < len(m["files"]), (
        len(pruned or []), len(m["files"]))

    codes = snapshot.read_snapshot_pruned(spark, store, sorted(probed))
    got = sorted(map(tuple, vector.ivfpq_store_topk(
        codes, union, qids, TRAINED_IVF_CODEBOOK, PQ_CODEBOOK, k=3, nprobe=2,
    ).collect()))
    want = sorted(map(tuple, vector.ivfpq_topk(
        union, qids, TRAINED_IVF_CODEBOOK, PQ_CODEBOOK, k=3, nprobe=2,
    ).collect()))
    assert got == want and len(got) == 12


def test_streaming_bm25_ingest_matches_batch_bydoc(spark, tmp_path):
    """Postings accumulated across file drops must answer BM25
    more-like-this IDENTICALLY to the batch operator over the union —
    including df/N/avgdl reflecting all ingested history — and a
    redelivered drop must not double-index."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.functions.text import (
        bm25_bydoc_topk,
        bm25_store_topk,
    )
    from blinkit_etl_pipeline_spark.streaming import file_source

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "bm25store")

    def process(batch_df, epoch):
        incremental.ingest_bm25_postings(batch_df.sparkSession, store, batch_df)

    def drop(lo, hi, tag):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
            .coalesce(1).write.parquet(str(tmp_path / tag))
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    drop(0, 30, "d1")
    drop(30, 60, "d2")
    schema = docs.schema
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    drop(60, 90, "d3")
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)

    union = docs.filter(F.col("doc_id") < 90)
    postings = snapshot.read_snapshot(spark, store)
    got = sorted(map(tuple, bm25_store_topk(postings, range(3), topk=10).collect()))
    want = sorted(map(tuple, bm25_bydoc_topk(union, range(3), topk=10).collect()))
    assert got == want and len(got) == 30

    # byte-copied redelivery: doc_id guard keeps the index unchanged
    shutil.copy(str(raw / "d2.parquet"), str(raw / "d2_again.parquet"))
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    again = sorted(map(tuple, bm25_store_topk(
        snapshot.read_snapshot(spark, store), range(3), topk=10).collect()))
    assert again == want


def test_duplicate_rows_within_one_batch_index_once(spark, tmp_path):
    """Two copies of the same embeddings/documents arriving in a SINGLE
    batch (the file checkpoint can't split them) must index once: the
    code store stays unique per vec_id and BM25 stats/tf are not
    doubled."""
    from blinkit_etl_pipeline_spark.functions.text import (
        bm25_bydoc_topk,
        bm25_store_topk,
    )
    from blinkit_etl_pipeline_spark.plans.codebook import PQ_CODEBOOK

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .filter(F.col("vec_id") < 30)
    doubled = emb.unionByName(emb)
    store = str(tmp_path / "dupstore")
    incremental.ingest_pq_codes(spark, store, doubled, PQ_CODEBOOK)
    codes = snapshot.read_snapshot(spark, store)
    assert codes.count() == 30 == codes.select("vec_id").distinct().count()

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id") < 30)
    bstore = str(tmp_path / "dupbm25")
    incremental.ingest_bm25_postings(spark, bstore, docs.unionByName(docs))
    got = sorted(map(tuple, bm25_store_topk(
        snapshot.read_snapshot(spark, bstore), range(2), topk=5).collect()))
    want = sorted(map(tuple, bm25_bydoc_topk(docs, range(2), topk=5).collect()))
    assert got == want


def test_bm25_store_probe_prunes_files_and_matches_full_scan(spark, tmp_path):
    """The postings store must (a) answer a more-like-this probe
    IDENTICALLY to the full-store scan, and (b) serve it from a PRUNED
    file set — files whose tkey range no query token touches are never
    opened (manifest range pruning over xxhash64(token), the lexical
    analogue of the stored-IVFPQ test above). N/avgdl come from the
    per-batch stats partials, so the corpus-linear sentinel lane is
    not in the probed set either."""
    from blinkit_etl_pipeline_spark.functions.text import bm25_store_topk

    store = str(tmp_path / "bm25pruned")
    # controlled vocabulary: doc i owns 5 private tokens + one shared
    # token, so a single query doc touches few tkey ranges while every
    # doc is still a scoring candidate (shared-token postings)
    def batch(lo, hi):
        return _docs(spark, [
            (
                i,
                " ".join(f"w{5 * i + j:04d}" for j in range(5))
                + " common",
            )
            for i in range(lo, hi)
        ])

    # pin the file granularity: the default file count follows the
    # session's parallelism and is one file per batch on small machines
    snapshot.ensure_table_properties(store, {"target_file_rows": 20})
    for lo, hi in [(0, 20), (20, 40), (40, 60)]:
        incremental.ingest_bm25_postings(spark, store, batch(lo, hi))

    m = snapshot.read_manifest(store)
    assert m["stats_col"] == "tkey"
    assert all("min" in e for e in m["files"])

    qdocs = batch(7, 8)  # 6 distinct tokens
    import pyspark.sql.functions as SF
    keys = [
        int(r["k"])
        for r in qdocs.select(
            SF.explode(SF.split("text", " ")).alias("t")
        ).distinct().select(SF.xxhash64("t").alias("k")).collect()
    ]
    pruned_entries = snapshot._pruned_entries(
        m, keys + [incremental.BM25_TKEY_STATS]
    )
    assert pruned_entries is not None
    assert len(pruned_entries) < len(m["files"]), (
        len(pruned_entries), len(m["files"]))
    # the stats lane IS probed (N/avgdl partials), and strictly fewer
    # files cover the sentinel lane than the full manifest — the
    # corpus-linear per-doc rows are (mostly) outside the probe set
    assert any(
        e["min"] <= incremental.BM25_TKEY_STATS <= e["max"]
        for e in pruned_entries
    )
    sentinel_files_probed = sum(
        1 for e in pruned_entries
        if e["min"] <= incremental.BM25_TKEY_DL <= e["max"]
    )
    sentinel_files_total = sum(
        1 for e in m["files"]
        if e["min"] <= incremental.BM25_TKEY_DL <= e["max"]
    )
    assert sentinel_files_probed < max(sentinel_files_total, 1)

    got = sorted(map(tuple, incremental.bm25_store_probe(
        spark, store, qdocs, topk=5,
    ).collect()))
    want = sorted(map(tuple, bm25_store_topk(
        snapshot.read_snapshot(spark, store), [7], topk=5,
    ).collect()))
    assert got == want and len(got) == 5


def test_chunk_decontam_through_persisted_signature_store(spark, tmp_path):
    """Chunk-level decontamination through the PERSISTED LSH index:
    train chunks ingest as (packed chunk id, chunk_text) units; test
    chunks then probe the store — candidates come from the band join
    against stored signatures (train text no longer needed), match the
    in-memory band join exactly, and the planted leaked span is found."""
    from blinkit_etl_pipeline_spark.functions.text import chunk_frame
    from blinkit_etl_pipeline_spark.operators import dedup

    para = (
        "the secret benchmark answer is forty two and the model must "
        "never have seen this exact passage during training at all "
        "because that would inflate every downstream evaluation score "
        "in a way reviewers cannot detect without a decontam pass"
    )
    filler = (
        "ordinary web text about cooking gardening travel music sports "
        "history science art weather finance recipes movies books news"
    )
    train = _docs(spark, [
        (1, filler + " " + para + " " + filler),
        (2, filler * 3),
    ])
    test = _docs(spark, [
        (100, "unrelated evaluation prompt content " + para),
        (101, "completely clean test document with fresh novel words "
              "about llamas alpacas and vicunas grazing in the andes"),
    ])
    PACK = 1 << 20

    def chunk_docs(docs):
        ch = chunk_frame(docs, 24, 8, keep=())
        return ch.select(
            (F.col("doc_id") * PACK + F.col("chunk_id")).alias("doc_id"),
            F.col("chunk_text").alias("text"),
        )

    store = str(tmp_path / "decontamstore")
    # ingest the TRAIN side; its returned pairs are train-internal
    incremental.ingest_and_find_dups(spark, store, chunk_docs(train))
    # probe the TEST side against the store
    pairs, _ = incremental.ingest_and_find_dups(
        spark, store, chunk_docs(test)
    )
    cross = {
        (r["doc_a"], r["doc_b"])
        for r in pairs.collect()
        if (r["doc_a"] < 100 * PACK) != (r["doc_b"] < 100 * PACK)
    }
    # expectation: the SAME band join computed in memory over both sides
    both = chunk_docs(train).unionByName(chunk_docs(test))
    bands = dedup.band_frame(dedup.minhash_signatures(both, n=3))
    a, b = bands.alias("a"), bands.alias("b")
    want = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .collect()
        if (r["doc_a"] < 100 * PACK) != (r["doc_b"] < 100 * PACK)
    }
    assert cross == want
    # the planted span: doc 100's chunks collide with doc 1's chunks
    assert any(a // PACK == 1 and b // PACK == 100 for a, b in cross)
    # the clean doc stays clean
    assert not any(a // PACK == 101 or b // PACK == 101 for a, b in cross)


def test_incremental_span_dedup_matches_batch_and_redelivery(spark, tmp_path):
    """The span-window store must reproduce the batch operator's answer
    when batches arrive in doc_id order (global-min canonical == first
    ingested), skip redeliveries, and find cross-batch spans without
    history text."""
    from blinkit_etl_pipeline_spark.operators.dedup import span_dedup

    store = str(tmp_path / "spanstore")
    RUN = "alpha beta gamma delta epsilon zeta"  # 6-token duplicated run
    rows = [
        (1, RUN + " one extra tail here now"),
        (2, "p q " + RUN + " r s"),             # copies doc 1's run
        (3, "totally unrelated words in this document body here"),
        (10, RUN + " " + RUN + " mid tail"),    # two copies back-to-back
        (11, "fresh novel content nothing shared with anyone at all"),
    ]
    all_docs = _docs(spark, rows)
    k = 4

    s1, v1 = incremental.ingest_and_find_dup_spans(
        spark, store, _docs(spark, rows[:3]), k=k)
    s2, v2 = incremental.ingest_and_find_dup_spans(
        spark, store, _docs(spark, rows[3:]), k=k)
    assert (v1, v2) == (1, 2)
    got = {r["doc_id"]: (r["spans_removed"], r["tokens_removed"])
           for df in (s1, s2) for r in df.collect()}
    batch = {
        r["doc_id"]: (r["spans_removed"], r["tokens_removed"])
        for r in span_dedup(all_docs, k=k).collect()
        if r["spans_removed"] > 0
    }
    assert got == batch  # incremental union == batch answer
    assert 2 in got and 10 in got and 3 not in got and 11 not in got

    # redelivery: no spans, no new version
    s3, v3 = incremental.ingest_and_find_dup_spans(
        spark, store, _docs(spark, rows[3:]), k=k)
    assert s3.count() == 0 and v3 == 2


def test_span_store_probe_prunes_files_and_scores_coverage(spark, tmp_path):
    """Probe is read-only (no version bump), coverage is exact, and a
    small probe against the h-clustered store opens a strict subset of
    the manifest files."""
    store = str(tmp_path / "spanprobe")
    k = 4
    # pin the file granularity: the default file count follows the
    # session's parallelism and is one file per batch on small machines
    snapshot.ensure_table_properties(store, {"target_file_rows": 6})
    # three batches of docs with private token streams (no cross dups)
    for b in range(3):
        docs = _docs(spark, [
            (b * 10 + i,
             " ".join(f"b{b}d{i}t{j}" for j in range(12)))
            for i in range(5)
        ])
        incremental.ingest_and_find_dup_spans(spark, store, docs, k=k)
    snapshot.compact_snapshot(spark, store, target_files=6)
    v = snapshot.current_version(store)

    # probe doc 900 is exactly one window copied from doc 12; doc 901
    # one private window — 2 window hashes total, so the manifest prune
    # is deterministic (uniform int64 hashes: a BIG probe's keys cover
    # every file range; pruning is the small-probe/containment gauge)
    copied = " ".join(f"b1d2t{j}" for j in range(k))
    probe = _docs(spark, [
        (900, copied),
        (901, "zz yy xx ww"),
    ])
    out = {r["doc_id"]: r for r in incremental.span_store_probe(
        spark, store, probe, k=k).collect()}
    assert snapshot.current_version(store) == v  # read-only
    assert out[900]["dup_spans"] == 1
    assert out[900]["dup_tokens"] == k
    assert out[900]["coverage"] == 1.0
    assert out[901]["dup_spans"] == 0 and out[901]["coverage"] == 0.0

    # file pruning: the probe's h keys hit < all files of the manifest
    from blinkit_etl_pipeline_spark.operators.dedup import (
        window_hash_frame,
    )
    m = snapshot.read_manifest(store)
    assert m["stats_col"] == "h"
    keys = [int(r["h"]) for r in window_hash_frame(
        probe, k).select("h").distinct().collect()]
    pruned = snapshot._pruned_entries(m, keys)
    assert pruned is not None and len(pruned) < len(m["files"]), (
        len(pruned) if pruned else None, len(m["files"]))


def test_streaming_span_ingest_matches_batch_on_real_docs(spark, tmp_path):
    """Span-window store accumulated across file drops must equal the
    batch span_dedup answer over the union (drops arrive in doc_id
    order), and a byte-copied redelivered drop must not re-report or
    re-index."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.operators.dedup import span_dedup
    from blinkit_etl_pipeline_spark.streaming import file_source

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "spanstore")
    seen = []

    def drop(lo, hi, tag):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
            .coalesce(1).write.parquet(str(tmp_path / tag))
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    k = 8

    def process(batch_df, epoch):
        incremental.ingest_and_find_dup_spans(
            batch_df.sparkSession, store, batch_df, k=k,
            on_spans=lambda df: seen.extend(df.collect()),
        )

    drop(0, 25, "d1")
    drop(25, 50, "d2")
    schema = docs.schema
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)

    union = docs.filter(F.col("doc_id") < 50)
    got = {r["doc_id"]: (r["spans_removed"], r["tokens_removed"])
           for r in seen}
    want = {r["doc_id"]: (r["spans_removed"], r["tokens_removed"])
            for r in span_dedup(union, k=k).collect()
            if r["spans_removed"] > 0}
    assert got == want and len(want) > 0  # sf0.001 has planted dups

    # redelivery: nothing new reported, store version unchanged
    v = snapshot.current_version(store)
    shutil.copy(str(raw / "d1.parquet"), str(raw / "d1_again.parquet"))
    before = len(seen)
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert len(seen) == before
    assert snapshot.current_version(store) == v


def test_span_store_window_width_is_pinned(spark, tmp_path):
    """k is a FORMAT parameter: k-window hashes only ever match
    k-window hashes, so a mixed-k store silently reports zero
    duplication. Both the probe and a second ingest must fail loudly
    on a width mismatch."""
    import pytest

    store = str(tmp_path / "spanstore")
    docs = _docs(spark, [(1, BASE), (2, BASE + " tonight")])
    incremental.ingest_and_find_dup_spans(spark, store, docs, k=10)
    probe = _docs(spark, [(99, BASE)])
    with pytest.raises(snapshot.SnapshotError, match="k=10"):
        incremental.span_store_probe(spark, store, probe, k=8)
    with pytest.raises(snapshot.SnapshotError):
        incremental.ingest_and_find_dup_spans(
            spark, store, _docs(spark, [(3, BASE)]), k=8
        )
    # matching k still works end-to-end
    got = incremental.span_store_probe(spark, store, probe, k=10)
    row = got.filter(F.col("doc_id") == 99).collect()[0]
    assert row["dup_tokens"] > 0


def test_bm25_probe_rejects_store_without_stats_partials(spark, tmp_path):
    """A store ingested before the stats-partial format yields
    N = NULL from the partials agg — the probe must raise, not return
    NULL-scored arbitrarily-ranked rows."""
    import pytest

    from blinkit_etl_pipeline_spark.functions.text import postings_frame

    store = str(tmp_path / "legacy_bm25")
    docs = _docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta other words entirely here"),
    ])
    # legacy layout: postings + sentinels + tkey, but NO stats rows
    rows = postings_frame(docs).withColumn(
        "tkey", incremental._postings_tkey()
    )
    snapshot.write_snapshot(rows, store, stats_col="tkey")
    with pytest.raises(Exception, match="stats-partial"):
        incremental.bm25_store_probe(
            spark, store, docs.filter(F.col("doc_id") == 1)
        ).collect()


def test_retraction_hides_docs_from_search_and_reingest(spark, tmp_path):
    """Takedown contract: retracted docs stop matching immediately,
    can never be re-ingested, and purge reclaims their rows while
    keeping the tombstones terminal."""
    store = str(tmp_path / "sig_retract")
    b1 = _docs(spark, [
        (1, BASE),
        (2, BASE + " tonight"),
        (3, "completely different words about spark shuffles and joins "
            "with partitions exchanges and broadcast variables in rows"),
    ])
    incremental.ingest_and_find_dups(spark, store, b1)
    # retract doc 1 (idempotent: second call appends nothing)
    v = incremental.retract_docs(spark, store, [1])
    assert incremental.retract_docs(spark, store, [1]) == v
    # a new near-dup of doc 1 no longer pairs with it — doc 2 still does
    b2 = _docs(spark, [(10, BASE + " yesterday")])
    p2, _ = incremental.ingest_and_find_dups(spark, store, b2)
    got = {(r["doc_a"], r["doc_b"]) for r in p2.collect()}
    assert (1, 10) not in got and (2, 10) in got
    # re-ingesting the retracted id is refused (no store growth)
    before = incremental.read_store_live(spark, store).count()
    incremental.ingest_and_find_dups(spark, store, _docs(spark, [(1, BASE)]))
    assert incremental.read_store_live(spark, store).count() == before
    # purge physically drops doc 1's rows; live view unchanged
    raw_before = snapshot.read_snapshot(spark, store).count()
    _, removed = incremental.purge_retracted(spark, store)
    assert removed > 0
    assert snapshot.read_snapshot(spark, store).count() == raw_before - removed
    assert incremental.read_store_live(spark, store).count() == before
    # tombstone stays terminal after the purge
    incremental.ingest_and_find_dups(spark, store, _docs(spark, [(1, BASE)]))
    assert incremental.read_store_live(spark, store).filter(
        F.col("doc_id") == 1
    ).count() == 0


def test_retraction_span_and_bm25_probes(spark, tmp_path):
    """Span-containment and BM25 probes honor tombstones; the BM25
    purge rebuilds corpus stats so N/avgdl forget retracted docs."""
    span_store = str(tmp_path / "span_retract")
    docs = _docs(spark, [(1, BASE), (2, "totally unrelated words here "
                                       "about other topics entirely")])
    incremental.ingest_and_find_dup_spans(spark, span_store, docs, k=10)
    probe = _docs(spark, [(99, BASE)])
    hit = incremental.span_store_probe(spark, span_store, probe, k=10)
    assert hit.collect()[0]["dup_tokens"] > 0
    incremental.retract_docs(spark, span_store, [1])
    miss = incremental.span_store_probe(spark, span_store, probe, k=10)
    assert miss.collect()[0]["dup_tokens"] == 0

    bm_store = str(tmp_path / "bm25_retract")
    corpus = _docs(spark, [
        (1, "alpha beta gamma delta words"),
        (2, "alpha beta other things entirely"),
        (3, "unrelated content about nothing shared"),
    ])
    incremental.ingest_bm25_postings(spark, bm_store, corpus)
    q = _docs(spark, [(1, "alpha beta gamma delta words")])
    res = incremental.bm25_store_probe(spark, bm_store, q)
    assert 2 in {r["doc_id"] for r in res.collect()}
    incremental.retract_docs(spark, bm_store, [2])
    res2 = incremental.bm25_store_probe(spark, bm_store, q)
    assert 2 not in {r["doc_id"] for r in res2.collect()}
    # purge rebuilds the stats lane: one partial, counting 2 live docs
    incremental.purge_bm25_store(spark, bm_store)
    stats = (
        snapshot.read_snapshot(spark, bm_store)
        .filter(F.col("doc_id").isNull())
        .collect()
    )
    assert len(stats) == 1 and stats[0]["tf"] == 2
    # probe still answers identically from the purged store
    res3 = incremental.bm25_store_probe(spark, bm_store, q)
    assert 2 not in {r["doc_id"] for r in res3.collect()}
    assert {r["doc_id"] for r in res3.collect()} == {
        r["doc_id"] for r in res2.collect()
    }


def test_sq8_store_replays_inline_tier_and_honors_retraction(
    spark, tmp_path
):
    """Codes ingested in two batches against a union-trained quantizer
    answer identically to the inline SQ8 tier over the union; a
    retracted vector disappears from the probe."""
    import random

    from blinkit_etl_pipeline_spark.operators import vector as V

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = V.sq8_stats(emb)
    store = str(tmp_path / "sq8store")
    b1 = emb.filter(F.col("vec_id") < 30)
    b2 = emb.filter(F.col("vec_id") >= 30)
    incremental.ingest_sq8_codes(spark, store, b1, stats=stats)
    incremental.ingest_sq8_codes(spark, store, b2)
    # redelivery: no growth
    v = incremental.ingest_sq8_codes(spark, store, b1)
    assert snapshot.read_snapshot(spark, store).count() == 60
    qids = list(range(4))
    got = incremental.sq8_store_probe(spark, store, emb, qids, k=5)
    want = V.sq8_topk(emb, qids, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # conflicting quantizer on a later ingest fails loudly
    import pytest

    with pytest.raises(snapshot.SnapshotError, match="pinned|different"):
        incremental.ingest_sq8_codes(
            spark, store, b2, stats=[(s[0] + 1, s[1]) for s in stats]
        )
    # retraction: the top neighbor of query 0 vanishes from the probe
    top = got.filter(F.col("query_id") == 0).collect()[0]["neighbor_id"]
    incremental.retract_docs(spark, store, [int(top)], id_col="vec_id")
    after = incremental.sq8_store_probe(spark, store, emb, qids, k=5)
    assert int(top) not in {
        r["neighbor_id"]
        for r in after.filter(F.col("query_id") == 0).collect()
    }


def test_streaming_sq8_ingest_matches_inline_tier(spark, tmp_path):
    """File-dropped embeddings encode to SQ8 byte codes against a
    union-trained pinned quantizer; the store probe equals the inline
    sq8_topk over the union, and redelivery is absorbed."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.operators import vector
    from blinkit_etl_pipeline_spark.streaming import file_source

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    union = emb.filter(F.col("vec_id") < 50)
    stats = vector.sq8_stats(union)
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "sq8store")

    def process(batch_df, epoch):
        incremental.ingest_sq8_codes(
            batch_df.sparkSession, store, batch_df, stats=stats
        )

    def drop(lo, hi, tag):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)) \
            .coalesce(1).write.parquet(str(tmp_path / tag))
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    drop(0, 30, "d1")
    drop(30, 50, "d2")
    schema = emb.schema
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert snapshot.read_snapshot(spark, store).count() == 50
    qids = range(4)
    got = sorted(map(tuple, incremental.sq8_store_probe(
        spark, store, union, qids, k=3
    ).collect()))
    want = sorted(map(tuple, vector.sq8_topk(union, qids, k=3).collect()))
    assert got == want and len(got) == 12
    # byte-copied redelivery
    shutil.copy(str(raw / "d1.parquet"), str(raw / "d1_again.parquet"))
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert snapshot.read_snapshot(spark, store).count() == 50


def test_streaming_retract_ingest(spark, tmp_path):
    """A file-dropped takedown feed tombstones ids exactly once;
    redelivered drops are absorbed by retraction idempotence."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.streaming import file_source

    store = str(tmp_path / "sig")
    docs = _docs(spark, [
        (1, BASE), (2, BASE + " tonight"), (3, "other words entirely "
                                              "about unrelated things"),
    ])
    incremental.ingest_and_find_dups(spark, store, docs)
    raw = tmp_path / "feed"
    raw.mkdir()
    ids = spark.createDataFrame([(1,), (3,)], "doc_id long")
    ids.coalesce(1).write.parquet(str(tmp_path / "t1"))
    src = _glob.glob(str(tmp_path / "t1" / "part-*.parquet"))[0]
    shutil.copy(src, str(raw / "t1.parquet"))
    ckpt = str(tmp_path / "ckpt")

    def process(batch_df, epoch):
        incremental.retract_docs(batch_df.sparkSession, store, batch_df)

    stream = file_source.stream_files(
        spark, str(raw), ids.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)
    live = {r["doc_id"] for r in
            incremental.read_store_live(spark, store)
            .select("doc_id").distinct().collect()}
    assert live == {2}
    # byte-copied redelivery: tombstone table does not grow
    v_before = snapshot.current_version(
        incremental._tombstone_table(store)
    )
    shutil.copy(src, str(raw / "t1_again.parquet"))
    stream = file_source.stream_files(
        spark, str(raw), ids.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)
    assert snapshot.current_version(
        incremental._tombstone_table(store)
    ) == v_before


def test_pre_props_stores_refuse_silent_adoption(spark, tmp_path):
    """A store with committed rows but no pinned format parameter
    (pre-props layout) must refuse ingest until the operator declares
    the historical parameter explicitly — silently adopting the
    caller's value is exactly the corruption the pin prevents."""
    import pytest
    import shutil

    span_store = str(tmp_path / "span_legacy")
    docs = _docs(spark, [(1, BASE)])
    incremental.ingest_and_find_dup_spans(spark, span_store, docs, k=10)
    shutil.rmtree(span_store + "/props")  # simulate a pre-props store
    with pytest.raises(snapshot.SnapshotError, match="predates"):
        incremental.ingest_and_find_dup_spans(
            spark, span_store, _docs(spark, [(2, BASE)]), k=8
        )
    # declaring the historical width re-enables ingest
    snapshot.ensure_table_properties(span_store, {"span_window_k": 10})
    incremental.ingest_and_find_dup_spans(
        spark, span_store, _docs(spark, [(2, BASE)]), k=10
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    sq8_store = str(tmp_path / "sq8_legacy")
    incremental.ingest_sq8_codes(spark, sq8_store, emb)
    shutil.rmtree(sq8_store + "/props")
    with pytest.raises(snapshot.SnapshotError, match="no pinned"):
        incremental.ingest_sq8_codes(spark, sq8_store, emb)


def test_retract_docs_validates_id_column(spark, tmp_path):
    """Retracting a vec_id-keyed store with the doc_id default must
    fail loudly BEFORE any tombstone is written."""
    import pytest

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    store = str(tmp_path / "sq8_idcol")
    incremental.ingest_sq8_codes(spark, store, emb)
    with pytest.raises(snapshot.SnapshotError, match="no 'doc_id'"):
        incremental.retract_docs(spark, store, [1])
    assert snapshot.current_version(
        incremental._tombstone_table(store)
    ) is None
    incremental.retract_docs(spark, store, [1], id_col="vec_id")


def test_sq8_width_mismatch_raises(spark):
    """Encoding or querying with a width different from the pinned
    quantizer fails loudly instead of NULL-padding into garbage."""
    import pytest

    from blinkit_etl_pipeline_spark.operators import vector as V

    emb8 = spark.createDataFrame(
        [(i, [float(i % 3)] * 8) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    emb4 = spark.createDataFrame(
        [(i, [float(i % 3)] * 4) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    stats = V.sq8_stats(emb8)
    with pytest.raises(Exception, match="width"):
        V.sq8_encode(emb4, stats).collect()
    codes = V.sq8_encode(emb8, stats)
    with pytest.raises(Exception, match="width"):
        V.sq8_store_topk(codes, emb4, [0], stats, k=2).collect()


# ----------------------------------------------------------------------
# incremental view maintenance: delta partial-aggregate store
# ----------------------------------------------------------------------


def _sales_rows(spark, rows):
    return spark.createDataFrame(
        rows, "cat string, amount_q bigint, __sign int"
    )


def _read_view(spark, store):
    out = incremental.read_agg_store(spark, store, ["cat"], ["amt"])
    return {
        r["cat"]: (r["amt"], r["__pcount"]) for r in out.collect()
    }


def test_agg_store_incremental_equals_recompute(spark, tmp_path):
    store = str(tmp_path / "aggstore")
    sums = {"amt": F.col("amount_q")}
    b1 = [("a", 100, 1), ("a", 50, 1), ("b", 30, 1)]
    b2 = [("b", 70, 1), ("c", 10, 1)]
    incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, b1), ["cat"], sums, batch_id="b1"
    )
    incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, b2), ["cat"], sums, batch_id="b2"
    )
    assert _read_view(spark, store) == {
        "a": (150, 2),
        "b": (100, 2),
        "c": (10, 1),
    }
    # redelivered batch appends nothing (idempotent at batch grain)
    incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, b2), ["cat"], sums, batch_id="b2"
    )
    assert _read_view(spark, store)["b"] == (100, 2)


def test_agg_store_deletes_retract_exactly(spark, tmp_path):
    store = str(tmp_path / "aggstore_del")
    sums = {"amt": F.col("amount_q")}
    ins = [("a", 100, 1), ("a", 50, 1), ("b", 30, 1)]
    dels = [("a", 50, -1), ("b", 30, -1)]
    incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, ins), ["cat"], sums, batch_id="i"
    )
    incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, dels), ["cat"], sums, batch_id="d"
    )
    view = _read_view(spark, store)
    # a's deleted row is exactly negated; b folded to count 0 → gone
    assert view == {"a": (100, 1)}


def test_agg_store_fold_compaction_preserves_view_and_guard(
    spark, tmp_path
):
    store = str(tmp_path / "aggstore_fold")
    sums = {"amt": F.col("amount_q")}
    for i in range(6):
        rows = [("a", 10 + i, 1), ("k%d" % i, 5, 1)]
        incremental.ingest_agg_deltas(
            spark, store, _sales_rows(spark, rows), ["cat"], sums,
            batch_id=f"b{i}",
        )
    before = _read_view(spark, store)
    incremental.compact_agg_store(spark, store, ["cat"], ["amt"])
    after = _read_view(spark, store)
    assert before == after
    # partial rows folded to one per live key; the seen batch ids
    # live in the manifest, not in the data
    folded = snapshot.read_snapshot(spark, store)
    assert folded.count() == len(after)
    assert folded.select("cat").distinct().count() == len(after)
    assert snapshot.read_manifest(store)["batch_ids"] == [
        f"b{i}" for i in range(6)
    ]
    # the redelivery guard survives the fold: old batch ids still bounce
    incremental.ingest_agg_deltas(
        spark, store,
        _sales_rows(spark, [("a", 999, 1)]), ["cat"], sums,
        batch_id="b3",
    )
    assert _read_view(spark, store) == after


def _jobs_started(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"jobs-probe-{os.urandom(6).hex()}"
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_agg_store_redelivery_starts_no_spark_job(spark, tmp_path):
    """The batch-id guard is answered from the manifest: redelivering a
    committed batch starts no Spark job, however many batches the
    store has seen."""
    store = str(tmp_path / "aggstore_guard")
    sums = {"amt": F.col("amount_q")}

    def ingest(i):
        incremental.ingest_agg_deltas(
            spark, store, _sales_rows(spark, [("k%d" % i, 10 + i, 1)]),
            ["cat"], sums, batch_id=f"b{i}",
        )

    assert _jobs_started(spark, lambda: ingest(0)) > 0  # probe sees jobs
    assert _jobs_started(spark, lambda: ingest(0)) == 0
    for i in range(1, 20):
        ingest(i)
    view = _read_view(spark, store)
    assert len(view) == 20
    assert _jobs_started(spark, lambda: ingest(0)) == 0
    assert _jobs_started(spark, lambda: ingest(19)) == 0
    assert _read_view(spark, store) == view


def test_agg_store_overlapping_redelivery_lands_once(
    spark, tmp_path, monkeypatch
):
    """Two deliveries of one batch overlap: the second runs to
    completion between the first's guard check and its commit. The
    append re-checks the batch id against the base it commits on, so
    the batch lands once."""
    store = str(tmp_path / "aggstore_race")
    sums = {"amt": F.col("amount_q")}
    batch = _sales_rows(spark, [("a", 10, 1), ("b", 5, 1)])
    incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, [("a", 100, 1)]), ["cat"], sums,
        batch_id="b0",
    )
    real_append = snapshot.append_snapshot
    raced = []

    def racing_append(df, table, **kw):
        if not raced:
            raced.append(table)
            incremental.ingest_agg_deltas(
                spark, store, batch, ["cat"], sums, batch_id="b1"
            )
        return real_append(df, table, **kw)

    monkeypatch.setattr(snapshot, "append_snapshot", racing_append)
    incremental.ingest_agg_deltas(
        spark, store, batch, ["cat"], sums, batch_id="b1"
    )
    assert raced == [store]
    assert _read_view(spark, store) == {"a": (110, 2), "b": (5, 1)}


def test_agg_store_rollback_reopens_the_guard(spark, tmp_path):
    """Rolling back to a version before batch X restores that
    version's batch-id set, so ingesting X again applies it."""
    store = str(tmp_path / "aggstore_rollback")
    sums = {"amt": F.col("amount_q")}
    v1 = incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, [("a", 100, 1)]), ["cat"], sums,
        batch_id="b0",
    )
    x = _sales_rows(spark, [("a", 10, 1), ("b", 5, 1)])
    incremental.ingest_agg_deltas(spark, store, x, ["cat"], sums,
                                  batch_id="x")
    snapshot.rollback_snapshot(store, v1)
    assert _read_view(spark, store) == {"a": (100, 1)}
    incremental.ingest_agg_deltas(spark, store, x, ["cat"], sums,
                                  batch_id="x")
    assert _read_view(spark, store) == {"a": (110, 2), "b": (5, 1)}


def _race_next_commit(monkeypatch, racer):
    """Run ``racer`` to completion just before the next snapshot
    commit (once); the returned list records the raced table."""
    real_commit = snapshot._commit
    raced = []

    def racing_commit(table, files, **kw):
        if not raced:
            raced.append(table)
            racer()
        return real_commit(table, files, **kw)

    monkeypatch.setattr(snapshot, "_commit", racing_commit)
    return raced


def test_agg_store_racing_first_ingests_both_land(
    spark, tmp_path, monkeypatch
):
    """Two first ingests race on creating a missing store: batch b runs
    to completion just before batch a's first commit. a's create
    conflicts on the atomic ``expected_version=0`` commit and rebases
    as an append, so both batches land (a full-overwrite create would
    silently drop b)."""
    store = str(tmp_path / "aggstore_create_race")
    sums = {"amt": F.col("amount_q")}
    b = _sales_rows(spark, [("a", 10, 1), ("b", 5, 1)])
    raced = _race_next_commit(
        monkeypatch,
        lambda: incremental.ingest_agg_deltas(
            spark, store, b, ["cat"], sums, batch_id="b"
        ),
    )
    incremental.ingest_agg_deltas(
        spark, store, _sales_rows(spark, [("a", 100, 1)]), ["cat"], sums,
        batch_id="a",
    )
    assert raced == [store]
    assert _read_view(spark, store) == {"a": (110, 2), "b": (5, 1)}
    assert snapshot.read_manifest(store)["batch_ids"] == ["a", "b"]


def test_agg_store_racing_first_ingests_of_one_batch_land_once(
    spark, tmp_path, monkeypatch
):
    """The same creation race with both deliveries carrying one batch
    id: the rebased create finds the id in the winner's manifest and
    appends nothing."""
    store = str(tmp_path / "aggstore_create_race_once")
    sums = {"amt": F.col("amount_q")}
    x = _sales_rows(spark, [("a", 10, 1), ("b", 5, 1)])
    raced = _race_next_commit(
        monkeypatch,
        lambda: incremental.ingest_agg_deltas(
            spark, store, x, ["cat"], sums, batch_id="x"
        ),
    )
    v = incremental.ingest_agg_deltas(
        spark, store, x, ["cat"], sums, batch_id="x"
    )
    assert raced == [store]
    assert v == snapshot.current_version(store)
    assert snapshot.read_manifest(store)["batch_ids"] == ["x"]
    assert _read_view(spark, store) == {"a": (10, 1), "b": (5, 1)}


def test_knn_stores_racing_first_ingests_both_land(
    spark, tmp_path, monkeypatch
):
    """The creation race on the k-NN graph ingest's three stores: batch
    b runs to completion just before batch a's first commit (its
    payload twin). a's payload, graph and vector commits all rebase as
    appends, so every store keeps both batches' rows (a full-overwrite
    create would drop b's payloads and bucket rows)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = emb.filter("vec_id < 60 AND vec_id % 2 = 0")
    b = emb.filter("vec_id < 60 AND vec_id % 2 = 1")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    pstore = str(tmp_path / "payload")

    def ingest(batch):
        incremental.ingest_knn_graph(
            spark, vstore, gstore, batch, k=3, payload_store=pstore
        )

    raced = _race_next_commit(monkeypatch, lambda: ingest(b))
    ingest(a)
    assert raced == [pstore]

    def ids(store, col):
        return {
            r[0] for r in snapshot.read_snapshot(spark, store)
            .select(col).distinct().collect()
        }

    assert ids(pstore, "vec_id") == set(range(60))
    assert ids(vstore, "vec_id") == set(range(60))
    assert {u % 2 for u in ids(gstore, "u")} == {0, 1}


def test_store_rewrites_record_the_written_schema(spark, tmp_path):
    """A fold compaction or retraction purge commits the rewritten
    frame's schema into the new manifest — equal to the written files'
    schema — and every read returns the same columns and rows before
    and after the rewrite."""
    import json

    from pyspark.sql.types import StructType

    def fields(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    def snap(df):
        return df.columns, sorted(map(tuple, df.collect()), key=repr)

    def check(store, rewrite, read):
        before = snap(read())
        raw_cols = snapshot.read_snapshot(spark, store).columns
        v = rewrite()
        m = snapshot.read_manifest(store)
        assert m["version"] == v
        written = spark.read.parquet(*[e["path"] for e in m["files"]])
        assert fields(StructType.fromJson(json.loads(m["schema"]))) == (
            fields(written.schema)
        )
        assert snap(read()) == before
        assert snapshot.read_snapshot(spark, store).columns == raw_cols

    agg = str(tmp_path / "agg")
    sums = {"amt": F.col("amount_q")}
    for i, rows in enumerate([
        [("a", 100, 1), ("b", 30, 1)], [("a", 5, 1), ("c", 7, 1)],
        [("b", 30, -1)],
    ]):
        incremental.ingest_agg_deltas(
            spark, agg, _sales_rows(spark, rows), ["cat"], sums,
            batch_id=f"b{i}",
        )
    check(
        agg,
        lambda: incremental.compact_agg_store(spark, agg, ["cat"], ["amt"]),
        lambda: incremental.read_agg_store(spark, agg, ["cat"], ["amt"]),
    )

    bkq = str(tmp_path / "bkq")
    for lo in (0, 40, 80):
        incremental.ingest_bkq_sketch(
            spark, bkq,
            spark.range(lo, lo + 40).select(
                (F.col("id") % 3).cast("int").alias("day"),
                F.col("id").alias("event_id"),
                (F.col("id") * 7 % 50).cast("double").alias("value"),
            ),
            "day", "event_id", "value", k=8,
        )
    check(
        bkq,
        lambda: incremental.compact_bkq_store(spark, bkq),
        lambda: incremental.bkq_store_cumulative_quantiles(spark, bkq),
    )

    sig = str(tmp_path / "sig")
    for lo in (0, 3):
        incremental.ingest_and_find_dups(spark, sig, _docs(spark, [
            (i, f"doc {i} " + " ".join(f"w{i}x{j}" for j in range(8)))
            for i in range(lo, lo + 3)
        ]))
    incremental.retract_docs(spark, sig, [1, 4])
    check(
        sig,
        lambda: incremental.purge_retracted(spark, sig)[0],
        lambda: incremental.read_store_live(spark, sig),
    )


def test_streaming_agg_ingest_maintains_view(spark, tmp_path):
    """Signed delta files drain into the agg store exactly once per
    epoch; the live view tracks the running aggregate. Contract note:
    unlike the id-guarded index stores, a byte-copied file redrop IS a
    new delta (CDC feeds identify deltas by offset, not content) —
    only epoch replay under one checkpoint lineage is absorbed."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.streaming import file_source

    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "saggstore")
    schema = "cat string, amount_q bigint, __sign int"

    def drop(rows, tag):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / tag)
        )
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    sums = {"amt": F.col("amount_q")}

    def process(batch_df, epoch):
        incremental.ingest_agg_deltas(
            batch_df.sparkSession, store, batch_df, ["cat"], sums,
            batch_id=f"epoch-{epoch}",
        )

    drop([("a", 100, 1), ("b", 30, 1)], "d1")
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    drop([("a", 50, 1), ("b", 30, -1)], "d2")
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    view = {
        r["cat"]: (r["amt"], r["__pcount"])
        for r in incremental.read_agg_store(
            spark, store, ["cat"], ["amt"]
        ).collect()
    }
    assert view == {"a": (150, 2)}  # b fully retracted
    # no new files → no new epochs → unchanged
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert incremental.read_agg_store(
        spark, store, ["cat"], ["amt"]
    ).count() == 1


def test_agg_store_hierarchical_distinct_counts(spark, tmp_path):
    """COUNT(DISTINCT) maintenance via the finer-grain store
    (ns_incr_category_revenue's shape): partials keyed (cat, cust,
    order) stay self-maintainable; read-time cascade derives the
    distinct counts; a delete delta retracts a customer's only order
    and the distinct count follows."""
    store = str(tmp_path / "hier")
    schema = "cat string, cust bigint, ord bigint, amount_q bigint, __sign int"
    keys = ["cat", "cust", "ord"]
    sums = {"amt": F.col("amount_q")}

    def ingest(rows, bid):
        incremental.ingest_agg_deltas(
            spark, store,
            spark.createDataFrame(rows, schema), keys, sums, batch_id=bid,
        )

    ingest([("a", 1, 10, 100, 1), ("a", 1, 11, 50, 1),
            ("a", 2, 12, 30, 1), ("b", 3, 13, 70, 1)], "b1")
    ingest([("a", 2, 12, 30, -1)], "del")  # cust 2's only order
    view = incremental.read_agg_store(spark, store, keys, ["amt"])
    per_cust = view.groupBy("cat", "cust").agg(
        F.count("*").alias("n"), F.sum("amt").alias("amt")
    )
    out = {
        r["cat"]: (r["orders"], r["custs"], r["amt"])
        for r in per_cust.groupBy("cat").agg(
            F.sum("n").alias("orders"),
            F.count("*").alias("custs"),
            F.sum("amt").alias("amt"),
        ).collect()
    }
    assert out == {"a": (2, 1, 150), "b": (1, 1, 70)}


def test_keywords_and_pmi_from_store_match_batch(spark, tmp_path):
    """r10 (VERDICT r9 task #7): TF-IDF keywords and PMI collocations
    answered from the persisted text indexes must equal the batch
    operators over the union of all drops — with df/N/T/B reflecting
    the full ingested history — across three file drops plus a
    byte-copied redelivery (the bm25_store_topk pattern)."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.functions.text import (
        keywords_from_store,
        pmi_collocations,
        tfidf_keywords,
    )
    from blinkit_etl_pipeline_spark.streaming import file_source

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    pstore = str(tmp_path / "postings")
    bstore = str(tmp_path / "bigrams")

    def process(batch_df, epoch):
        sess = batch_df.sparkSession
        incremental.ingest_bm25_postings(sess, pstore, batch_df)
        incremental.ingest_bigram_postings(sess, bstore, batch_df)

    def drop(lo, hi, tag):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
            .coalesce(1).write.parquet(str(tmp_path / tag))
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    drop(0, 30, "d1")
    drop(30, 60, "d2")
    schema = docs.schema
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    drop(60, 90, "d3")
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)

    union = docs.filter(F.col("doc_id") < 90)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got_kw = rows(
        keywords_from_store(snapshot.read_snapshot(spark, pstore), k=5)
    )
    want_kw = rows(tfidf_keywords(union, k=5))
    assert got_kw == want_kw and len(got_kw) > 0
    got_pmi = rows(
        incremental.pmi_from_store(spark, pstore, bstore, min_count=2, top=20)
    )
    want_pmi = rows(pmi_collocations(union, min_count=2, top=20))
    assert got_pmi == want_pmi and len(got_pmi) > 0

    # byte-copied redelivery: both stores' doc guards keep them unchanged
    shutil.copy(str(raw / "d2.parquet"), str(raw / "d2_again.parquet"))
    stream = file_source.stream_files(spark, str(raw), schema, fmt="parquet")
    file_source.run_available_now(stream, ckpt, process)
    assert rows(
        keywords_from_store(snapshot.read_snapshot(spark, pstore), k=5)
    ) == want_kw
    assert rows(
        incremental.pmi_from_store(spark, pstore, bstore, min_count=2, top=20)
    ) == want_pmi


def _drifted_ann_fixture(spark):
    """Deterministic drifted-corpus fixture (r10, VERDICT r9 task #3):
    ref = 100 corpus embeddings (trains codebook A); drift = 8 tight
    clusters centered on A's Voronoi BOUNDARIES (midpoints of adjacent
    centroid pairs) with skewed sizes — members straddle two stale
    cells (degrading nprobe=1 routing) while occupancy skews (raising
    PSI). Everything is seeded/exact, so the measured recalls are
    bit-reproducible."""
    import numpy as np

    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ref = emb.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    cb_a = vector.kmeans_codebook(ref, k=8, iters=5)
    ca = np.array([v for _, v in cb_a])
    centers = np.stack([ca[i] + ca[(i + 1) % 8] for i in range(8)])
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rng = np.random.default_rng(7)
    rows, vid = [], 1000
    for c, n in enumerate([10, 22, 34, 46, 58, 70, 82, 94]):
        for _ in range(n):
            v = centers[c] + 0.25 * rng.normal(size=64)
            v = v / np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    drift = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = ref.unionByName(drift).localCheckpoint(eager=True)
    qids = [r[0] for r in rows[::27]][:16]
    return ref, drift, corpus, cb_a, qids


def test_drift_triggered_ivfpq_maintenance(spark, tmp_path):
    """r10 (VERDICT r9 task #3) end-to-end: occupancy PSI crosses the
    threshold on the drifted corpus (and stays under it ref-vs-ref →
    'keep', store untouched); the maintenance retrains the coarse
    codebook and CAS-rewrites the store; probe recall drops under the
    stale codebook and the rebuilt one recovers it; a reader pinned to
    the pre-rebuild version still reads the OLD codes."""
    from blinkit_etl_pipeline_spark.operators import vector
    from blinkit_etl_pipeline_spark.plans.codebook import PQ_CODEBOOK

    ref, drift, corpus, cb_a, qids = _drifted_ann_fixture(spark)
    store = str(tmp_path / "ivfpq")
    incremental.ingest_ivfpq_codes(spark, store, corpus, cb_a, PQ_CODEBOOK)
    v1 = snapshot.current_version(store)
    pinned = snapshot.read_snapshot(spark, store, v1)
    old_rows = sorted(map(tuple, pinned.collect()))

    # no drift → keep: ref against itself stays under the threshold
    cb_keep, psi0, action0 = incremental.maintain_ivfpq_codebook(
        spark, store, ref, ref, cb_a, PQ_CODEBOOK
    )
    assert action0 == "keep" and cb_keep is cb_a and psi0 < 0.1
    assert snapshot.current_version(store) == v1

    # drifted corpus → PSI over threshold → retrain + rewrite
    cb_b, psi1, action1 = incremental.maintain_ivfpq_codebook(
        spark, store, ref, corpus, cb_a, PQ_CODEBOOK, cur_emb=drift,
        iters=8,
    )
    assert action1 == "rebuilt" and psi1 > 0.1
    assert snapshot.current_version(store) == v1 + 1

    # recall: stale routing loses what the retrained codebook recovers
    truth = vector.brute_force_topk(corpus, qids, k=5).select(
        "query_id", "neighbor_id"
    )

    def recall(cb):
        got = vector.ivf_topk(corpus, qids, k=5, nprobe=1, codebook=cb)
        return (
            got.select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"])
            .count()
            / (len(qids) * 5)
        )

    r_stale, r_fresh = recall(cb_a), recall(cb_b)
    assert r_fresh >= r_stale + 0.1, (r_stale, r_fresh)

    # the rewritten store answers identically to on-the-fly encoding
    # under the NEW codebook (store ≡ derivation, the store contract)
    codes = snapshot.read_snapshot(spark, store)
    got = sorted(map(tuple, vector.ivfpq_store_topk(
        codes, corpus, qids, cb_b, PQ_CODEBOOK, k=5, nprobe=2
    ).collect()))
    want = sorted(map(tuple, vector.ivfpq_topk(
        corpus, qids, cb_b, PQ_CODEBOOK, k=5, nprobe=2
    ).collect()))
    assert got == want
    # MVCC: the pinned pre-rebuild version still reads the OLD codes
    assert sorted(map(tuple, pinned.collect())) == old_rows
    assert sorted(
        map(tuple, snapshot.read_snapshot(spark, store, v1).collect())
    ) == old_rows


def test_streaming_knn_graph_store_equals_batch_seeds(spark, tmp_path):
    """r10: the incremental k-NN graph — candidate edges accumulated
    across embedding drops fold to EXACTLY the batch seed graph
    (vector.knn_graph(union, iters=0)) for this arrival order, a
    redelivered drop changes nothing, and compaction bounds the store
    at ≤k rows per node without changing reads (the top-k merge
    semilattice, end-to-end through the store)."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.operators import vector
    from blinkit_etl_pipeline_spark.streaming import file_source

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")

    def process(batch_df, epoch):
        incremental.ingest_knn_graph(
            batch_df.sparkSession, vstore, gstore, batch_df, k=5
        )

    def drop(pred, tag):
        emb.filter(pred).coalesce(1).write.parquet(str(tmp_path / tag))
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    drop(F.col("vec_id") % 3 == 0, "d1")
    drop(F.col("vec_id") % 3 == 1, "d2")
    stream = file_source.stream_files(
        spark, str(raw), emb.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)
    drop(F.col("vec_id") % 3 == 2, "d3")
    stream = file_source.stream_files(
        spark, str(raw), emb.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = rows(vector.knn_graph(emb, k=5, iters=0))
    got = rows(incremental.knn_graph_from_store(spark, gstore, k=5))
    assert got == want and len(got) > 0

    # byte-copied redelivery: the vec_id guard skips the whole drop
    shutil.copy(str(raw / "d2.parquet"), str(raw / "d2_again.parquet"))
    stream = file_source.stream_files(
        spark, str(raw), emb.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)
    assert rows(incremental.knn_graph_from_store(spark, gstore, k=5)) == want

    # compaction: reads unchanged, rows bounded by k per node
    incremental.compact_knn_store(spark, gstore, k=5)
    assert rows(incremental.knn_graph_from_store(spark, gstore, k=5)) == want
    per_node = (
        snapshot.read_snapshot(spark, gstore).groupBy("u").count()
    )
    assert per_node.agg(F.max("count")).collect()[0][0] <= 5


def test_knn_store_takedown_contract(spark, tmp_path):
    """r10: retraction on the knn vector store — reads exclude every
    edge touching a retracted vec_id, retracted ids never re-enter,
    and within the ingest's store_k slack (default k+3) the
    post-takedown read is EXACT vs the batch graph over survivors
    (r retracted ids remove ≤ r candidates from any node's list, so
    r ≤ slack guarantees it)."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    incremental.ingest_knn_graph(spark, vstore, gstore, emb, k=5)
    gone = [7, 42]
    incremental.retract_docs(spark, vstore, gone, id_col="vec_id")
    got = incremental.knn_graph_from_store(
        spark, gstore, k=5, vec_store=vstore
    )
    assert got.filter(
        F.col("node_id").isin(gone) | F.col("neighbor_id").isin(gone)
    ).count() == 0

    def rows(df):
        return sorted(map(tuple, df.collect()))

    survivors = emb.filter(~F.col("vec_id").isin(gone))
    assert rows(got) == rows(vector.knn_graph(survivors, k=5, iters=0))
    # a retracted id in a later batch is refused re-entry
    incremental.ingest_knn_graph(
        spark, vstore, gstore, emb.filter(F.col("vec_id").isin(gone)), k=5
    )
    assert rows(
        incremental.knn_graph_from_store(
            spark, gstore, k=5, vec_store=vstore
        )
    ) == rows(vector.knn_graph(survivors, k=5, iters=0))


def test_knn_graph_refine_from_store_equals_batch(spark, tmp_path):
    """r10: read-time NN-Descent over persisted state — refining the
    store's seed graph must be BIT-equal to the batch
    vector.knn_graph(union, iters) for the same k/iters (shared rounds
    implementation over identical seeds), including after a takedown
    (refinement never resurrects a retracted node)."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    for m in (0, 1):
        incremental.ingest_knn_graph(
            spark, vstore, gstore, emb.filter(F.col("vec_id") % 2 == m),
            k=5,
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = incremental.knn_graph_refine(spark, gstore, vstore, k=5, iters=1)
    want = vector.knn_graph(emb, k=5, iters=1)
    assert rows(got) == rows(want)
    # takedown, then refine: the retracted id appears nowhere
    incremental.retract_docs(spark, vstore, [3], id_col="vec_id")
    got2 = incremental.knn_graph_refine(spark, gstore, vstore, k=5, iters=1)
    assert got2.filter(
        (F.col("node_id") == 3) | (F.col("neighbor_id") == 3)
    ).count() == 0


def test_collocations_for_terms_pruned_probe(spark, tmp_path):
    """r10: term-scoped collocation lookup from the pruned indexes —
    value-identical to the batch PMI restricted to bigrams led by the
    probe terms, with totals drawn from stats partials (never a
    corpus-linear fold) and the bigram read opening only the probed
    bkey range's files."""
    from blinkit_etl_pipeline_spark.functions.text import pmi_collocations

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 90)
    pstore = str(tmp_path / "postings")
    bstore = str(tmp_path / "bigrams")
    # pin the file granularity: the default file count follows the
    # session's parallelism and is one file per batch on small machines
    snapshot.ensure_table_properties(bstore, {"target_file_rows": 50})
    for m in (0, 1, 2):
        batch = docs.filter(F.col("doc_id") % 3 == m)
        incremental.ingest_bm25_postings(spark, pstore, batch)
        incremental.ingest_bigram_postings(spark, bstore, batch)
    # pick probe terms that actually lead bigrams
    want_all = pmi_collocations(docs, min_count=2, top=10_000)
    terms = sorted(
        {r["w1"] for r in want_all.select("w1").limit(50).collect()}
    )[:3]
    assert terms

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = incremental.collocations_for_terms(
        spark, pstore, bstore, terms, min_count=2, top=20
    )
    want = (
        want_all.filter(F.col("w1").isin(terms))
        .orderBy(
            F.col("pmi_q").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(20)
    )
    assert rows(got) == rows(want) and got.count() > 0
    # the probe's bigram read is file-pruned: probed bkeys select a
    # strict subset of the store's files
    m = snapshot.read_manifest(bstore)
    bkeys = [
        r["k"]
        for r in spark.createDataFrame([(t,) for t in terms], "w string")
        .select(F.xxhash64("w").alias("k"))
        .collect()
    ]
    pruned = snapshot._pruned_entries(m, sorted(bkeys))
    assert pruned is not None and len(pruned) < len(m["files"])


def test_graph_search_from_store_equals_batch(spark, tmp_path):
    """r10 addendum: ANN serving from persisted state — seeds come
    from the vector store's pruned bucket files, the walk runs the
    shared traversal rounds, and the result is BIT-equal to the batch
    graph_search_topk over the ingested union with the store's seed
    graph (identical candidate sets by construction). After a
    takedown, the retracted id neither seeds nor is reachable, and
    the search equals the batch walk over survivors."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    for m in (0, 1):
        incremental.ingest_knn_graph(
            spark, vstore, gstore, emb.filter(F.col("vec_id") % 2 == m),
            k=5,
        )
    qids = list(range(10))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = incremental.graph_search_from_store(
        spark, gstore, vstore, qids, k=5, beam=8, rounds=2
    )
    want = vector.graph_search_topk(
        emb, vector.knn_graph(emb, k=5, iters=0), qids,
        k=5, beam=8, rounds=2,
    )
    assert rows(got) == rows(want) and got.count() > 0

    gone = [3, 42]
    incremental.retract_docs(spark, vstore, gone, id_col="vec_id")
    got2 = incremental.graph_search_from_store(
        spark, gstore, vstore, qids, k=5, beam=8, rounds=2
    )
    assert got2.filter(
        F.col("query_id").isin(gone) | F.col("neighbor_id").isin(gone)
    ).count() == 0
    survivors = emb.filter(~F.col("vec_id").isin(gone))
    want2 = vector.graph_search_topk(
        survivors, vector.knn_graph(survivors, k=5, iters=0),
        [q for q in qids if q not in gone], k=5, beam=8, rounds=2,
    )
    assert rows(got2) == rows(want2)


def test_hll_register_store_lifecycle(spark, tmp_path):
    """r10 addendum: incremental COUNT DISTINCT — the register store's
    merge-on-read must equal the one-shot batch sketch over everything
    ingested for ANY batch split (max semilattice), a redelivered
    batch_id appends nothing, and compaction folds the history to
    ≤512 rows per group without changing reads."""
    from blinkit_etl_pipeline_spark.operators import sketch

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "event_type", "user_id")
    )
    store = str(tmp_path / "hll_users")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = rows(sketch.hll_distinct(ev, ["event_type"], "user_id"))
    for m in (0, 1, 2):
        incremental.ingest_hll_registers(
            spark, store, ev.filter(F.col("event_id") % 3 == m),
            ["event_type"], "user_id", batch_id=f"d{m}",
        )
    got = incremental.hll_distinct_from_store(
        spark, store, ["event_type"]
    )
    assert rows(got) == want and len(want) > 0

    # redelivery: same batch_id (even with different rows) is a no-op
    v = snapshot.current_version(store)
    incremental.ingest_hll_registers(
        spark, store, ev, ["event_type"], "user_id", batch_id="d1",
    )
    assert snapshot.current_version(store) == v
    assert rows(
        incremental.hll_distinct_from_store(spark, store, ["event_type"])
    ) == want

    # compaction: reads unchanged, ≤512 register rows per group, and
    # the redelivery guard still knows the folded batch ids
    incremental.compact_hll_store(spark, store, ["event_type"])
    assert rows(
        incremental.hll_distinct_from_store(spark, store, ["event_type"])
    ) == want
    per_group = (
        snapshot.read_snapshot(spark, store)
        .filter(F.col("bucket").isNotNull())
        .groupBy("event_type")
        .count()
    )
    assert per_group.agg(F.max("count")).collect()[0][0] <= 512
    incremental.ingest_hll_registers(
        spark, store, ev, ["event_type"], "user_id", batch_id="d2",
    )
    assert rows(
        incremental.hll_distinct_from_store(spark, store, ["event_type"])
    ) == want


def test_streaming_hll_ingest_equals_batch(spark, tmp_path):
    """r10 addendum: the streaming HLL twin — event file drops drained
    through two AvailableNow sweeps fold to EXACTLY the batch sketch
    over everything that arrived, and a crash-replayed sweep (same
    checkpoint, no new files) changes nothing."""
    import glob as _glob
    import shutil

    from blinkit_etl_pipeline_spark.operators import sketch
    from blinkit_etl_pipeline_spark.streaming import file_source

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "event_type", "user_id")
    )
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "hll")

    def process(batch_df, epoch):
        incremental.ingest_hll_registers(
            batch_df.sparkSession, store, batch_df, ["event_type"],
            "user_id", batch_id=f"epoch-{epoch}",
        )

    def drop(pred, tag):
        ev.filter(pred).coalesce(1).write.parquet(str(tmp_path / tag))
        src = _glob.glob(str(tmp_path / tag / "part-*.parquet"))[0]
        shutil.copy(src, str(raw / f"{tag}.parquet"))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    drop(F.col("event_id") % 3 == 0, "d1")
    stream = file_source.stream_files(
        spark, str(raw), ev.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)
    drop(F.col("event_id") % 3 == 1, "d2")
    drop(F.col("event_id") % 3 == 2, "d3")
    stream = file_source.stream_files(
        spark, str(raw), ev.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)
    want = rows(sketch.hll_distinct(ev, ["event_type"], "user_id"))
    assert rows(
        incremental.hll_distinct_from_store(spark, store, ["event_type"])
    ) == want
    # replayed sweep with nothing new: checkpoint absorbs it
    v = snapshot.current_version(store)
    stream = file_source.stream_files(
        spark, str(raw), ev.schema, fmt="parquet"
    )
    file_source.run_available_now(stream, ckpt, process)
    assert snapshot.current_version(store) == v
    assert rows(
        incremental.hll_distinct_from_store(spark, store, ["event_type"])
    ) == want


def test_cms_counter_store_retraction_exact(spark, tmp_path):
    """r10 addendum: the CMS counter store — signed drops maintain the
    sketch EXACTLY under retraction (counter linearity): after a
    delete drop negating prior inserts, the merged cells equal a
    one-shot sketch over the survivors; redelivery is a no-op;
    compaction folds to ≤ d·w live rows without changing probes."""
    from blinkit_etl_pipeline_spark.operators import sketch

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id")
    )
    store = str(tmp_path / "cms")
    cutoff = F.lit("2024-01-21 00:00:00").cast("timestamp")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for m in (0, 1, 2):
        incremental.ingest_cms_cells(
            spark, store,
            ev.filter(F.col("event_id") % 3 == m).withColumn(
                "__sign", F.lit(1)
            ),
            "user_id", batch_id=f"d{m}",
        )
    incremental.ingest_cms_cells(
        spark, store,
        ev.filter(F.col("ts") > cutoff).withColumn("__sign", F.lit(-1)),
        "user_id", batch_id="retract",
    )
    survivors = ev.filter(F.col("ts") <= cutoff)
    want_cells = rows(sketch.cms_cells(survivors, "user_id"))
    assert rows(
        incremental.cms_cells_from_store(spark, store)
    ) == want_cells and len(want_cells) > 0

    items = survivors.select(
        F.col("user_id").alias("value")
    ).distinct().limit(50)
    want_probe = rows(
        sketch.cms_probe(
            sketch.cms_cells(survivors, "user_id"), items, "value"
        )
    )
    assert rows(
        incremental.cms_probe_from_store(spark, store, items, "value")
    ) == want_probe

    # redelivery guard + compaction
    v = snapshot.current_version(store)
    incremental.ingest_cms_cells(
        spark, store, ev.withColumn("__sign", F.lit(1)),
        "user_id", batch_id="d1",
    )
    assert snapshot.current_version(store) == v
    incremental.compact_cms_store(spark, store)
    live = incremental.cms_cells_from_store(spark, store)
    assert rows(live) == want_cells
    assert live.count() <= sketch.CMS_D * sketch.CMS_W
    incremental.ingest_cms_cells(
        spark, store, ev.withColumn("__sign", F.lit(1)),
        "user_id", batch_id="retract",
    )
    assert rows(
        incremental.cms_cells_from_store(spark, store)
    ) == want_cells


def test_backfill_knn_depth_restores_exactness(spark, tmp_path):
    """r10 addendum: takedowns beyond the ingest slack break the knn
    store's read exactness (the documented trade); backfill_knn_depth
    finds exactly the over-drained nodes, re-scores them against live
    pruned bucket mates, and restores read ≡ batch-over-survivors for
    EVERY node. With no tombstones the pass is a no-op."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    # store_k = k: ZERO slack, so any retracted stored mate drains a node
    incremental.ingest_knn_graph(
        spark, vstore, gstore, emb, k=5, store_k=5,
    )
    v0 = snapshot.current_version(gstore)
    assert incremental.backfill_knn_depth(
        spark, vstore, gstore, k=5, store_k=5
    ) == v0  # no tombstones: no-op

    # retract ids that actually sit in stored neighbor lists
    gone = [
        int(r["v"])
        for r in snapshot.read_snapshot(spark, gstore)
        .select("v").distinct().limit(4).collect()
    ]
    incremental.retract_docs(spark, vstore, gone, id_col="vec_id")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    survivors = emb.filter(~F.col("vec_id").isin(gone))
    want = rows(vector.knn_graph(survivors, k=5, iters=0))
    got_before = rows(
        incremental.knn_graph_from_store(
            spark, gstore, k=5, vec_store=vstore
        )
    )
    assert got_before != want  # zero slack: the drain is visible
    incremental.backfill_knn_depth(spark, vstore, gstore, k=5, store_k=5)
    got_after = rows(
        incremental.knn_graph_from_store(
            spark, gstore, k=5, vec_store=vstore
        )
    )
    assert got_after == want
    # idempotent: a second pass only appends identical-cosine rows
    incremental.backfill_knn_depth(spark, vstore, gstore, k=5, store_k=5)
    assert rows(
        incremental.knn_graph_from_store(
            spark, gstore, k=5, vec_store=vstore
        )
    ) == want


def test_graph_search_out_of_corpus(spark, tmp_path):
    """r10 addendum: external query vectors (not corpus members) —
    the production serving case. A query duplicating a corpus vector
    must return that member at rank 1 with cosine 1.0; the store path
    (driver-side bucket hashing + pruned seed files) must be bit-equal
    to the batch walk over the ingested union."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qext = emb.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    g0 = vector.knn_graph(emb, k=5, iters=0)
    got = vector.graph_search_embed(
        emb, g0, qext, k=5, beam=8, rounds=2
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    batch = rows(got)
    assert len(batch) == 4 * 5
    rank1 = {
        (qid, nid, cos)
        for qid, nid, cos, rank in batch
        if rank == 1
    }
    assert rank1 == {
        (1_000_000 + i, i, 1.0) for i in range(4)
    }
    # determinism
    assert rows(
        vector.graph_search_embed(emb, g0, qext, k=5, beam=8, rounds=2)
    ) == batch

    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    for m in (0, 1):
        incremental.ingest_knn_graph(
            spark, vstore, gstore, emb.filter(F.col("vec_id") % 2 == m),
            k=5,
        )
    got_store = rows(
        incremental.graph_search_from_store(
            spark, gstore, vstore, queries_emb=qext,
            k=5, beam=8, rounds=2,
        )
    )
    assert got_store == batch


def test_sq8_knn_store_serves_bit_equal_and_pins_quantizer(
    spark, tmp_path
):
    """r11: the memory-lean serving combo (VERDICT r10 #2) — a knn
    vector store persisting SQ8 byte codes instead of qvec. Across a
    two-batch split the store walk is BIT-equal to the batch twin
    (knn_graph_sq8 iters=0 + graph_search_sq8_topk) over the union
    with the PINNED quantizer; a takedown removes the id from seeds
    and reachability and the walk equals the batch twin over
    survivors; a later ingest passing different stats fails loudly
    (the write-once quantizer contract)."""
    import pytest as _pytest

    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    stats = vector.sq8_stats(emb)
    for m in (0, 1):
        incremental.ingest_knn_graph_sq8(
            spark, vstore, gstore,
            emb.filter(F.col("vec_id") % 2 == m), k=5, stats=stats,
        )
    qids = list(range(10))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = incremental.graph_search_from_store(
        spark, gstore, vstore, qids, k=5, beam=8, rounds=2
    )
    want = vector.graph_search_sq8_topk(
        emb, vector.knn_graph_sq8(emb, k=5, iters=0, stats=stats),
        qids, k=5, beam=8, rounds=2, stats=stats,
    )
    assert rows(got) == rows(want) and got.count() > 0

    # the store's vector payload is codes, not the lattice vectors
    cols = set(snapshot.read_snapshot(spark, vstore).columns)
    assert "codes" in cols and "qvec" not in cols

    # takedown: retracted ids neither seed nor get served
    gone = [3, 42]
    incremental.retract_docs(spark, vstore, gone, id_col="vec_id")
    got2 = incremental.graph_search_from_store(
        spark, gstore, vstore, qids, k=5, beam=8, rounds=2
    )
    assert got2.filter(
        F.col("query_id").isin(gone) | F.col("neighbor_id").isin(gone)
    ).count() == 0
    survivors = emb.filter(~F.col("vec_id").isin(gone))
    want2 = vector.graph_search_sq8_topk(
        survivors,
        vector.knn_graph_sq8(survivors, k=5, iters=0, stats=stats),
        [q for q in qids if q not in gone],
        k=5, beam=8, rounds=2, stats=stats,
    )
    assert rows(got2) == rows(want2)

    # quantizer is write-once: different stats must fail loudly
    bad = [(mn - 1, mx + 1) for mn, mx in stats]
    with _pytest.raises(snapshot.SnapshotError, match="pinned quantizer"):
        incremental.ingest_knn_graph_sq8(
            spark, vstore, gstore, emb.limit(1), k=5, stats=bad,
        )


def test_sq8_knn_store_trains_on_first_batch_and_serves_external(
    spark, tmp_path
):
    """r11: stats=None trains the quantizer on the FIRST batch and
    pins it (later batches encode against it — FAISS stored-quantizer
    clamping); external full-precision queries walk the SQ8 store
    ADC-style, and a query duplicating a corpus member returns it at
    rank 1 with cosine 1.0 even through the reconstructed corpus."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vstore = str(tmp_path / "vecs")
    gstore = str(tmp_path / "graph")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    incremental.ingest_knn_graph_sq8(spark, vstore, gstore, first, k=5)
    pinned = snapshot.table_properties(vstore)["sq8_stats"]
    want_stats = vector.sq8_stats(first)
    assert [tuple(s) for s in pinned] == [tuple(s) for s in want_stats]
    incremental.ingest_knn_graph_sq8(
        spark, vstore, gstore, emb.filter(F.col("vec_id") % 2 == 1), k=5
    )
    # still the first batch's stats — NOT retrained on the union
    assert snapshot.table_properties(vstore)["sq8_stats"] == pinned

    qext = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    got = incremental.graph_search_from_store(
        spark, gstore, vstore, k=5, beam=8, rounds=2, queries_emb=qext
    )
    rows = sorted(map(tuple, got.collect()))
    assert len(rows) == 3 * 5
    # ADC against the recon corpus: the duplicated member still wins
    # at cosine 1.0 only if recon(x) is parallel to x — not guaranteed;
    # what IS guaranteed: the twin is the rank-1 hit (max ADC cosine).
    rank1 = {(q, n) for q, n, cos, r in rows if r == 1}
    assert rank1 == {(1_000_000 + i, i) for i in range(3)}


def test_drift_store_read_equals_recompute_retracts_and_compacts(
    spark, tmp_path
):
    """r11 (VERDICT r10 #3): PSI from maintained bucket partials —
    the store read (reference at the pinned version, arrivals by
    linear subtraction) equals profile.drift_psi over recomputed
    slice histograms; a redelivered drop is a no-op; a signed
    retraction drop makes the read equal the survivors' recompute;
    compaction folds live rows without changing reads, and the
    PINNED reference version stays readable through it (MVCC)."""
    from blinkit_etl_pipeline_spark.operators import profile
    from blinkit_etl_pipeline_spark.plans.northstar import (
        _drift_partials,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    parity = F.substring(F.col("source"), 4, 10).cast("int") % 2
    ref_docs = docs.filter(parity == 0)
    cur_docs = docs.filter(parity == 1)
    store = str(tmp_path / "drift")
    ref_v = incremental.ingest_drift_buckets(
        spark, store, _drift_partials(ref_docs), batch_id="ref"
    )
    incremental.ingest_drift_buckets(
        spark, store, _drift_partials(cur_docs), batch_id="cur"
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def recompute(ref_d, cur_d):
        pair = _drift_partials(ref_d).select(
            "feature", "bucket", F.lit(False).alias("is_cur"), "cnt"
        ).unionByName(
            _drift_partials(cur_d).select(
                "feature", "bucket", F.lit(True).alias("is_cur"), "cnt"
            )
        )
        return profile.drift_psi(pair)

    want = rows(recompute(ref_docs, cur_docs))
    assert rows(
        incremental.drift_from_store(spark, store, ref_v)
    ) == want

    # redelivery: same batch_id → guard absorbs it, read unchanged
    incremental.ingest_drift_buckets(
        spark, store, _drift_partials(cur_docs), batch_id="cur"
    )
    assert rows(
        incremental.drift_from_store(spark, store, ref_v)
    ) == want

    # signed retraction: negate half the arrivals; read ≡ survivors
    half = cur_docs.filter(F.col("doc_id") % 2 == 0)
    incremental.ingest_drift_buckets(
        spark, store,
        _drift_partials(half).withColumn("cnt", -F.col("cnt")),
        batch_id="retract-half",
    )
    survivors = cur_docs.filter(F.col("doc_id") % 2 == 1)
    assert rows(
        incremental.drift_from_store(spark, store, ref_v)
    ) == rows(recompute(ref_docs, survivors))

    # compaction: live rows fold, reads (latest AND pinned) unchanged
    got_before = rows(incremental.drift_from_store(spark, store, ref_v))
    incremental.compact_drift_store(spark, store)
    assert rows(
        incremental.drift_from_store(spark, store, ref_v)
    ) == got_before
    live = snapshot.read_snapshot(spark, store).filter(
        F.col("bucket").isNotNull()
    )
    assert live.groupBy("feature", "bucket").count().agg(
        F.max("count")
    ).collect()[0][0] == 1


def test_ivfpq_maintenance_gate_from_drift_store(spark, tmp_path):
    """r11 (VERDICT r10 #3): the codebook-maintenance PSI gate served
    from the drift store — occupancy partials ingested per drop, the
    reference version pinned at training, the gate read from
    drift_pair_from_store. Keep- and rebuild-decisions (and the PSI
    value itself) match the recompute gate bit-for-bit, and the
    rebuild path still rewrites the store."""
    from blinkit_etl_pipeline_spark.operators import profile
    from blinkit_etl_pipeline_spark.plans.codebook import PQ_CODEBOOK

    ref, drift, corpus, cb_a, qids = _drifted_ann_fixture(spark)
    dstore = str(tmp_path / "driftstore")
    istore = str(tmp_path / "ivfpq")
    incremental.ingest_ivfpq_codes(spark, istore, corpus, cb_a, PQ_CODEBOOK)
    v_codes = snapshot.current_version(istore)

    # keep case: arrivals distributed like the reference slice
    keep_store = str(tmp_path / "driftstore-keep")
    kv = incremental.ingest_drift_buckets(
        spark, keep_store,
        incremental.ivf_occupancy_partial(ref, cb_a),
        batch_id="train-slice",
    )
    incremental.ingest_drift_buckets(
        spark, keep_store,
        incremental.ivf_occupancy_partial(ref, cb_a),
        batch_id="arrivals-ref-like",
    )
    pair0 = incremental.drift_pair_from_store(spark, keep_store, kv)
    cb_keep, psi0, action0 = incremental.maintain_ivfpq_codebook(
        spark, istore, None, corpus, cb_a, PQ_CODEBOOK, buckets=pair0
    )
    want0 = profile.drift_psi(
        incremental.ivf_occupancy_buckets(ref, ref, cb_a)
    ).collect()[0]
    assert action0 == "keep" and cb_keep is cb_a
    assert psi0 == float(want0["psi"]) and psi0 < 0.1
    assert snapshot.current_version(istore) == v_codes

    # drifted arrivals land → gate reads the store → rebuild
    ref_v = incremental.ingest_drift_buckets(
        spark, dstore,
        incremental.ivf_occupancy_partial(ref, cb_a),
        batch_id="train-slice",
    )
    incremental.ingest_drift_buckets(
        spark, dstore,
        incremental.ivf_occupancy_partial(drift, cb_a),
        batch_id="arrivals-drifted",
    )
    pair1 = incremental.drift_pair_from_store(spark, dstore, ref_v)
    cb_b, psi1, action1 = incremental.maintain_ivfpq_codebook(
        spark, istore, None, corpus, cb_a, PQ_CODEBOOK, buckets=pair1,
        iters=8,
    )
    want1 = profile.drift_psi(
        incremental.ivf_occupancy_buckets(ref, drift, cb_a)
    ).collect()[0]
    assert psi1 == float(want1["psi"])
    assert action1 == "rebuilt" and psi1 > 0.1
    assert snapshot.current_version(istore) == v_codes + 1


def test_hll_cumulative_from_store_equals_batch(spark, tmp_path):
    """r11 (VERDICT r10 #4): distinct-to-date from the maintained HLL
    register store — across three id-split drops (late data lands
    registers for old days), a redelivery, and a register-fold
    compaction, the store read equals the batch
    sketch.hll_cumulative_distinct estimates over everything
    ingested (max-semilattice, end-to-end through the store)."""
    from blinkit_etl_pipeline_spark.operators import sketch

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            "event_id", F.to_date("ts").alias("day"), "user_id"
        )
    )
    store = str(tmp_path / "hllcum")
    for m in (0, 1, 2):
        incremental.ingest_hll_registers(
            spark, store, ev.filter(F.col("event_id") % 3 == m),
            ["day"], "user_id", batch_id=f"d{m}",
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = rows(
        sketch.hll_cumulative_distinct(ev, "day", "user_id").select(
            "day", "hll_buckets_used", "hll_estimate"
        )
    )
    got = rows(incremental.hll_cumulative_from_store(spark, store, "day"))
    assert got == want and len(got) > 0

    # redelivery is a no-op; compaction folds without changing reads
    incremental.ingest_hll_registers(
        spark, store, ev.filter(F.col("event_id") % 3 == 2),
        ["day"], "user_id", batch_id="d2",
    )
    assert rows(
        incremental.hll_cumulative_from_store(spark, store, "day")
    ) == want
    incremental.compact_hll_store(spark, store, ["day"])
    assert rows(
        incremental.hll_cumulative_from_store(spark, store, "day")
    ) == want


def test_takedown_fans_out_to_all_store_formats(spark, tmp_path):
    """r11 (VERDICT r10 #8): one takedown() call retracts a doc set
    from six store formats at once; the audit's live view shows zero
    surviving references anywhere; probes/reads of every format stop
    serving the ids; re-running the same call is a no-op (crash-safe
    repair semantics); and the knn GRAPH stores — riding their vector
    stores' tombstones — drop every edge touching a retracted id."""
    from blinkit_etl_pipeline_spark.operators import vector

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).filter(F.col("doc_id") < 40)
    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).filter(F.col("vec_id") < 120)
    s = {n: str(tmp_path / n) for n in (
        "sig", "span", "bm25", "bigram", "kv", "kg", "sv", "sg",
    )}
    incremental.ingest_and_find_dups(spark, s["sig"], docs)
    incremental.ingest_and_find_dup_spans(spark, s["span"], docs)
    incremental.ingest_bm25_postings(spark, s["bm25"], docs)
    incremental.ingest_bigram_postings(spark, s["bigram"], docs)
    incremental.ingest_knn_graph(spark, s["kv"], s["kg"], emb)
    incremental.ingest_knn_graph_sq8(spark, s["sv"], s["sg"], emb)

    gone = [3, 11, 17]
    targets = [
        (s["sig"], "doc_id"), (s["span"], "doc_id"),
        (s["bm25"], "doc_id"), (s["bigram"], "doc_id"),
        (s["kv"], "vec_id"), (s["sv"], "vec_id"),
    ]
    v1 = incremental.takedown(spark, gone, targets)
    # idempotent repair: the same request re-fans-out to no new rows
    assert incremental.takedown(spark, gone, targets) == v1

    audit = incremental.takedown_audit(spark, gone, [
        ("sig", s["sig"], "doc_id"), ("span", s["span"], "doc_id"),
        ("bm25", s["bm25"], "doc_id"), ("bigram", s["bigram"], "doc_id"),
        ("knn_vec", s["kv"], "vec_id"), ("sq8_vec", s["sv"], "vec_id"),
    ])
    rows = {r["surface"]: r for r in audit.collect()}
    assert len(rows) == 6
    assert all(r["retracted_refs"] == 0 for r in rows.values())
    assert all(r["live_ids"] > 0 for r in rows.values())
    assert rows["knn_vec"]["live_ids"] == 120 - len(gone)

    # every read path stops serving the ids
    for gstore, vstore in ((s["kg"], s["kv"]), (s["sg"], s["sv"])):
        g = incremental.knn_graph_from_store(
            spark, gstore, k=5, vec_store=vstore
        )
        assert g.filter(
            F.col("node_id").isin(gone) | F.col("neighbor_id").isin(gone)
        ).count() == 0
    probe = incremental.bm25_store_probe(
        spark, s["bm25"],
        docs.filter(F.col("doc_id") == 3).select("doc_id", "text"),
    )
    assert probe.filter(F.col("doc_id").isin(gone)).count() == 0


def test_slim_knn_layout_bit_equal_across_surfaces(spark, tmp_path):
    """r11: the slim store layout (key-only bucket rows + payload
    twin — the deployment shape) is bit-equal to the payload-carrying
    layout on every surface: serving walk, takedown path, SQ8
    variant, and depth backfill. The twin is pinned write-once; a
    layout switch on a populated store fails loudly."""
    import pytest as _pytest

    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(10))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    vs, gs, ps = (str(tmp_path / n) for n in ("v", "g", "p"))
    for m in (0, 1):
        incremental.ingest_knn_graph(
            spark, vs, gs, emb.filter(F.col("vec_id") % 2 == m),
            k=5, payload_store=ps,
        )
    # slim rows carry keys only; the twin holds one payload per vec
    cols = set(snapshot.read_snapshot(spark, vs).columns)
    assert cols == {"vec_id", "t", "bucket", "tb"}
    assert snapshot.read_snapshot(spark, ps).select(
        "vec_id"
    ).distinct().count() == emb.count()

    got = incremental.graph_search_from_store(
        spark, gs, vs, qids, k=5, beam=8, rounds=2
    )
    want = vector.graph_search_topk(
        emb, vector.knn_graph(emb, k=5, iters=0), qids,
        k=5, beam=8, rounds=2,
    )
    assert rows(got) == rows(want)

    gone = [3, 42]
    incremental.retract_docs(spark, vs, gone, id_col="vec_id")
    surv = emb.filter(~F.col("vec_id").isin(gone))
    got2 = incremental.graph_search_from_store(
        spark, gs, vs, qids, k=5, beam=8, rounds=2
    )
    want2 = vector.graph_search_topk(
        surv, vector.knn_graph(surv, k=5, iters=0),
        [q for q in qids if q not in gone], k=5, beam=8, rounds=2,
    )
    assert rows(got2) == rows(want2)

    # layout is write-once: dropping or changing the twin fails loudly
    with _pytest.raises(snapshot.SnapshotError, match="payload"):
        incremental.ingest_knn_graph(spark, vs, gs, emb.limit(1), k=5)
    with _pytest.raises(snapshot.SnapshotError, match="payload"):
        incremental.ingest_knn_graph(
            spark, vs, gs, emb.limit(1), k=5,
            payload_store=str(tmp_path / "other"),
        )

    # SQ8 slim twin ≡ SQ8 batch twin
    stats = vector.sq8_stats(emb)
    v2, g2, p2 = (str(tmp_path / n) for n in ("v2", "g2", "p2"))
    for m in (0, 1):
        incremental.ingest_knn_graph_sq8(
            spark, v2, g2, emb.filter(F.col("vec_id") % 2 == m),
            k=5, stats=stats, payload_store=p2,
        )
    got3 = incremental.graph_search_from_store(
        spark, g2, v2, qids, k=5, beam=8, rounds=2
    )
    want3 = vector.graph_search_sq8_topk(
        emb, vector.knn_graph_sq8(emb, k=5, iters=0, stats=stats),
        qids, k=5, beam=8, rounds=2, stats=stats,
    )
    assert rows(got3) == rows(want3)


def test_slim_knn_layout_backfill(spark, tmp_path):
    """r11: depth backfill through the slim layout — the identify
    fold and the re-pair kernel read payloads from the twin; after
    repair the read equals the batch seed graph over survivors."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps = (str(tmp_path / n) for n in ("v", "g", "p"))
    incremental.ingest_knn_graph(
        spark, vs, gs, emb, k=5, store_k=5, payload_store=ps,
    )
    gone = [
        int(r["v"])
        for r in snapshot.read_snapshot(spark, gs)
        .select("v").distinct().limit(4).collect()
    ]
    incremental.retract_docs(spark, vs, gone, id_col="vec_id")
    incremental.backfill_knn_depth(spark, vs, gs, k=5, store_k=5)
    surv = emb.filter(~F.col("vec_id").isin(gone))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(
        incremental.knn_graph_from_store(spark, gs, k=5, vec_store=vs)
    ) == rows(vector.knn_graph(surv, k=5, iters=0))


def test_refine_reads_all_store_layouts(spark, tmp_path):
    """r11 review: knn_graph_refine was hard-coded to the original
    payload-carrying full-precision layout — pin that it now serves
    the slim and SQ8 layouts through the shared any-layout corpus
    frame, matching the corresponding batch construction."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).filter(F.col("vec_id") < 200)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # slim full-precision
    vs, gs, ps = (str(tmp_path / n) for n in ("v", "g", "p"))
    incremental.ingest_knn_graph(
        spark, vs, gs, emb, k=5, payload_store=ps
    )
    got = rows(incremental.knn_graph_refine(spark, gs, vs, k=5, iters=1))
    want = rows(vector.knn_graph(emb, k=5, iters=1))
    assert got == want and len(got) > 0

    # payload-carrying SQ8 (refines on the reconstructed lattice)
    stats = vector.sq8_stats(emb)
    v2, g2 = str(tmp_path / "v2"), str(tmp_path / "g2")
    incremental.ingest_knn_graph_sq8(
        spark, v2, g2, emb, k=5, stats=stats
    )
    got2 = rows(incremental.knn_graph_refine(spark, g2, v2, k=5, iters=1))
    want2 = rows(vector.knn_graph_sq8(emb, k=5, iters=1, stats=stats))
    assert got2 == want2


def test_sq8_store_refuses_empty_training_batch(spark, tmp_path):
    """r11 review: an empty first batch must not write-once-pin a
    dim-0 quantizer (which would brick every later encode) — both
    SQ8 store formats refuse loudly, and the store stays trainable."""
    import pytest as _pytest

    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).filter(F.col("vec_id") < 50)
    empty = emb.filter(F.lit(False))
    store = str(tmp_path / "codes")
    with _pytest.raises(snapshot.SnapshotError, match="empty batch"):
        incremental.ingest_sq8_codes(spark, store, empty)
    vs, gs = str(tmp_path / "v"), str(tmp_path / "g")
    with _pytest.raises(snapshot.SnapshotError, match="empty batch"):
        incremental.ingest_knn_graph_sq8(spark, vs, gs, empty)
    # nothing was pinned: a real first batch still trains fine
    incremental.ingest_sq8_codes(spark, store, emb)
    assert snapshot.table_properties(store)["sq8_stats"]


def test_graph_serving_session_pins_and_matches_per_call_path(
    spark, tmp_path
):
    """r11: open_graph_serving pays the corpus frame + graph folds
    once and serves batches bit-equal to the per-call store path —
    corpus-member batches, repeated batches, and external vectors —
    through a pre-open takedown; a post-open takedown is deliberately
    NOT visible (the session serves its pinned snapshot) until
    reopen."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps = (str(tmp_path / n) for n in ("v", "g", "p"))
    for m in (0, 1):
        incremental.ingest_knn_graph(
            spark, vs, gs, emb.filter(F.col("vec_id") % 2 == m),
            k=5, payload_store=ps,
        )
    incremental.retract_docs(spark, vs, [7], id_col="vec_id")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    serve = incremental.open_graph_serving(spark, gs, vs, k=5, beam=8,
                                           rounds=2)
    for batch in ([0, 1, 2, 3, 4, 5, 8, 9], [2, 4, 6]):
        assert rows(serve(batch)) == rows(
            incremental.graph_search_from_store(
                spark, gs, vs, batch, k=5, beam=8, rounds=2
            )
        )
    qext = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    assert rows(serve(queries_emb=qext)) == rows(
        incremental.graph_search_from_store(
            spark, gs, vs, k=5, beam=8, rounds=2, queries_emb=qext
        )
    )

    # snapshot semantics: a takedown AFTER open stays invisible to the
    # pinned session and visible to a fresh open
    pinned_before = rows(serve([2, 4, 6]))
    incremental.retract_docs(spark, vs, [3], id_col="vec_id")
    assert rows(serve([2, 4, 6])) == pinned_before
    serve2 = incremental.open_graph_serving(spark, gs, vs, k=5, beam=8,
                                            rounds=2)
    fresh = serve2([2, 4, 6])
    assert fresh.filter(F.col("neighbor_id") == 3).count() == 0


def test_publish_graph_and_frontier_priced_search(spark, tmp_path):
    """r12 (VERDICT r11 #1): publish_graph folds + undirects the
    maintained graph ONCE into a u-clustered store, and
    graph_search_published walks it with every read manifest-pruned
    (query payloads, seed scoring, per-hop adjacency + candidates) —
    bit-equal to graph_search_from_store over the same sources for
    corpus-member, repeated, external, and pre-publish-takedown
    queries; after a POST-publish takedown the retracted id is never
    seeded, walked, or returned."""
    from blinkit_etl_pipeline_spark.operators import snapshot

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub")
    )
    for m in (0, 1):
        incremental.ingest_knn_graph(
            spark, vs, gs, emb.filter(F.col("vec_id") % 2 == m),
            k=5, payload_store=ps,
        )
    incremental.retract_docs(spark, vs, [7], id_col="vec_id")
    # pre-pin a tiny file target so this sf0.01-sized store still
    # lands in MANY files and the file-pruning assertion below stays
    # meaningful (at the default 128k-row target it would be 1 file)
    snapshot.ensure_table_properties(pub, {"target_file_rows": 300})
    incremental.publish_graph(spark, gs, vs, pub, k=5)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for batch in ([0, 1, 2, 3, 4, 5, 8, 9], [2, 4, 6]):
        assert rows(
            incremental.graph_search_published(
                spark, pub, batch, k=5, beam=8, rounds=2
            )
        ) == rows(
            incremental.graph_search_from_store(
                spark, gs, vs, batch, k=5, beam=8, rounds=2
            )
        )
    qext = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    assert rows(
        incremental.graph_search_published(
            spark, pub, k=5, beam=8, rounds=2, queries_emb=qext
        )
    ) == rows(
        incremental.graph_search_from_store(
            spark, gs, vs, k=5, beam=8, rounds=2, queries_emb=qext
        )
    )

    # the published adjacency read is file-pruned: a small frontier
    # opens a strict subset of the store's files
    m = snapshot.read_manifest(pub)
    pruned = snapshot._pruned_entries(m, [0, 1, 2])
    assert pruned is not None and len(pruned) < len(m["files"])

    # post-publish takedown: retracted id never returned (and never
    # seeds), even though the published fold predates it
    incremental.retract_docs(spark, vs, [3], id_col="vec_id")
    got = incremental.graph_search_published(
        spark, pub, [0, 1, 2, 3, 4], k=5, beam=8, rounds=2
    )
    assert got.filter(
        (F.col("query_id") == 3) | (F.col("neighbor_id") == 3)
    ).count() == 0
    # republish advances the fold — bit-equal to the per-call path
    # against current tombstones again
    incremental.publish_graph(spark, gs, vs, pub, k=5)
    assert rows(
        incremental.graph_search_published(
            spark, pub, [0, 1, 2, 4], k=5, beam=8, rounds=2
        )
    ) == rows(
        incremental.graph_search_from_store(
            spark, gs, vs, [0, 1, 2, 4], k=5, beam=8, rounds=2
        )
    )
    # k is pinned: deeper serving must be refused, republish at other
    # k must be refused
    import pytest as _pytest

    with _pytest.raises(snapshot.SnapshotError):
        incremental.graph_search_published(spark, pub, [0], k=9)
    with _pytest.raises(snapshot.SnapshotError):
        incremental.publish_graph(spark, gs, vs, pub, k=6)


def test_published_search_zero_norm_matches_from_store(spark, tmp_path):
    """A zero-norm embedding has no cosine: with ANSI off ``qcos``
    scores it null (NaN where a float kernel divides). The published
    path's driver-side beam cut must order such scores the way Spark's
    DESC window does (NaN largest, null last, then neighbor ascending),
    or its walk pool, and so its answer, drifts from
    graph_search_from_store."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    zero_ids = (5, 11, 17, 23)
    emb = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id").isin(*zero_ids),
            F.transform("embedding", lambda x: F.lit(0.0).cast("float")),
        ).otherwise(F.col("embedding")).alias("embedding"),
    )
    vs, gs, ps, pub = (str(tmp_path / n) for n in ("v", "g", "p", "pub"))

    def rows(df):
        # repr is exact for doubles and total over None
        return sorted(repr(tuple(r)) for r in df.collect())

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        incremental.ingest_knn_graph(
            spark, vs, gs, emb, k=5, payload_store=ps
        )
        incremental.publish_graph(spark, gs, vs, pub, k=5)
        batch = [5, 11, 0, 1, 2, 3, 4, 6, 8, 9]
        got = rows(incremental.graph_search_published(
            spark, pub, batch, k=5, beam=3, rounds=2
        ))
        want = rows(incremental.graph_search_from_store(
            spark, gs, vs, batch, k=5, beam=3, rounds=2
        ))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert any("None" in r for r in want)
    assert got == want


def test_open_graph_serving_published_store(spark, tmp_path):
    """r12: a serving session over a publish_graph store skips the
    per-open fold + undirect and stays bit-equal to the per-call
    path (corpus members and external vectors)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub")
    )
    incremental.ingest_knn_graph(spark, vs, gs, emb, k=5,
                                 payload_store=ps)
    incremental.publish_graph(spark, gs, vs, pub, k=5)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    serve = incremental.open_graph_serving(
        spark, gs, vs, k=5, beam=8, rounds=2, published_store=pub
    )
    for batch in ([0, 1, 2, 3, 4], [2, 4, 6]):
        assert rows(serve(batch)) == rows(
            incremental.graph_search_from_store(
                spark, gs, vs, batch, k=5, beam=8, rounds=2
            )
        )
    qext = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    assert rows(serve(queries_emb=qext)) == rows(
        incremental.graph_search_from_store(
            spark, gs, vs, k=5, beam=8, rounds=2, queries_emb=qext
        )
    )


def test_published_serving_at_shallower_k(spark, tmp_path):
    """r13 (ADVICE r12): the published store persists each row's fold
    position (``rank`` = min over both directions), so serving at
    k < pinned walks exactly the k-deep fold's adjacency — bit-equal
    to the per-call store path at the same k, for both the one-shot
    published serve and a published-store session."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub")
    )
    incremental.ingest_knn_graph(spark, vs, gs, emb, k=5,
                                 payload_store=ps)
    incremental.publish_graph(spark, gs, vs, pub, k=5)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    qids = [0, 1, 2, 3, 4]
    for k in (3, 5):
        want = rows(
            incremental.graph_search_from_store(
                spark, gs, vs, qids, k=k, beam=8, rounds=2
            )
        )
        assert rows(
            incremental.graph_search_published(
                spark, pub, qids, k=k, beam=8, rounds=2
            )
        ) == want
        serve = incremental.open_graph_serving(
            spark, gs, vs, k=k, beam=8, rounds=2, published_store=pub
        )
        assert rows(serve(qids)) == want


def test_published_seed_projection_paths(spark, tmp_path):
    """r13 (VERDICT r12 #1): a (t, bucket)-clustered seed projection
    published alongside the graph replaces the seed phase's twin read
    at uniform collision ids with one bucket-pruned read. Serving is
    bit-equal to the projection-less published path and the per-call
    store path; the incremental republish advances the projection by
    APPEND (old seed files stay referenced), and serving after a drop
    + takedown stays exact."""
    from blinkit_etl_pipeline_spark.operators import snapshot

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub, pub0, seeds = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub", "pub0", "s")
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    incremental.ingest_knn_graph(
        spark, vs, gs, emb.filter(F.col("vec_id") % 2 == 0),
        k=5, payload_store=ps,
    )
    incremental.publish_graph(spark, gs, vs, pub, k=5, seed_store=seeds)
    incremental.publish_graph(spark, gs, vs, pub0, k=5)  # no projection
    assert snapshot.table_properties(pub)["seed_store"] == seeds
    qids = [0, 2, 4, 6, 8]
    want = rows(
        incremental.graph_search_from_store(
            spark, gs, vs, qids, k=5, beam=8, rounds=2
        )
    )
    assert rows(
        incremental.graph_search_published(spark, pub, qids, k=5,
                                           beam=8, rounds=2)
    ) == want
    assert rows(
        incremental.graph_search_published(spark, pub0, qids, k=5,
                                           beam=8, rounds=2)
    ) == want

    # drop 2 → incremental republish advances the projection by append
    seed_files_v1 = {
        e["path"] for e in snapshot.read_manifest(seeds)["files"]
    }
    incremental.ingest_knn_graph(
        spark, vs, gs, emb.filter(F.col("vec_id") % 2 == 1),
        k=5, payload_store=ps,
    )
    incremental.publish_graph_incremental(spark, gs, vs, pub, k=5)
    seed_files_v2 = {
        e["path"] for e in snapshot.read_manifest(seeds)["files"]
    }
    assert seed_files_v1 < seed_files_v2  # append, not rebuild
    incremental.publish_graph(spark, gs, vs, pub0, k=5)
    want = rows(
        incremental.graph_search_from_store(
            spark, gs, vs, qids, k=5, beam=8, rounds=2
        )
    )
    assert rows(
        incremental.graph_search_published(spark, pub, qids, k=5,
                                           beam=8, rounds=2)
    ) == want
    assert rows(
        incremental.graph_search_published(spark, pub0, qids, k=5,
                                           beam=8, rounds=2)
    ) == want

    # post-publish takedown: retracted id never seeded or returned,
    # with or without the projection
    incremental.retract_docs(spark, vs, [2], id_col="vec_id")
    got = rows(
        incremental.graph_search_published(spark, pub, [0, 4], k=5,
                                           beam=8, rounds=2)
    )
    assert got == rows(
        incremental.graph_search_published(spark, pub0, [0, 4], k=5,
                                           beam=8, rounds=2)
    )
    assert all(r[1] != 2 for r in got)


def test_published_where_predicate_equals_allow_frame(spark, tmp_path):
    """r13 (VERDICT r12 #4): filtered published serving via a SQL
    predicate over payload-twin attribute columns (ingest attrs=) is
    bit-equal to the allow-id-frame path — same strict pushdown, no
    per-call corpus-scale broadcast — with and without the seed
    projection, and composed with a post-publish takedown."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub, pub0 = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub", "pub0")
    )
    incremental.ingest_knn_graph(
        spark, vs, gs, emb, k=5, payload_store=ps, attrs=["label"],
    )
    incremental.publish_graph(
        spark, gs, vs, pub, k=5, seed_store=str(tmp_path / "s")
    )
    incremental.publish_graph(spark, gs, vs, pub0, k=5)  # no projection
    allow = emb.filter(F.col("label") % 3 == 0).select("vec_id")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    qids = [0, 1, 2, 3, 4]
    want = rows(
        incremental.graph_search_published(
            spark, pub0, qids, k=5, beam=8, rounds=2, allowed=allow
        )
    )
    for store in (pub, pub0):
        assert rows(
            incremental.graph_search_published(
                spark, store, qids, k=5, beam=8, rounds=2,
                where="label % 3 = 0",
            )
        ) == want
    # predicate + takedown compose: retracted id excluded even though
    # the predicate admits it
    gone = next(r[1] for r in want)
    incremental.retract_docs(spark, vs, [int(gone)], id_col="vec_id")
    got = rows(
        incremental.graph_search_published(
            spark, pub, qids, k=5, beam=8, rounds=2,
            where="label % 3 = 0",
        )
    )
    assert all(r[1] != gone for r in got)
    assert got == rows(
        incremental.graph_search_published(
            spark, pub0, qids, k=5, beam=8, rounds=2, allowed=allow
        )
    )


def test_filtered_ann_store_paths_compose_with_takedowns(
    spark, tmp_path
):
    """r12 (VERDICT r11 #3): a metadata predicate pushed into the
    bucket probe and the walk — store path, published path, and
    session serve all equal the batch graph_search_filtered over the
    union; takedowns compose (retracted ids excluded even when the
    predicate admits them)."""
    from blinkit_etl_pipeline_spark.operators import vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub")
    )
    for m in (0, 1):
        incremental.ingest_knn_graph(
            spark, vs, gs, emb.filter(F.col("vec_id") % 2 == m),
            k=5, payload_store=ps,
        )
    allowed = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    qids = list(range(10))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = vector.graph_search_filtered(
        emb, vector.knn_graph(emb, k=5, iters=0), qids, allowed,
        k=5, beam=8, rounds=2,
    )
    got = incremental.graph_search_from_store(
        spark, gs, vs, qids, k=5, beam=8, rounds=2, allowed=allowed
    )
    assert rows(got) == rows(want) and got.count() > 0
    # every returned neighbor satisfies the predicate
    assert got.join(
        allowed.withColumnRenamed("vec_id", "neighbor_id"),
        "neighbor_id", "left_anti",
    ).count() == 0

    incremental.publish_graph(spark, gs, vs, pub, k=5)
    assert rows(
        incremental.graph_search_published(
            spark, pub, qids, k=5, beam=8, rounds=2, allowed=allowed
        )
    ) == rows(want)
    serve = incremental.open_graph_serving(
        spark, gs, vs, k=5, beam=8, rounds=2, published_store=pub
    )
    assert rows(serve(qids, allowed=allowed)) == rows(want)

    # takedown of an ADMITTED id: excluded everywhere regardless
    gone = [
        r["vec_id"]
        for r in allowed.orderBy("vec_id").limit(1).collect()
    ]
    incremental.retract_docs(spark, vs, gone, id_col="vec_id")
    got2 = incremental.graph_search_from_store(
        spark, gs, vs, qids, k=5, beam=8, rounds=2, allowed=allowed
    )
    assert got2.filter(
        F.col("query_id").isin(gone) | F.col("neighbor_id").isin(gone)
    ).count() == 0
    survivors = emb.filter(~F.col("vec_id").isin(gone))
    want2 = vector.graph_search_filtered(
        survivors, vector.knn_graph(survivors, k=5, iters=0),
        [q for q in qids if q not in gone],
        allowed.filter(~F.col("vec_id").isin(gone)),
        k=5, beam=8, rounds=2,
    )
    assert rows(got2) == rows(want2)


def test_staged_pairing_ingest_bit_equal(spark, tmp_path):
    """r12 (VERDICT r11 #2): the staged pairing fold — (t, bucket)
    groups scored in tb%N slices, each folded into the running
    per-node top-store_k state before the next — is BIT-equal to the
    one-shot build (top-k merge semilattice, deterministic tie
    order), for both the full-precision and SQ8 stores, through
    serving."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    one = (str(tmp_path / "v1"), str(tmp_path / "g1"))
    staged = (str(tmp_path / "v2"), str(tmp_path / "g2"))
    incremental.ingest_knn_graph(
        spark, *one, emb, k=5, payload_store=str(tmp_path / "p1")
    )
    incremental.ingest_knn_graph(
        spark, *staged, emb, k=5, payload_store=str(tmp_path / "p2"),
        pairing_slices=7,
    )
    assert rows(
        incremental.knn_graph_from_store(spark, one[1], k=5)
    ) == rows(
        incremental.knn_graph_from_store(spark, staged[1], k=5)
    )
    qids = list(range(8))
    assert rows(
        incremental.graph_search_from_store(
            spark, one[1], one[0], qids, k=5, beam=8, rounds=2
        )
    ) == rows(
        incremental.graph_search_from_store(
            spark, staged[1], staged[0], qids, k=5, beam=8, rounds=2
        )
    )

    sq_one = (str(tmp_path / "v3"), str(tmp_path / "g3"))
    sq_staged = (str(tmp_path / "v4"), str(tmp_path / "g4"))
    incremental.ingest_knn_graph_sq8(spark, *sq_one, emb, k=5)
    incremental.ingest_knn_graph_sq8(
        spark, *sq_staged, emb, k=5, pairing_slices=5
    )
    assert rows(
        incremental.knn_graph_from_store(spark, sq_one[1], k=5)
    ) == rows(
        incremental.knn_graph_from_store(spark, sq_staged[1], k=5)
    )


def test_sq8_serving_session_and_published_paths(spark, tmp_path):
    """r12 (VERDICT r11 #7): serving sessions and the frontier-priced
    published path over an SQ8-coded SLIM store — the corpus lattice
    decodes from byte codes exactly once per open (sessions) or only
    for the ids actually touched (published path), and every path is
    bit-equal to the per-call SQ8 store serve, for corpus members
    (symmetric SDC) and external full-precision queries (ADC)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub")
    )
    for m in (0, 1):
        incremental.ingest_knn_graph_sq8(
            spark, vs, gs, emb.filter(F.col("vec_id") % 2 == m),
            k=5, payload_store=ps,
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = {}
    for batch in ([0, 1, 2, 3, 4], [2, 4, 6]):
        want[tuple(batch)] = rows(
            incremental.graph_search_from_store(
                spark, gs, vs, batch, k=5, beam=8, rounds=2
            )
        )
    qext = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    want_ext = rows(
        incremental.graph_search_from_store(
            spark, gs, vs, k=5, beam=8, rounds=2, queries_emb=qext
        )
    )

    serve = incremental.open_graph_serving(spark, gs, vs, k=5, beam=8,
                                           rounds=2)
    for batch in ([0, 1, 2, 3, 4], [2, 4, 6]):
        assert rows(serve(batch)) == want[tuple(batch)]
    assert rows(serve(queries_emb=qext)) == want_ext

    incremental.publish_graph(spark, gs, vs, pub, k=5)
    for batch in ([0, 1, 2, 3, 4], [2, 4, 6]):
        assert rows(
            incremental.graph_search_published(
                spark, pub, batch, k=5, beam=8, rounds=2
            )
        ) == want[tuple(batch)]
    assert rows(
        incremental.graph_search_published(
            spark, pub, k=5, beam=8, rounds=2, queries_emb=qext
        )
    ) == want_ext
    serve_pub = incremental.open_graph_serving(
        spark, gs, vs, k=5, beam=8, rounds=2, published_store=pub
    )
    assert rows(serve_pub([2, 4, 6])) == want[(2, 4, 6)]


def test_publish_graph_incremental_equals_full_republish(
    spark, tmp_path
):
    """r12: drop-priced republish — after more drops and a takedown,
    the merge-maintained published table is ROW-equal to a fresh full
    publish at every step, and serving from it stays bit-equal to the
    per-call path."""
    from blinkit_etl_pipeline_spark.operators import snapshot

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vs, gs, ps, pub, pub_full = (
        str(tmp_path / n) for n in ("v", "g", "p", "pub", "pubf")
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def pub_rows(t):
        # rank included: the merge must maintain the persisted fold
        # position exactly, not just the edge set (r13)
        return rows(
            snapshot.read_snapshot(spark, t).select("u", "v", "rank")
        )

    # drop 1 → bootstrap (falls through to the full path)
    incremental.ingest_knn_graph(
        spark, vs, gs, emb.filter(F.col("vec_id") % 3 == 0),
        k=5, payload_store=ps,
    )
    incremental.publish_graph_incremental(spark, gs, vs, pub, k=5)
    incremental.publish_graph(spark, gs, vs, pub_full, k=5)
    assert pub_rows(pub) == pub_rows(pub_full)

    # no-op republish: nothing moved → version unchanged
    v0 = snapshot.current_version(pub)
    assert incremental.publish_graph_incremental(
        spark, gs, vs, pub, k=5
    ) == v0

    # two more drops → incremental merge vs fresh fold
    for m in (1, 2):
        incremental.ingest_knn_graph(
            spark, vs, gs, emb.filter(F.col("vec_id") % 3 == m),
            k=5, payload_store=ps,
        )
    incremental.publish_graph_incremental(spark, gs, vs, pub, k=5)
    incremental.publish_graph(spark, gs, vs, pub_full, k=5)
    assert pub_rows(pub) == pub_rows(pub_full)

    # takedown → affected = gone + their published neighbors
    incremental.retract_docs(spark, vs, [3, 42], id_col="vec_id")
    incremental.publish_graph_incremental(spark, gs, vs, pub, k=5)
    incremental.publish_graph(spark, gs, vs, pub_full, k=5)
    assert pub_rows(pub) == pub_rows(pub_full)

    # drop + takedown in one advance
    incremental.ingest_knn_graph(
        spark, vs, gs,
        emb.select((F.col("vec_id") + 10_000).alias("vec_id"),
                   "embedding").filter(F.col("vec_id") % 7 == 0),
        k=5, payload_store=ps,
    )
    incremental.retract_docs(spark, vs, [8], id_col="vec_id")
    incremental.publish_graph_incremental(spark, gs, vs, pub, k=5)
    incremental.publish_graph(spark, gs, vs, pub_full, k=5)
    assert pub_rows(pub) == pub_rows(pub_full)

    # serving from the merged table equals the per-call store path
    qids = [0, 1, 2, 4, 5]
    assert rows(
        incremental.graph_search_published(
            spark, pub, qids, k=5, beam=8, rounds=2
        )
    ) == rows(
        incremental.graph_search_from_store(
            spark, gs, vs, qids, k=5, beam=8, rounds=2
        )
    )


def test_pruned_read_ids_id_list_sizes(spark, tmp_path):
    """_pruned_read_ids must stay correct on BOTH sides of the
    pushdown cap, and the cap itself must stay under the measured
    vanilla-JVM stack-safety bound: Spark/parquet-mr evaluate a
    pushed IN as a left-deep OR tree, recursively, and a task thread
    at the default ~1m stack overflows in (1024, 2048] values (r13 —
    the sf0.1 bench crashed in a takedown closure before the cap was
    lowered). The driver's correctness gate runs on a vanilla session
    without session.py's -Xss8m, so the cap is the only guard there."""
    assert 0 < incremental._ISIN_PUSHDOWN_MAX <= 1024

    store = str(tmp_path / "pruned_ids")
    rows = spark.range(3000).select(
        F.col("id").alias("u"), (F.col("id") * 7).alias("v")
    )
    snapshot.write_snapshot(rows, store, stats_col="u")

    few = [5, 17, 2999]
    got = incremental._pruned_read_ids(spark, store, few, "u")
    assert sorted(r["u"] for r in got.collect()) == sorted(few)

    # above the cap: the isin filter is skipped (callers' joins
    # restrict exactly) — the read must return at least the probed
    # rows and must not fail
    many = list(range(0, 2000))
    got_many = incremental._pruned_read_ids(spark, store, many, "u")
    have = {r["u"] for r in got_many.collect()}
    assert set(many) <= have


def test_pruned_read_ids_leaves_session_conf_alone(spark, tmp_path):
    """The IN-list pushdown threshold is a session setting made once in
    get_session; a pruned read must not change it, or its value would
    depend on which call ran first."""
    store = str(tmp_path / "pruned_ids_conf")
    snapshot.write_snapshot(
        spark.range(100).select(F.col("id").alias("u")), store, stats_col="u"
    )
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        got = incremental._pruned_read_ids(spark, store, [3, 50], "u")
        assert sorted(r["u"] for r in got.collect()) == [3, 50]
        assert spark.conf.get(key) == "10"
    finally:
        spark.conf.set(key, saved)


def test_overlapped_store_ops_inherit_session_tags(spark):
    """A tag added before an overlapped fan-out is visible inside every
    worker thunk, so tag-based cancellation (``interruptTag``) reaches
    the overlapped store ops too."""
    tag = "overlap-tag-probe"
    spark.addTag(tag)
    try:
        seen = incremental.overlap_store_ops(spark, [
            lambda: set(spark.getTags()) for _ in range(3)
        ])
    finally:
        spark.removeTag(tag)
    assert all(tag in tags for tags in seen), seen
