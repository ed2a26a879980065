"""Structured Streaming paths genuinely executed (SURVEY §2.9): bounded
file sources driven with ``processAllAvailable()`` so the state-store /
watermark code runs, results checked against the identical batch
expressions (the batch twins are what the DuckDB oracle pins)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
    interval_join,
    serve_loop,
    streaming_dedup,
    streaming_tumbling_counts,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
    knn_join,
)
from .conftest import SF_SMOKE


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-000.parquet")
    return str(d)


def _load_events(spark, path):
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":  # TIMESTAMP(NANOS) fixture
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":  # micros fixture
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _stream_events(spark, path):
    batch = spark.read.parquet(path)
    s = spark.readStream.schema(batch.schema).parquet(path)
    if dict(s.dtypes).get("ts") == "bigint":
        s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(s.dtypes).get("ts") == "timestamp_ntz":
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def test_streaming_tumbling_counts_match_batch(spark, events_dir, tmp_path):
    stream = _stream_events(spark, events_dir)
    q = (
        streaming_tumbling_counts(stream, width_s=600)
        .writeStream.format("memory")
        .queryName("t_tumbling")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_tumbling"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM t_tumbling").collect()
    finally:
        q.stop()
    want = streaming_tumbling_counts(
        _load_events(spark, events_dir), width_s=600
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_streaming_tumbling_incremental_second_file(spark, events_dir, tmp_path):
    """A second input file arriving later flows through the same query —
    complete mode re-emits the merged aggregate."""
    stream = _stream_events(spark, events_dir)
    q = (
        streaming_tumbling_counts(stream, width_s=3600)
        .writeStream.format("memory")
        .queryName("t_incr")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_incr"))
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT sum(n) AS s FROM t_incr").first().s
        # land a second (identical) file → counts double
        shutil.copy(
            f"{SF_SMOKE}/events.parquet", f"{events_dir}/part-001.parquet"
        )
        q.processAllAvailable()
        n2 = spark.sql("SELECT sum(n) AS s FROM t_incr").first().s
    finally:
        q.stop()
    assert n2 == 2 * n1


def test_streaming_dedup_matches_batch_distinct(spark, events_dir, tmp_path):
    stream = _stream_events(spark, events_dir)
    q = (
        streaming_dedup(stream, ["event_id"])
        .select("event_id")
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n FROM t_dedup").first().n
    finally:
        q.stop()
    want = _load_events(spark, events_dir).select("event_id").distinct().count()
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """Real stream-stream join execution (two file streams, watermarked
    state, append sink) — result set equals the identical batch join."""
    s = _stream_events(spark, events_dir)
    sp = s.filter(F.col("event_type") == "purchase")
    sv = s.filter(F.col("event_type") == "view")
    q = (
        interval_join(sp, sv, max_lag_s=3600)
        .writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssjoin"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM t_ssjoin").collect()
    finally:
        q.stop()
    b = _load_events(spark, events_dir)
    want = interval_join(
        b.filter(F.col("event_type") == "purchase"),
        b.filter(F.col("event_type") == "view"),
        max_lag_s=3600,
    ).collect()
    assert len(want) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_serve_loop_matches_batch_knn(spark, tmp_path):
    """The reference's interactive query path as a stream (app.py:124-179):
    each microbatch of query vectors → broadcast kNN join vs cached corpus."""
    corpus = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qdir = tmp_path / "queries_in"
    queries.coalesce(1).write.parquet(str(qdir))

    results = []
    stream = spark.readStream.schema(queries.schema).parquet(str(qdir))
    q = serve_loop(
        stream,
        corpus,
        k=3,
        sink=lambda df, epoch: results.extend(
            df.select("query_id", "vec_id", "rank").collect()
        ),
        checkpoint=str(tmp_path / "ckpt_serve"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = (
        knn_join(corpus, queries, k=3, exclude_self=False)
        .select("query_id", "vec_id", "rank")
        .collect()
    )
    assert sorted(map(tuple, results)) == sorted(map(tuple, want))
    assert len(results) == 15  # 5 queries × k=3


@pytest.mark.parametrize(
    "index, rerank",
    [("flat", 0), ("ivf", 0), ("bq", 0), ("bq_ivf", 0), ("bq_ivf", 4)],
    ids=["flat", "ivf", "bq", "bq_ivf", "bq_ivf_rerank"],
)
def test_serve_loop_rate_latency_and_self_hit(spark, index, rerank):
    """Continuous serving on the rate source, every index tier: batches
    score under load, per-batch end-to-end latency is recorded and
    bounded, and every query finds ITSELF — at rank 1 for the float
    tiers (distance 0; the query's own inverted list is always its
    first probe), at hamming 0 for the raw Hamming tiers (its own code
    XOR itself). Kernel parity is pinned in test_ann.py."""
    import time

    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _ivf_layout,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
        serve_loop_rate,
    )

    hamming = index in ("bq", "bq_ivf") and not rerank
    centroids = None
    if index in ("ivf", "bq_ivf"):
        path, centroids = _ivf_layout(spark, SF_SMOKE)
        corpus = spark.read.parquet(path)
    else:
        corpus = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    hit = F.col("hamming") == 0 if hamming else F.col("rank") == 1
    latencies: list = []
    results: list = []
    cache: list = []
    q = serve_loop_rate(
        spark,
        corpus,
        k=3,
        index=index,
        centroids=centroids,
        nprobe=2 if index == "ivf" else 4,
        rerank=rerank,
        rows_per_second=40,
        latencies=latencies,
        sink=lambda df, epoch: results.extend(
            df.filter(hit).select("query_id", "vec_id").collect()
        ),
        trigger_ms=250,
        code_cache=cache,
    )
    try:
        deadline = time.time() + 30
        while len(latencies) < 3 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        corpus.unpersist()
        for df in cache:
            df.unpersist()
    assert len(latencies) >= 3, "stream produced too few scored batches"
    assert all(0 < lt < 20 for lt in latencies), latencies
    assert results, "sink must observe scored batches"
    if hamming:
        hit0 = {r.query_id for r in results if r.query_id == r.vec_id}
        asked = {r.query_id for r in results}
        assert hit0 == asked, "some query missed its own code at hamming 0"
    else:
        assert all(r.query_id == r.vec_id for r in results), "rank-1 must be self"


def test_streaming_cms_accumulates_to_batch_sketch(spark, events_dir, tmp_path):
    """CMS under streaming: each microbatch builds its own grid inside
    foreachBatch and merges cell-wise into a running accumulator; after
    the stream drains, the accumulated grid equals the one-shot batch
    sketch (mergeability is what makes the sketch production-usable —
    per-day/per-shard grids combine without reprocessing)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.sketch import (
        cms_sketch,
    )

    # second file arrives "later" — two microbatches exercise the merge
    import shutil as _sh

    _sh.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "later.parquet")

    acc: dict = {}

    def merge_batch(df, _epoch):
        for r in cms_sketch(df, "user_id").collect():
            acc[(r.r, r.c)] = acc.get((r.r, r.c), 0) + r.cell

    stream = _stream_events(spark, events_dir)
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .start()
    )
    try:
        q.processAllAvailable()
        _sh.copy(tmp_path / "later.parquet", f"{events_dir}/part-001.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    both = _load_events(spark, events_dir)
    want = {(r.r, r.c): r.cell for r in cms_sketch(both, "user_id").collect()}
    assert acc == want


def test_streaming_gap_fill_matches_batch(spark, events_dir, tmp_path):
    """Streaming gap-fill equivalence: the watermarked tumbling-window
    max_by (streaming_slot_latest) drains through a real memory sink,
    the shared grid+forward-fill finisher runs over the sink table, and
    the result equals the batch gap_fill operator row-for-row — the
    oracle-checked registry query `gap_fill` pins the same semantics
    against DuckDB."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.windows import (
        fill_slot_gaps,
        gap_fill,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
        streaming_slot_latest,
    )

    stream = _stream_events(spark, events_dir)
    q = (
        streaming_slot_latest(stream, step_s=21600)
        .writeStream.format("memory")
        .queryName("t_slots")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_slots"))
        .start()
    )
    try:
        q.processAllAvailable()
        obs = spark.sql("SELECT * FROM t_slots")
        got = fill_slot_gaps(obs, step_s=21600).collect()
    finally:
        q.stop()
    want = gap_fill(_load_events(spark, events_dir), step_s=21600).collect()
    assert len(got) == len(want) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ingest_dedup_loop_matches_batch(spark, tmp_path):
    """Streaming ingest SemDeDup: a microbatch of new vectors scored
    against the cached corpus equals the batch operator row-for-row."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        quantize_vec,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup_incremental,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
        ingest_dedup_loop,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    init = [
        list(r.qv)
        for r in emb.select(quantize_vec("embedding").alias("qv"), "vec_id")
        .orderBy("vec_id")
        .limit(8)
        .collect()
    ]
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    bdir = tmp_path / "ingest_in"
    batch.coalesce(1).write.parquet(str(bdir))

    results = []
    stream = spark.readStream.schema(batch.schema).parquet(str(bdir))
    q = ingest_dedup_loop(
        stream,
        corpus,
        init,
        sink=lambda df, epoch: results.extend(df.collect()),
        checkpoint=str(tmp_path / "ckpt_ingest"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.vec_id: (r.cid, r.keep) for r in results}
    want = {
        r.vec_id: (r.cid, r.keep)
        for r in semantic_dedup_incremental(corpus, batch, init).collect()
    }
    assert got == want and len(got) == 100


def test_ingest_dedup_loop_refreshes_corpus_between_epochs(spark, tmp_path):
    """The ADVICE-flagged scenario: with a callable corpus source and a
    sink that appends kept rows, a later-epoch vector duplicating an
    EARLIER-epoch kept row must be dropped — a launch-time corpus
    snapshot would let it through. Epoch order is forced by feeding the
    files one at a time (maxFilesPerTrigger=1, filenames in lexical
    order), and the whole run equals one sequential batch-operator pass
    over both epochs."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        quantize_vec,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup_incremental,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
        ingest_dedup_loop,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    init = [
        list(r.qv)
        for r in emb.select(quantize_vec("embedding").alias("qv"), "vec_id")
        .orderBy("vec_id")
        .limit(8)
        .collect()
    ]
    base = emb.filter(F.col("vec_id") < 400).select("vec_id", "embedding")
    corpus_dir = tmp_path / "corpus"
    base.coalesce(1).write.parquet(str(corpus_dir))

    # epoch 1: vec_ids 400-449; epoch 2: 450-499 PLUS an exact copy of
    # vector 403 under a fresh id. 403 is corpus-clean and kept in epoch
    # 1, so the twin must drop in epoch 2 — verified offline: against a
    # STALE launch-time snapshot the twin is kept (no corpus dup, no
    # kept epoch-2 dup), so this assertion fails exactly when the
    # corpus-refresh bug regresses
    e1 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)).select(
        "vec_id", "embedding"
    )
    twin = emb.filter(F.col("vec_id") == 403).select(
        (F.col("vec_id") + 597).alias("vec_id"), "embedding"
    )
    e2 = (
        emb.filter(F.col("vec_id") >= 450)
        .select("vec_id", "embedding")
        .unionByName(twin)
    )
    bdir = tmp_path / "ingest_in"
    bdir.mkdir()
    e1.coalesce(1).write.parquet(str(bdir / "e1"))
    e2.coalesce(1).write.parquet(str(bdir / "e2"))
    # flatten into lexically-ordered single files so epoch 1 < epoch 2
    import shutil

    files = []
    for sub in ["e1", "e2"]:
        part = next((bdir / sub).glob("*.parquet"))
        dst = bdir / f"batch_{sub}.parquet"
        shutil.move(str(part), str(dst))
        shutil.rmtree(str(bdir / sub))
        files.append(dst)

    def corpus_source():
        return spark.read.parquet(str(corpus_dir))

    def sink(df, epoch):
        rows = df.collect()
        results.extend(rows)
        kept = [r.vec_id for r in rows if r.keep]
        if kept:
            spark.createDataFrame(
                [(r.vec_id,) for r in rows if r.keep], ["vec_id"]
            ).join(all_batches, "vec_id").select(
                "vec_id", "embedding"
            ).write.mode("append").parquet(str(corpus_dir))

    all_batches = e1.unionByName(e2)
    results: list = []
    stream = (
        spark.readStream.schema(e1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(bdir))
    )
    q = ingest_dedup_loop(
        stream,
        corpus_source,
        init,
        sink=sink,
        checkpoint=str(tmp_path / "ckpt_refresh"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.vec_id: r.keep for r in results}
    assert len(got) == 101

    # the twin's source vector was kept in epoch 1 and survives the
    # static corpus — only the refreshed corpus can reject the twin
    assert got[403] is True
    assert got[1000] is False, "epoch-2 twin of an epoch-1 kept row leaked"

    # end-to-end equivalence: the two-epoch streaming run equals ONE
    # sequential pass of the batch operator over e1 then e2
    want_e1 = {
        r.vec_id: r.keep
        for r in semantic_dedup_incremental(base, e1, init).collect()
    }
    kept_e1 = [v for v, k in want_e1.items() if k]
    corpus_after_e1 = base.unionByName(
        all_batches.filter(F.col("vec_id").isin([int(v) for v in kept_e1]))
    )
    want_e2 = {
        r.vec_id: r.keep
        for r in semantic_dedup_incremental(corpus_after_e1, e2, init).collect()
    }
    assert got == {**want_e1, **want_e2}


def test_serve_loop_rate_sparse_ids_and_bounded_pool(spark):
    """The request pool is bounded and carries REAL corpus ids: on a
    sparse id space (ids 7i+3) every rank-1 hit is still the query's
    own row (query_id == vec_id), and all emitted query ids come from
    the pool (the `payload_pool` lowest ids), never beyond it."""
    import time

    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
        serve_loop_rate,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    sparse = emb.select(
        (F.col("vec_id") * 7 + 3).alias("vec_id"), "embedding"
    )
    pool = 32
    results: list = []
    latencies: list = []
    q = serve_loop_rate(
        spark,
        sparse,
        k=2,
        rows_per_second=40,
        latencies=latencies,
        sink=lambda df, epoch: results.extend(
            df.filter(F.col("rank") == 1).select("query_id", "vec_id").collect()
        ),
        trigger_ms=250,
        payload_pool=pool,
    )
    try:
        deadline = time.time() + 30
        while len(latencies) < 3 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert results, "stream produced no scored batches"
    max_pool_id = 7 * (pool - 1) + 3
    for r in results:
        assert r.query_id == r.vec_id, "self-hit must survive sparse ids"
        assert r.query_id % 7 == 3 and r.query_id <= max_pool_id, (
            "query ids must come from the bounded lowest-id pool"
        )
