"""Opt-in REAL-DEPENDENCY lane (`pytest -m realdeps`).

Every production seam in this engine is a guard-import: the real package
(sentence-transformers, CrossEncoder, fastText, redis) is used when
importable, and a deterministic stub otherwise. The stub branch is what the
sandbox CI exercises; THESE tests execute the TRUE branch of each seam so a
deployment environment (where the packages exist) gets executed coverage of
the first code that would otherwise fail there.

Excluded by default (pytest.ini deselects the marker); run explicitly:

    pytest -m realdeps tests/test_realdeps.py

Each test importorskips its package and additionally skips — with a reason
naming the missing piece — when the environment lacks the runtime artifact
(model weights on disk / a reachable Redis). Skips are loud, not silent
passes: `-m realdeps -rs` shows exactly which seams ran."""

from __future__ import annotations

import os

import pandas as pd
import pytest

pytestmark = pytest.mark.realdeps


# --- sentence-transformers embedder (operators/enrich.py) ------------------


def test_real_embed_encoder_contract():
    pytest.importorskip("sentence_transformers")
    from fest_vibes_ai_etl_spark.operators.enrich import (
        EMBED_DIM,
        real_embed_batch_factory,
    )

    encode = real_embed_batch_factory()
    assert encode is not None  # the guard import took the TRUE branch
    try:
        out = encode(pd.Series(["jazz trio at the spotted cat", "", None]))
    except Exception as exc:  # model download needs network
        pytest.skip(f"sentence-transformers model unavailable: {exc}")
    vec = out.iloc[0]
    assert isinstance(vec, list) and len(vec) == EMBED_DIM
    assert abs(sum(x * x for x in vec) - 1.0) < 1e-5  # L2-normalized
    assert out.iloc[1] is None and out.iloc[2] is None  # degrade-to-null


def test_real_embed_through_spark_plumbing(spark):
    pytest.importorskip("sentence_transformers")
    from fest_vibes_ai_etl_spark.operators.enrich import (
        EMBED_DIM,
        real_embed_batch_factory,
    )

    encode = real_embed_batch_factory()
    if encode is None:
        pytest.skip("factory returned None despite importable package")
    try:  # fail fast driver-side if weights can't load (network)
        encode(pd.Series(["warmup"]))
    except Exception as exc:
        pytest.skip(f"sentence-transformers model unavailable: {exc}")
    from fest_vibes_ai_etl_spark.operators.enrich import embed_column

    df = spark.createDataFrame(
        [(1, "brass band on frenchmen street"), (2, None)],
        "id long, text string",
    )
    out = embed_column(df, "text", "embedding", encoder=encode, only_if_null=False)
    rows = {r.id: r.embedding for r in out.select("id", "embedding").collect()}
    # embed_column degrades a FAILING batch to null; a working real encoder
    # must produce a unit vector, so an executor-side load failure (no
    # network on workers) also surfaces here as rows[1] being None.
    if rows[1] is None:
        pytest.skip("executor-side model load failed (encoder degraded to null)")
    assert len(rows[1]) == EMBED_DIM
    assert rows[2] is None


# --- CrossEncoder reranker (operators/rerank.py) ---------------------------


def test_real_cross_encoder_scores_relevance():
    pytest.importorskip("sentence_transformers")
    from fest_vibes_ai_etl_spark.operators.rerank import real_cross_encoder_factory

    score = real_cross_encoder_factory()
    assert score is not None
    q = pd.Series(["where is preservation hall", "where is preservation hall", None])
    d = pd.Series(
        [
            "Preservation Hall is a jazz venue in the French Quarter of New Orleans.",
            "The recipe calls for two cups of flour and a pinch of salt.",
            "anything",
        ]
    )
    try:
        out = score(q, d)
    except Exception as exc:
        pytest.skip(f"cross-encoder model unavailable: {exc}")
    assert out.iloc[0] > out.iloc[1]  # relevant pair outranks irrelevant
    assert out.iloc[2] is None  # degrade-to-null


# --- fastText language ID (operators/textanalysis.py) ----------------------


def test_real_fasttext_langid():
    pytest.importorskip("fasttext")
    from fest_vibes_ai_etl_spark.operators.textanalysis import real_langid_factory

    model_path = os.environ.get("SPARK_GRAFT_FASTTEXT_MODEL", "lid.176.ftz")
    if not os.path.exists(model_path):
        pytest.skip(
            f"fastText model file not found at {model_path} "
            "(set SPARK_GRAFT_FASTTEXT_MODEL)"
        )
    classify = real_langid_factory(model_path)
    assert classify is not None
    out = classify(
        pd.Series(
            ["the quick brown fox jumps over the lazy dog",
             "le renard brun saute par-dessus le chien paresseux",
             "", None]
        )
    )
    assert out.iloc[0] == "en"
    assert out.iloc[1] == "fr"
    assert out.iloc[2] == "und" and out.iloc[3] == "und"


# --- Redis cache sink (pipeline/cache_sink.py) ------------------------------


def test_real_redis_cache_sink_roundtrip(spark):
    pytest.importorskip("redis")
    import redis as _redis

    from fest_vibes_ai_etl_spark.pipeline.cache_sink import redis_client_factory

    url = os.environ.get("SPARK_GRAFT_REDIS_URL", "redis://localhost:6379/0")
    try:
        _redis.Redis.from_url(url, socket_connect_timeout=2).ping()
    except Exception as exc:
        pytest.skip(f"no reachable Redis at {url}: {exc}")

    factory = redis_client_factory(url, pipeline_size=3)
    assert factory is not None
    # the pipelined client surface, driver-side: setex buffers, flush sends,
    # get flushes-then-reads
    c = factory()
    c.setex("festvibes:test:k1", 60, "v1")
    assert c.get("festvibes:test:k1") == "v1"

    # and through the real executor path (mapPartitions inside the sink)
    from fest_vibes_ai_etl_spark.pipeline.cache_sink import export_to_cache

    payload = spark.createDataFrame(
        [
            ("festvibes:test:2026-08-14", '{"event":"ev1"}', 60, "19:00", "ev1"),
            ("festvibes:test:2026-08-14", '{"event":"ev2"}', 60, "20:00", "ev2"),
        ],
        "cache_key string, payload string, ttl_seconds int, sort_ts string, event_id string",
    )
    n = export_to_cache(payload, client_factory=factory)
    assert n == 1  # one date key
    got = factory().get("festvibes:test:2026-08-14")
    assert got == '[{"event":"ev1"},{"event":"ev2"}]'


# --- real tokenizer (operators/textanalysis.py token_counts seam) -----------


def test_real_tokenizer_through_pack_budget(spark):
    """Executes the TRUE branch of the tokenizer seam end-to-end:
    real_tokenizer_factory -> token_counts (mapInPandas) -> pack_budget.
    Deployment token budgets are tokenizer-exact; bpe_ish is the
    documented, oracle-hashed fallback."""
    try:
        import tiktoken  # noqa: F401
        have = "tiktoken"
    except ImportError:
        have = None
    tok_file = os.environ.get("SPARK_GRAFT_TOKENIZER_JSON")
    if have is None and not tok_file:
        pytest.skip(
            "no tiktoken and no SPARK_GRAFT_TOKENIZER_JSON tokenizer.json"
        )
    from fest_vibes_ai_etl_spark.operators.textanalysis import (
        real_tokenizer_factory,
        token_counts,
    )
    from fest_vibes_ai_etl_spark.operators.trainprep import pack_budget

    counter = real_tokenizer_factory(tokenizer_file=tok_file)
    if counter is None:
        pytest.skip("tokenizer package importable but factory returned None")
    # driver-side contract: exact ints, null/empty -> 0
    counts = counter(pd.Series(["hello world", "a,b,c 123", "", None]))
    assert counts.iloc[0] > 0 and counts.iloc[2] == 0 and counts.iloc[3] == 0
    # executor path: Arrow-batched token_counts feeding pack_budget
    docs = spark.createDataFrame(
        [(1, "en", "hello world this is a document"),
         (2, "en", "another longer document with many more words in it"),
         (3, "fr", "le renard brun saute par-dessus le chien paresseux"),
         (4, "en", None)],
        "doc_id long, lang string, text string",
    )
    nt = token_counts(docs, "doc_id", "text", counter=counter)
    joined = docs.join(nt, "doc_id")
    packed = pack_budget(joined, "lang", "doc_id", "n_tokens", budget=12)
    rows = {r.doc_id: (r.bin, r.n_tokens) for r in packed.collect()}
    assert rows[4][1] is None                    # null text stays NULL
    assert rows[1][0] == 0                       # first doc in bin 0
    assert all(r[0] >= 0 for r in rows.values())
    # bins are contiguous in doc_id order within each lang partition
    en = sorted((d, b) for d, (b, _) in rows.items() if d != 3)
    assert [b for _, b in en] == sorted(b for _, b in en)
