"""Operator-quality tests for the rows-only (non-oracle) paths:
randomized/approximate operators get semantic assertions here since
the DuckDB gate can't hash-check them (SURVEY §5.2)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf2dataset_spark.operators import dedup as dd
from pdf2dataset_spark.operators import similarity as sim
from pdf2dataset_spark.operators import text as tx
from pdf2dataset_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
    resize_images,
    sample_frames,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ------------------------------------------------------------ dedup
def test_minhash_lsh_recalls_planted_neardups(spark, documents):
    d = documents.select("doc_id", "text").limit(100)
    toks = F.split("text", " ")
    near = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    corpus = d.unionByName(near)
    sigs = corpus.select(
        "doc_id", dd.minhash_signature(dd.shingles("text", 3)).alias("minhash")
    )
    pairs = dd.lsh_candidate_pairs(sigs, "doc_id", "minhash", 16, 4)
    got = {(r.id1, r.id2) for r in pairs.collect()}
    planted = {(i, i + 1000000) for (i,) in d.select("doc_id").collect()}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, f"LSH recall too low: {recall}"


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unrelated")],
        "doc_id long, text string",
    )
    kept = dd.exact_dedup(df).select("doc_id").toPandas()["doc_id"].tolist()
    assert sorted(kept) == [1, 3]  # normalized dup collapses to first


def test_simhash_neardup_small_hamming(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely different content about spark query engines here"),
        ],
        "doc_id long, text string",
    )
    sh = df.select("doc_id", dd.simhash64(tx.ws_tokens("text")).alias("h"))
    rows = {r.doc_id: r.h for r in sh.collect()}
    d12 = bin((rows[1] ^ rows[2]) & (2**64 - 1)).count("1")
    d13 = bin((rows[1] ^ rows[3]) & (2**64 - 1)).count("1")
    assert d12 < d13, f"near-dup hamming {d12} should beat unrelated {d13}"


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, ["a b c", "b c d"]), (2, ["a b c", "x y z"])],
        "id long, sh array<string>",
    )
    # threshold must be > 0 (co-occurrence plan can't enumerate J=0
    # pairs); 0.01 keeps every overlapping pair
    pairs = dd.jaccard_pairs(df, "id", "sh", threshold=0.01).collect()
    assert len(pairs) == 1
    assert pairs[0].jaccard == pytest.approx(1 / 3)  # {abc} of {abc,bcd,xyz}
    with pytest.raises(ValueError, match="threshold"):
        dd.jaccard_pairs(df, "id", "sh", threshold=0.0)


# -------------------------------------------------------- similarity
def test_lsh_topk_recall_vs_bruteforce(spark, embeddings):
    q = embeddings.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = sim.topk_cosine(embeddings, q, k=5).collect()
    approx = sim.lsh_bucket_topk(
        embeddings, q, dim=64, k=5, planes=3, tables=8
    ).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"3-plane/8-table LSH recall too low: {recall}"


def test_ivf_topk_shape_and_selfsim(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = sim.ivf_topk(embeddings, q, n_centroids=8, nprobe=2, k=3).collect()
    assert 0 < len(res) <= 3
    assert all(-1.0 <= r.cos_sim <= 1.0 + 1e-9 for r in res)


def test_cosine_self_similarity_is_one(spark, embeddings):
    row = embeddings.limit(1)
    val = row.select(
        sim.cosine(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()[0].c
    assert val == pytest.approx(1.0, abs=1e-12)


# -------------------------------------------------------------- text
def test_lang_id_on_real_language_fixtures(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was happy for a while"),
            (2, "le chat est sur le tapis et il est content pour un moment"),
            (3, "el gato es feliz y la casa es grande por un momento"),
            (4, "der hund ist gross und die katze ist nicht klein zu haus"),
        ],
        "id long, text string",
    )
    out = {r.id: r.lang for r in df.select(
        "id", tx.lang_id("text").alias("lang")
    ).collect()}
    assert out == {1: "en", 2: "fr", 3: "es", 4: "de"}


def test_quality_filter_drops_junk(spark):
    df = spark.createDataFrame(
        [
            (1, "a decent looking sentence with enough normal words here"),
            (2, "x"),  # too short
            (3, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbbbbbbb "
                "cccccccccccccccccccc dddddddddddddddddddd eeeeeeeeeeeeeeeeeeee"),
        ],
        "doc_id long, text string",
    )
    kept = tx.quality_filter(df, min_tokens=5).select("doc_id").toPandas()
    assert kept["doc_id"].tolist() == [1]


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([(1, "hello, world42!")], "id long, text string")
    toks = df.select(tx.bpe_ish_tokens("text").alias("t")).collect()[0].t
    assert toks == ["hello", ",", "world", "42", "!"]


# -------------------------------------------------------- multimodal
def test_multimodal_decode_roundtrip(spark, documents):
    d = documents.select("doc_id", "text").limit(50)
    decoded = decode_media(attach_fake_media(d))
    bad = decoded.filter(
        (~F.col("dec_ok"))
        | (F.col("dec_width") != F.col("media_meta.width"))
        | (F.col("dec_height") != F.col("media_meta.height"))
        | (F.col("dec_frames") != F.col("media_meta.n_frames"))
    ).count()
    assert bad == 0


def test_multimodal_resize_and_frame_sampling(spark, documents):
    d = attach_fake_media(documents.select("doc_id", "text").limit(10))
    resized = resize_images(d, size=(224, 224))
    metas = resized.select("media_meta.width", "media_meta.height").distinct().collect()
    assert [(m.width, m.height) for m in metas] == [(224, 224)]
    frames = sample_frames(attach_fake_media(documents.select("doc_id", "text").limit(10)), every_n=10)
    got = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in got)


def test_multimodal_real_codec_is_clearly_stubbed(spark, documents):
    d = attach_fake_media(documents.select("doc_id", "text").limit(1))
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        decode_media(d, decoder="ffmpeg")


# ------------------------------------------------- approx aggregates
def test_approx_count_distinct_within_rsd(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a"),
        F.countDistinct("l_partkey").alias("e"),
    ).collect()[0]
    assert abs(row.a - row.e) / row.e < 0.1


# -------------------------------------------------------------- asof
def test_asof_strategies_agree(spark):
    from pdf2dataset_spark.operators.asof import asof_join_pandas, asof_join_window

    from pdf2dataset_spark.io import load_table

    e = load_table(spark, SF, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")

    win = asof_join_window(purchases, clicks, on="ts", by="user_id")
    pdres = asof_join_pandas(purchases, clicks, on="ts", by="user_id")

    a = {r.event_id: r.asof_ts for r in win.collect()}
    b = {r.event_id: r.asof_ts for r in pdres.collect()}
    assert set(a) == set(b)
    mismatches = {k for k in a if a[k] != b[k] and not (a[k] is None and pd_isnat(b[k]))}
    assert not mismatches, f"{len(mismatches)} mismatching as-of results"


def pd_isnat(v):
    import pandas as pd

    return v is None or (isinstance(v, type(pd.NaT)) and v is pd.NaT)


def test_exact_dedup_strategies_agree(spark):
    from pdf2dataset_spark.io import load_table

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), F.upper("text").alias("text"))
    )
    a = dd.exact_dedup(doubled, strategy="window").select("doc_id")
    b = dd.exact_dedup(doubled, strategy="join").select("doc_id")
    assert sorted(r.doc_id for r in a.collect()) == sorted(r.doc_id for r in b.collect())


def test_stratified_sample_proportions(spark):
    from pdf2dataset_spark.io import load_table

    d = load_table(spark, SF, "documents")
    fractions = {"en": 0.5, "fr": 1.0, "es": 1.0, "de": 1.0, "zh": 0.25}
    sampled = d.sampleBy("lang", fractions, seed=42)
    base = {r.lang: r["count"] for r in d.groupBy("lang").count().collect()}
    got = {r.lang: r["count"] for r in sampled.groupBy("lang").count().collect()}
    assert got.get("fr", 0) == base["fr"] and got.get("de", 0) == base["de"]
    en_rate = got.get("en", 0) / base["en"]
    assert 0.3 < en_rate < 0.7  # Bernoulli(0.5) within loose bounds


# ------------------------------------------------------- clustering
def test_connected_components_multi_hop(spark):
    from pdf2dataset_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id1 long, id2 long",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_by_components_keeps_representatives(spark):
    from pdf2dataset_spark.operators.cluster import dedup_by_components

    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 4, 10, 11, 50)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 long, id2 long"
    )
    kept = sorted(r.doc_id for r in dedup_by_components(df, pairs).collect())
    assert kept == [1, 10, 50]  # one rep per cluster + the untouched doc


def test_dedup_by_components_long_path_converges(spark):
    from pdf2dataset_spark.operators.cluster import dedup_by_components

    # a 30-doc path 0-100-101-...-127-5: label 0 needs 29 rounds to
    # reach doc 5, beyond any fixed 25-round cap; stopping early would
    # keep both 0 and 5 from one near-dup component
    ids = [0, *range(100, 128), 5]
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in ids], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id1 long, id2 long"
    )
    kept = [r.doc_id for r in dedup_by_components(df, pairs).collect()]
    assert kept == [0]


def test_chunk_tokens_reconstructs_document(spark):
    from pdf2dataset_spark.operators import text as tx

    doc = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    chunks = tx.chunk_tokens(df, window=32, overlap=8).orderBy("chunk_id").collect()
    # stride 24: starts 0,24,48,72 -> 4 chunks
    assert len(chunks) == 4
    assert all(c.chunk_tokens <= 32 for c in chunks)
    # dropping the 8-token overlap from every chunk after the first
    # reproduces the document exactly
    rebuilt = chunks[0].chunk_text.split(" ")
    for c in chunks[1:]:
        rebuilt += c.chunk_text.split(" ")[8:]
    assert rebuilt == doc.split(" ")


def test_chunk_tokens_short_doc_single_chunk(spark):
    from pdf2dataset_spark.operators import text as tx

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    [c] = tx.chunk_tokens(df, window=32, overlap=8).collect()
    assert (c.chunk_id, c.chunk_text, c.chunk_tokens) == (0, "a b c", 3)


def test_repetition_stats_flags_loops(spark):
    from pdf2dataset_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "all distinct tokens in this sentence here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in tx.repetition_stats(df).collect()}
    assert rows[1].top_token_frac == 1.0
    assert rows[1].dup_bigram_frac > 0.7
    assert rows[2].dup_bigram_frac == 0.0
    assert abs(rows[2].top_token_frac - 1 / 7) < 1e-12


def test_dedup_by_components_quality_keeps_best(spark):
    from pdf2dataset_spark.operators import cluster as cl

    docs = spark.createDataFrame(
        [
            (1, 5.0), (2, 9.0), (3, 7.0),   # cluster {1,2,3}: keep 2
            (4, 1.0), (5, 1.0),             # cluster {4,5}: tie -> keep 4
            (6, 0.0),                        # unclustered: survives
        ],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id1 long, id2 long"
    )
    kept = sorted(
        r.doc_id
        for r in cl.dedup_by_components_quality(
            docs, pairs, "quality"
        ).collect()
    )
    assert kept == [2, 4, 6]


# ----------------------------------------------------------- round 2


def test_regr_builtins_agree_with_exact_moments(spark):
    """Spark's built-in regr_* must agree with c21's exact-moment
    closed forms (the oracle-stable formulation) to float tolerance."""
    from pdf2dataset_spark.queries import load_all

    REGISTRY = load_all()
    exact = {
        r["l_returnflag"]: r
        for r in REGISTRY["c21_regression_aggregates"]
        .fn(spark, SF)
        .collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    built = li.groupBy("l_returnflag").agg(
        F.regr_slope("l_extendedprice", "l_quantity").alias("slope"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("icpt"),
        F.regr_r2("l_extendedprice", "l_quantity").alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )
    for r in built.collect():
        e = exact[r["l_returnflag"]]
        assert r["n"] == e["regr_n"]
        assert abs(r["slope"] - e["regr_slope"]) < 1e-6
        assert abs(r["icpt"] - e["regr_intercept"]) < 1e-4
        assert abs(r["r2"] - e["regr_r2"]) < 1e-9


def test_redact_pii_counts_and_tags(spark):
    rows = [
        (1, "mail bob@x.io at http://a.b/c from 10.1.2.3"),
        (2, "call +1 (555) 123-4567 card 4111111111111111 ok"),
        (3, "clean text only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.redact_pii(df, "text").collect()}
    assert out[1]["n_url"] == 1 and out[1]["n_email"] == 1
    assert out[1]["n_ip"] == 1 and out[1]["n_phone"] == 0
    assert "<URL>" in out[1]["redacted"] and "<EMAIL>" in out[1]["redacted"]
    assert "<IP>" in out[1]["redacted"]
    assert out[2]["n_phone"] == 1 and out[2]["n_digitrun"] == 1
    assert "<PHONE>" in out[2]["redacted"]
    assert "<DIGITRUN>" in out[2]["redacted"]
    assert out[3]["redacted"] == "clean text only"
    assert out[3]["n_url"] == out[3]["n_digitrun"] == 0


def test_ngram_contamination_planted_vs_clean(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            # verbatim copy of a benchmark doc -> frac 1.0
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # disjoint vocabulary -> frac 0.0
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    rep = {
        r["doc_id"]: r
        for r in dd.ngram_contamination(ev, bench, n=5).collect()
    }
    assert rep[1]["contamination_frac"] == 1.0
    assert rep[2]["contamination_frac"] == 0.0
    assert rep[2]["n_hit"] == 0


def test_token_shard_packing_partitions_all_docs(spark):
    from pdf2dataset_spark.queries import load_all

    shards = load_all()["f22_token_shard_packing"].fn(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    total_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("s")
    ).collect()[0]["s"]
    assert sum(r["n_docs"] for r in shards) == n_docs
    assert sum(r["shard_tokens"] for r in shards) == total_tokens
    # contiguity: doc-id ranges of consecutive shards don't interleave
    ordered = sorted(shards, key=lambda r: r["shard_id"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["last_doc"] < b["first_doc"]
    # every shard except possibly the last spills past the budget only
    # by its final doc (start_tok < budget boundary definition)
    for r in ordered[:-1]:
        assert r["shard_tokens"] >= 1


def test_line_dedup_keeps_boilerplate_once(spark):
    rows = [
        (1, "BANNER\nalpha beta\ngamma delta"),
        (2, "BANNER\nepsilon zeta"),
        (3, "BANNER\nalpha beta\nunique line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.line_dedup(df).collect()}
    # banner survives only in doc 1 (lowest doc_id)
    assert out[1]["deduped_text"] == "BANNER\nalpha beta\ngamma delta"
    assert out[2]["deduped_text"] == "epsilon zeta"
    # 'alpha beta' already seen in doc 1 -> dropped from doc 3
    assert out[3]["deduped_text"] == "unique line"
    assert out[3]["n_lines_kept"] == 1


def test_line_dedup_drops_fully_duplicated_docs(spark):
    rows = [(1, "same line"), (2, "same line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"] for r in tx.line_dedup(df).collect()}
    assert got == {1}  # doc 2 reduced to zero lines -> gone


# ----------------------------------------------- semantic dedup (f34)
def test_semantic_dedup_drops_planted_copies(spark, embeddings):
    e = embeddings.select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2).alias(
            "embedding"
        ),
    )
    corpus = e.unionByName(planted)
    cents = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    out = sim.semantic_dedup(corpus, cents, threshold=0.99).collect()
    kept = {r["vec_id"] for r in out if r["kept"]}
    dropped = {r["vec_id"] for r in out if not r["kept"]}
    n = e.count()
    assert len(out) == n + (n + 9) // 10
    # every planted scaled copy (cosine exactly ~1 with its original,
    # same cluster) is dropped; every original survives
    assert dropped == {
        r["vec_id"] + 1000000
        for r in e.filter(F.col("vec_id") % 10 == 0).collect()
    }
    assert all(v < 1000000 for v in kept)


def test_semantic_dedup_cluster_assignment_matches_brute(spark, embeddings):
    e = embeddings.select("vec_id", "embedding").limit(20)
    cents = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    out = {
        r["vec_id"]: r["list_id"]
        for r in sim.semantic_dedup(e, cents, threshold=2.0).collect()
    }
    import numpy as np

    rows = e.collect()
    cmat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    cents_np = {i: cmat[i] for i in range(3)}
    for r in rows:
        v = cmat[r["vec_id"]]
        best = max(
            sorted(cents_np),
            key=lambda c: (
                float(v @ cents_np[c])
                / (np.linalg.norm(v) * np.linalg.norm(cents_np[c])),
                -c,
            ),
        )
        assert out[r["vec_id"]] == best
    # threshold 2.0 -> nothing is ever dropped
    assert all(
        r["kept"] for r in sim.semantic_dedup(e, cents, threshold=2.0).collect()
    )


# ------------------------------------- duplicate n-gram spans (f35)
def test_duplicate_ngram_spans_finds_injected_header(spark):
    from pdf2dataset_spark.queries import load_all

    q = load_all()["f35_duplicate_ngram_spans"]
    out = q.fn(spark, SF)
    rows = out.collect()
    assert 0 < len(rows) <= 100
    header = "Lorem ipsum boilerplate header. "
    grams = {r["gram"] for r in rows}
    # all 17 header 16-grams are shared by every 7th doc
    expected = {header[i : i + 16] for i in range(len(header) - 15)}
    assert expected <= grams
    for r in rows:
        assert r["n_docs"] >= 2
        assert r["first_doc"] <= r["last_doc"]


# ------------------------------------------------- BPE train/apply (f37)
def test_bpe_classic_example_merges(spark):
    """The textbook corpus: 'low' x5, 'lower' x2, 'newest' x6,
    'widest' x3 — first merges must pick the (count DESC, pair ASC)
    argmax chain; 'es' (9) then 'est' (9) come first."""
    from pdf2dataset_spark.operators import bpe

    rows = [(i, w) for i, w in enumerate(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.train_bpe(df, n_merges=4)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    # encoding uses rank-greedy merging; 'newest' contains 'est'
    enc = bpe.bpe_encode(df.limit(1), merges)
    assert enc.columns == ["doc_id", "text", "bpe_tokens"]


def test_bpe_encode_roundtrip_and_determinism(spark, documents):
    from pdf2dataset_spark.operators import bpe

    d = documents.select("doc_id", "text").limit(50)
    m1 = bpe.train_bpe(d, n_merges=20)
    m2 = bpe.train_bpe(d, n_merges=20)
    assert m1 == m2  # cluster-deterministic training
    enc = bpe.bpe_encode(d, m1)
    back = enc.select(
        "doc_id",
        "text",
        bpe.bpe_decode(F.col("bpe_tokens")).alias("joined"),
    )
    for r in back.collect():
        assert r["joined"] == r["text"].replace(" ", "")
    # every merge must actually be used somewhere or at least be a
    # concatenation of earlier symbols (well-formed chain)
    symbols = {c for p in m1 for c in p}
    for left, right in m1:
        for part in (left, right):
            assert len(part) == 1 or any(
                part == a + b for a, b in m1
            ), (part, m1)


def test_bpe_first_merge_matches_f33_pair_counts(spark, documents):
    """Training's first merge == f33's top corpus-weighted pair
    (same no-marker convention, same tie-break)."""
    from pdf2dataset_spark.operators import bpe

    d = documents.select("doc_id", "text")
    wf = bpe.word_frequencies(d)
    pairs = (
        wf.filter(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            "word",
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .collect()
    )
    top_pair = pairs[0]["pair"]
    merges = bpe.train_bpe(d, n_merges=1)
    assert merges[0] == (top_pair[0], top_pair[1])


def test_bpe_vocab_cap_guard(spark, documents):
    from pdf2dataset_spark.operators import bpe
    import pytest as pt

    with pt.raises(ValueError, match="max_vocab"):
        bpe.train_bpe(documents, n_merges=1, max_vocab=3)


def test_semantic_dedup_fast_agrees_with_exact(spark, embeddings):
    """The numpy scale path must make the same keep/drop decisions as
    the exact JVM path on a corpus with planted dups (threshold far
    from any float near-tie)."""
    e = embeddings.select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2).alias(
            "embedding"
        ),
    )
    corpus = e.unionByName(planted)
    cents = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    exact = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in sim.semantic_dedup(corpus, cents, threshold=0.85).collect()
    }
    fast = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in sim.semantic_dedup_fast(
            corpus, centroids=cents, threshold=0.85
        ).collect()
    }
    assert exact == fast


def test_semantic_dedup_nprobe_recovers_boundary_pairs(spark):
    """Perturbed near-dups (cos ~0.999) can land in a different IVF
    cell than their original; nprobe=2 probe-set overlap must recover
    every such pair with zero false drops (and nprobe=1 must already
    be false-drop-free)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    n = 4000
    base = rng.standard_normal((n, 64)).astype(np.float32)
    dup_src = rng.choice(n, 200, replace=False)
    near = (
        base[dup_src]
        + rng.standard_normal((200, 64)).astype(np.float32) * 0.02
    )
    pdf = pd.DataFrame(
        {
            "vec_id": np.concatenate([np.arange(n), dup_src + 10 * n]),
            "embedding": list(base) + list(near),
        }
    )
    corpus = spark.createDataFrame(pdf).repartition(8)
    planted = {int(i) + 10 * n for i in dup_src}
    for nprobe, min_recall in ((1, 0.9), (2, 1.0)):
        out = sim.semantic_dedup_fast(
            corpus, n_centroids=64, threshold=0.9, nprobe=nprobe
        )
        dropped = {r["vec_id"] for r in out.filter("NOT kept").collect()}
        assert not (dropped - planted), "false drops"
        assert len(dropped & planted) / len(planted) >= min_recall
        assert out.count() == n + 200  # every vector exactly once


def test_semantic_dedup_exact_nprobe_agrees_with_fast(spark):
    """nprobe=2 on the exact JVM variant finds the same boundary
    pairs as the fast path (and the assigned+nprobe combination is
    rejected)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    n = 800
    base = rng.standard_normal((n, 16)).astype(np.float32)
    dup_src = rng.choice(n, 60, replace=False)
    near = base[dup_src] + rng.standard_normal((60, 16)).astype(np.float32) * 0.02
    pdf = pd.DataFrame(
        {
            "vec_id": np.concatenate([np.arange(n), dup_src + 10 * n]),
            "embedding": list(base) + list(near),
        }
    )
    corpus = spark.createDataFrame(pdf)
    cents = corpus.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    exact = {
        r["vec_id"]: r["kept"]
        for r in sim.semantic_dedup(
            corpus, cents, threshold=0.9, nprobe=2
        ).collect()
    }
    fast = {
        r["vec_id"]: r["kept"]
        for r in sim.semantic_dedup_fast(
            corpus, centroids=cents, threshold=0.9, nprobe=2
        ).collect()
    }
    assert exact == fast
    with pytest.raises(ValueError, match="nprobe"):
        sim.semantic_dedup_fast(
            corpus, assigned=corpus.withColumn("list_id", F.lit(0)), nprobe=2
        )


def test_global_rank_is_permutation_at_scale(spark):
    """Regression for the range-boundary resampling bug: with two
    independent executions of the range exchange, offsets mismatch
    partition counts and the rank stops being a permutation — but
    ONLY once the boundary sample is partial (>= several million
    rows; sf-level tests can never catch it). Pins the persisted-
    partitioning fix at 6M rows in ~20 s."""
    from pdf2dataset_spark.operators import rank

    n = 6_000_000
    df = spark.range(n).select(F.col("id"), F.xxhash64("id").alias("k"))
    out = rank.global_rank(df, [F.col("k"), F.col("id")])
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("global_rank").alias("nd"),
        F.min("global_rank").alias("mn"),
        F.max("global_rank").alias("mx"),
    ).collect()[0]
    assert (agg["n"], agg["nd"], agg["mn"], agg["mx"]) == (n, n, 1, n), agg


def test_asof_window_is_strict_on_timestamp_ties(spark):
    """Regression for the tie-semantics bug the 5M cross-check vs
    DuckDB ASOF JOIN exposed: a right row at EXACTLY the left row's
    timestamp must NOT match (strict backward, like the merge_asof
    twin with allow_exact_matches=False)."""
    from pdf2dataset_spark.operators.asof import (
        asof_join_pandas,
        asof_join_window,
    )

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 200), (3, 10, 300)], "id long, k long, ts long"
    )
    right = spark.createDataFrame(
        [(10, 100, 7), (10, 200, 8), (10, 250, 9)], "k long, ts long, rv long"
    )
    got = {
        r["id"]: r["asof_rv"]
        for r in asof_join_window(left, right, on="ts", by="k").collect()
    }
    # ts=100: the only right row is AT 100 -> no strict-prior match
    # ts=200: rv=7 (ts=100) is the latest strictly before
    # ts=300: rv=9 (ts=250)
    assert got == {1: None, 2: 7, 3: 9}, got
    pd_got = {
        r["id"]: r["asof_rv"]
        for r in asof_join_pandas(left, right, on="ts", by="k").collect()
    }
    assert pd_got == got  # twin agreement incl. ties


def test_rank_release_caches_unpersists_tracked_frames(spark):
    """global_rank/global_prefix_sum persist their ranged frame (the
    one-boundary-sample fix) and cannot unpersist it themselves;
    release_caches() must drop every tracked frame so loops don't
    accumulate cached RDDs for the session lifetime."""
    from pdf2dataset_spark.operators import rank

    rank.release_caches()  # start clean
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    ranked = rank.global_rank(df, [F.col("k"), F.col("id")])
    summed = rank.global_prefix_sum(df, [F.col("id")], "k")
    assert ranked.count() == 10_000 and summed.count() == 10_000
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    assert before >= 2
    released = rank.release_caches()
    assert released >= 2
    assert jsc.getPersistentRDDs().size() <= before - 2
    assert rank.release_caches() == 0  # idempotent


class TestDedupAgainstStore:
    """Incremental exact-dedup ingest (dedup.dedup_against_store /
    ingest_exact): bloom-pruned store side, plain-anti-join equality,
    keep-first within batch, crash-replay idempotency."""

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_ingest_batches_and_replay(self, spark, tmp_path):
        from pdf2dataset_spark.operators import dedup as dd

        store = str(tmp_path / "store")
        b1 = self._batch(
            spark, [(1, "alpha"), (2, "beta"), (3, "Alpha "), (4, "gamma")]
        )
        assert dd.ingest_exact(b1, store) == 3  # normalized dup collapses
        b2 = self._batch(spark, [(10, "BETA"), (11, "delta"), (12, "gamma")])
        assert dd.ingest_exact(b2, store) == 1  # only delta is new
        assert dd.ingest_exact(b2, store) == 0  # at-least-once replay: no-op
        final = spark.read.parquet(store)
        assert sorted(r["doc_id"] for r in final.collect()) == [1, 2, 4, 11]
        # hash column persisted: next batch never reads store text
        assert "__text_sha" in final.columns

    def test_bloom_path_equals_plain_anti_join(self, spark, tmp_path):
        from pdf2dataset_spark.operators import dedup as dd

        store_df = self._batch(
            spark, [(i, f"doc number {i % 50}") for i in range(200)]
        )
        stored = dd.exact_dedup(
            store_df, "text", keep_hash=True, strategy="join"
        ).withColumnRenamed("text_sha256", "__text_sha")
        batch = self._batch(
            spark,
            [(1000 + i, f"doc number {i}") for i in range(40, 90)]
            + [(2000, "doc number 10"), (2001, "doc number 10")],
        )
        via_bloom = dd.dedup_against_store(
            batch, stored, store_hash_col="__text_sha"
        )
        plain = (
            dd.exact_dedup(batch, "text", keep_hash=True, strategy="join")
            .withColumnRenamed("text_sha256", "__text_sha")
            .join(stored.select("__text_sha"), "__text_sha", "left_anti")
        )
        got = sorted(r["doc_id"] for r in via_bloom.collect())
        want = sorted(r["doc_id"] for r in plain.collect())
        assert got == want and got == [1000 + i for i in range(50, 90)]

    def test_store_without_hash_column_hashes_on_the_fly(self, spark):
        from pdf2dataset_spark.operators import dedup as dd

        store = self._batch(spark, [(1, "kept text"), (2, "other")])
        batch = self._batch(spark, [(9, "KEPT  text"), (10, "fresh")])
        out = dd.dedup_against_store(batch, store)
        assert [r["doc_id"] for r in out.collect()] == [10]


def test_multimodal_engine_decoder_is_real_for_images(spark):
    """decoder='engine' decodes actual PNG/JPEG payloads (no fake
    tags): real dims come back, undecodable bytes get ok=False."""
    from pdf2dataset_spark.operators.multimodal import decode_media
    from pdf2dataset_spark.sources.jpeg import encode_jpeg
    from pdf2dataset_spark.sources.raster import render_text_png

    png = render_text_png("engine decoder test")
    import numpy as np

    rgb = np.tile(
        np.arange(24, dtype=np.uint8).reshape(1, 8, 3), (8, 1, 1)
    )
    jpg = encode_jpeg(8, 8, rgb.tobytes(), quality=90, ncomp=3)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg)), (3, bytearray(b"junk"))],
        "doc_id long, media binary",
    )
    rows = {r["doc_id"]: r for r in decode_media(df, decoder="engine").collect()}
    assert rows[1]["dec_ok"] and rows[1]["dec_width"] > 0
    assert rows[2]["dec_ok"] and (rows[2]["dec_width"], rows[2]["dec_height"]) == (8, 8)
    assert rows[2]["dec_frames"] == 1
    assert not rows[3]["dec_ok"] and rows[3]["dec_width"] is None


def test_resize_images_rejects_engine_decoder(spark):
    """The fake-payload rewrite would corrupt real image bytes; engine
    callers must get a named error, not silent destruction."""
    from pdf2dataset_spark.operators.multimodal import resize_images
    from pdf2dataset_spark.sources.raster import render_text_png

    df = spark.createDataFrame(
        [(1, bytearray(render_text_png("x")))], "doc_id long, media binary"
    )
    with pytest.raises(NotImplementedError, match="resize_images"):
        resize_images(df, decoder="engine")


def test_ingest_exact_recovers_from_first_batch_crash(spark, tmp_path):
    """A store dir left with only uncommitted files (mid-write crash
    on the FIRST batch) must be treated as empty on replay, not wedge
    every retry with an unreadable-parquet error."""
    import os

    from pdf2dataset_spark.operators import dedup as dd

    store = tmp_path / "store"
    (store / "_temporary").mkdir(parents=True)  # crash debris, no data
    b = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    assert dd.ingest_exact(b, str(store)) == 2
    assert spark.read.parquet(str(store)).count() == 2
    # and the store now works normally for the next batch
    b2 = spark.createDataFrame(
        [(3, "beta"), (4, "gamma")], "doc_id long, text string"
    )
    assert dd.ingest_exact(b2, str(store)) == 1


def test_ingest_exact_lock_rejects_concurrent_writer(spark, tmp_path):
    """ADVICE r4: ingest's exists->read->dedup->append sequence is
    single-writer; a held <store>.ingest.lock must raise
    ConcurrentIngestError, and a successful ingest must create and
    then remove the lock."""
    from pdf2dataset_spark.operators import dedup as dd

    store = tmp_path / "store"
    lock = tmp_path / "store.ingest.lock"
    b = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    lock.write_bytes(b"")  # simulate a concurrent (or crashed) writer
    with pytest.raises(dd.ConcurrentIngestError, match="ingest lock"):
        dd.ingest_exact(b, str(store))
    assert not store.exists()  # nothing was written under the held lock
    lock.unlink()
    assert dd.ingest_exact(b, str(store)) == 2
    assert not lock.exists()  # released after the append
    # failure inside the locked region must still release the lock
    bad = spark.createDataFrame([(1, "x")], "doc_id long, nottext string")
    with pytest.raises(Exception):
        dd.ingest_exact(bad, str(store))
    assert not lock.exists()


def test_rank_cache_scope_isolates_from_global_release(spark):
    """ADVICE r4: frames persisted inside rank.cache_scope() are not
    visible to (or freed by) a concurrent global release_caches(),
    and are unpersisted on scope exit."""
    from pdf2dataset_spark.operators import rank

    rank.release_caches()  # start clean
    df = spark.range(5_000).select(F.col("id"), (F.col("id") % 5).alias("k"))
    with rank.cache_scope() as frames:
        ranked = rank.global_rank(df, [F.col("k"), F.col("id")])
        assert ranked.count() == 5_000
        assert len(frames) == 1
        scoped = frames[0]
        # a global release from "another thread" cannot free our frame
        assert rank.release_caches() == 0
        assert scoped.storageLevel.useMemory or scoped.storageLevel.useDisk
    assert not (scoped.storageLevel.useMemory or scoped.storageLevel.useDisk)
    assert rank.release_caches() == 0


class TestPii:
    """operators/pii: detection counts, ordered redaction, Luhn."""

    def test_counts_and_any_flag(self, spark):
        from pdf2dataset_spark.operators import pii

        rows = [
            (1, "mail a@b.co and c.d+x@e-f.org, ip 10.0.0.1"),
            (2, "card 4111-1111-1111-1111 ssn 123-45-6789"),
            (3, "call +1 (555) 123-4567 or 44-555-123-4567"),
            (4, "clean text with numbers 12345 and words"),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r.asDict()
            for r in pii.with_pii_counts(df).collect()
        }
        assert got[1]["pii_email"] == 2 and got[1]["pii_ipv4"] == 1
        assert got[2]["pii_cc"] == 1 and got[2]["pii_ssn"] == 1
        assert got[3]["pii_phone"] == 2
        assert got[4]["pii_any"] is False
        assert all(got[1][f"pii_{k}"] == 0 for k in ("cc", "ssn", "phone"))

    def test_redaction_order_protects_card_digits(self, spark):
        from pdf2dataset_spark.operators import pii

        # space-separated card: the phone pattern CAN match inside it,
        # so cc must redact first (the documented order)
        df = spark.createDataFrame(
            [(1, "pay 4111 1111 1111 1111 or call +1 (555) 123-4567")],
            "doc_id long, text string",
        )
        (r,) = df.select(pii.redact_pii("text").alias("red")).collect()
        assert r["red"] == "pay [CARD] or call [PHONE]"

    def test_luhn_valid(self, spark):
        from pdf2dataset_spark.operators import pii

        rows = [
            (1, "4111-1111-1111-1111"),  # classic test card: valid
            (2, "4111 1111 1111 1112"),  # checksum off by one
            (3, "79927398713"),          # Luhn-valid but < 13 digits
            (4, ""),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "id long, s string")
        got = {r["id"]: r["ok"] for r in df.select(
            "id", pii.luhn_valid("s").alias("ok")).collect()}
        assert got == {1: True, 2: False, 3: False, 4: False, 5: False}


class TestRemoveBoilerplate:
    """dedup.remove_boilerplate: CCNet-style paragraph-hash
    boilerplate removal with digit-stripped normalization, order-
    exact reassembly, and empty-document retention."""

    @staticmethod
    def _df(spark, docs):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], ["doc_id", "text"]
        )

    def test_min_docs_cut_and_order(self, spark):
        from pdf2dataset_spark.operators.dedup import remove_boilerplate

        docs = [
            "HEADER\nbody one alpha\nmiddle one\nFOOTER",
            "HEADER\nbody two beta\nmiddle two\nFOOTER",
            "HEADER\nbody three gamma\nmiddle three\nFOOTER",
        ]
        out = remove_boilerplate(
            self._df(spark, docs), min_docs=3
        ).orderBy("doc_id").collect()
        assert [r["text"] for r in out] == [
            "body one alpha\nmiddle one",
            "body two beta\nmiddle two",
            "body three gamma\nmiddle three",
        ]

    def test_digit_stripped_normalization(self, spark):
        from pdf2dataset_spark.operators.dedup import remove_boilerplate

        docs = [
            "Copyright 2021 Corp\nunique a",
            "Copyright 2022 Corp\nunique b",
            "copyright   2023 CORP\nunique c",  # case+ws+digit variants
        ]
        out = remove_boilerplate(
            self._df(spark, docs), min_docs=3
        ).orderBy("doc_id").collect()
        assert [r["text"] for r in out] == [
            "unique a", "unique b", "unique c"]

    def test_frac_threshold_lazy_total(self, spark):
        from pdf2dataset_spark.operators.dedup import remove_boilerplate

        docs = ["SHARED\nalpha", "SHARED\nbeta", "SHARED\ngamma",
                "only\ndelta"]
        # SHARED in 3/4 docs: frac 0.5 cuts it, frac 0.9 keeps it
        cut = remove_boilerplate(
            self._df(spark, docs), min_doc_frac=0.5
        ).orderBy("doc_id").collect()
        assert [r["text"] for r in cut] == [
            "alpha", "beta", "gamma", "only\ndelta"]
        keep = remove_boilerplate(
            self._df(spark, docs), min_doc_frac=0.9
        ).orderBy("doc_id").collect()
        assert [r["text"] for r in keep] == docs

    def test_repeat_within_one_doc_not_boilerplate(self, spark):
        from pdf2dataset_spark.operators.dedup import remove_boilerplate

        # distinct-DOC counting: a paragraph repeated inside ONE doc
        # is repetition (Gopher's problem), not cross-doc boilerplate
        # (digit-stripped normalization means 'body2' would equal
        # 'body' — keep the second doc's paragraphs disjoint)
        docs = ["dup\ndup\ndup\nbody", "other\nelse"]
        out = remove_boilerplate(
            self._df(spark, docs), min_docs=2
        ).orderBy("doc_id").collect()
        assert out[0]["text"] == "dup\ndup\ndup\nbody"

    def test_keep_empty_retains_all_boilerplate_docs(self, spark):
        from pdf2dataset_spark.operators.dedup import remove_boilerplate

        docs = ["SAME", "SAME", "SAME", "fresh text"]
        kept = remove_boilerplate(
            self._df(spark, docs), min_docs=3, keep_empty=True
        ).orderBy("doc_id").collect()
        assert [r["text"] for r in kept] == ["", "", "", "fresh text"]
        dropped = remove_boilerplate(
            self._df(spark, docs), min_docs=3, keep_empty=False
        ).orderBy("doc_id").collect()
        assert [r["doc_id"] for r in dropped] == [3]

    def test_param_validation(self, spark):
        from pdf2dataset_spark.operators.dedup import remove_boilerplate
        import pytest as _pt

        df = self._df(spark, ["x"])
        with _pt.raises(ValueError):
            remove_boilerplate(df)
        with _pt.raises(ValueError):
            remove_boilerplate(df, min_docs=2, min_doc_frac=0.5)
