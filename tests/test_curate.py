"""End-to-end curation pipeline (pdf2dataset_spark/curate.py):
planted junk/dup corpus in → exactly the right docs out, split and
shards deterministic, manifest consistent, CLI surface works."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pdf2dataset_spark import curate as cu
from pdf2dataset_spark.operators import shards as sh

def _doc(i: int, n_words: int = 30) -> str:
    """Deterministic per-doc vocabulary — docs share almost no
    shingles, so only the PLANTED dups are near-dups."""
    import hashlib

    words = []
    for j in range(n_words):
        h = hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:6]
        words.append(f"w{h}")
    return " ".join(words)


@pytest.fixture()
def corpus(spark):
    rows = [(i, _doc(i)) for i in range(40)]  # unique good docs
    rows.append((100, rows[0][1]))            # exact dup of doc 0
    rows.append((101, _doc(1) + " xq zq"))    # near dup of doc 1
    rows.append((102, "short"))               # junk: too few tokens
    rows.append((103, "spam ham " * 200))     # junk: repeated bigrams
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_keeps_exactly_the_right_docs(spark, corpus):
    out = cu.curate(corpus, train_frac=0.9, n_shards=4)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert set(range(40)) <= kept            # all unique good docs kept
    assert 100 not in kept                   # exact dup dropped
    assert 101 not in kept                   # near dup dropped (LSH+jaccard)
    assert 102 not in kept and 103 not in kept  # junk filtered
    cols = set(out.columns)
    assert {"split", "shard_id", "q_n_tokens"} <= cols


def test_curate_split_and_shards_deterministic(spark, corpus):
    a = cu.curate(corpus, n_shards=4).select("doc_id", "split", "shard_id")
    b = cu.curate(corpus, n_shards=4).select("doc_id", "split", "shard_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    shard_vals = {r["shard_id"] for r in a.collect()}
    assert shard_vals <= set(range(4))


def test_curate_neardup_none_keeps_near_dup(spark, corpus):
    kept = {
        r["doc_id"]
        for r in cu.curate(corpus, neardup="none").select("doc_id").collect()
    }
    assert 101 in kept and 100 not in kept  # exact still dropped


def test_run_writes_shards_and_manifest(spark, corpus, tmp_path):
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "curated")
    corpus.write.parquet(src)
    report = cu.run(spark, src, out, n_shards=4)
    assert report["input_docs"] == 44
    assert report["kept_docs"] == 40
    assert report["train_docs"] + report["test_docs"] == 40
    man = sh.read_manifest(spark, out)
    [tot] = man.agg(F.sum("n_docs").alias("n")).collect()
    assert tot["n"] == 40
    data = spark.read.parquet(out + "/data")
    assert data.count() == 40


#: Spark jobs one ``curate.run`` over the fixture corpus may launch
#: (AQE query stages count as jobs): each doc is shingled once, each
#: components round is one action and the per-split audit rides on
#: the shard write. Any redundant pass over the plan adds jobs.
RUN_MAX_JOBS = 37


def test_run_job_count_and_audit_from_the_write(spark, corpus, tmp_path):
    src = str(tmp_path / "in_jobs.parquet")
    out = str(tmp_path / "curated_jobs")
    corpus.write.parquet(src)
    sc = spark.sparkContext
    group = "test-curate-run-jobs"
    sc.setJobGroup(group, group)
    try:
        report = cu.run(spark, src, out, n_shards=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert 0 < len(jobs) <= RUN_MAX_JOBS
    sites = [
        info.name
        for j in jobs
        for s in st.getJobInfo(j).stageIds
        if (info := st.getStageInfo(s)) is not None
    ]
    assert not [
        n for n in sites if n.startswith("collect at") and "curate.py" in n
    ]
    data = spark.read.parquet(out + "/data")
    per_split = {
        r["split"]: r["count"] for r in data.groupBy("split").count().collect()
    }
    assert report["train_docs"] == per_split.get("train", 0)
    assert report["test_docs"] == per_split.get("test", 0)
    assert report["kept_docs"] == sum(per_split.values()) == 40


def test_cli_main(spark, corpus, tmp_path, capsys):
    src = str(tmp_path / "in2.parquet")
    out = str(tmp_path / "curated2")
    corpus.write.parquet(src)
    rc = cu.main([src, out, "--shards", "2", "--neardup", "none"])
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    rep = json.loads(line)
    assert rep["kept_docs"] == 41  # near dup kept in this mode


def test_curate_decontamination(spark, corpus):
    bench = spark.createDataFrame(
        [(0, _doc(5)), (1, _doc(7))], "bid long, text string"
    )
    kept = {
        r["doc_id"]
        for r in cu.curate(
            corpus, neardup="none", benchmark=bench, max_contamination=0.1
        )
        .select("doc_id")
        .collect()
    }
    assert 5 not in kept and 7 not in kept  # contaminated docs dropped
    assert {0, 2, 3, 4, 6, 8} <= kept       # the rest survive


def test_curate_plan_has_no_cartesian(spark, corpus):
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(
        cu.curate(corpus, persist_stages=False), "formatted"
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
