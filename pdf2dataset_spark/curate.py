"""End-to-end corpus curation pipeline — the product surface that
composes the tier-F operators into one lazy plan:

    quality gates → exact dedup → LSH near-dup → deterministic
    train/test split → hashed shard assignment → sharded sink

Every stage is an existing, individually-oracled operator
(operators/text.py, dedup.py, cluster.py, shards.py); this module
only composes and exposes them as a library call (:func:`curate`)
and a CLI (``python -m pdf2dataset_spark.curate``).

Scale posture: one logical plan end-to-end — no driver materialization
between stages. Four persisted cut points bound recomputation, each
read by more than one branch: post-gates, post-exact-dedup, the
(id, shingles) sets that LSH banding and exact-Jaccard verification
both read (each doc is shingled once), and post-near-dup, which the
shard write and the manifest both read. Exact dedup uses the join
strategy (hash + id shuffle only); near-dup pair generation and
components read only ids, shingle sets and narrow (id1, id2) edges,
never the text column. The train/test split and shard id are pure hash
functions of the doc id — deterministic across reruns, cluster sizes,
and partitionings.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf2dataset_spark.operators import cluster as cl
from pdf2dataset_spark.operators import dedup as dd
from pdf2dataset_spark.operators import shards as sh
from pdf2dataset_spark.operators import text as tx
from pdf2dataset_spark.plans.progress import observed


def split_hash(id_col: str) -> F.Column:
    """Deterministic uniform [0,1) from the doc id (md5 prefix) —
    the f17 split function: stable under reruns and re-partitioning."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )


#: Stage cut points persisted by curate(); they must outlive the
#: caller's actions (shard write + manifest), so curate cannot unpersist
#: them itself. run() releases them when done; library callers that
#: loop over curate() should call release_caches() between iterations.
#: Lock-guarded; multi-threaded callers building concurrent curated
#: plans should serialize release (a global release from one thread
#: unpersists cut points another thread's pending plan depends on —
#: wrap rank-level work in rank.cache_scope and release stage caches
#: only when no other plan is in flight).
_STAGE_CACHES: list[DataFrame] = []
_STAGE_LOCK = threading.Lock()


def release_caches() -> int:
    """Unpersist curate()'s stage cut points AND the ranked frames its
    shard packing cached (rank.release_caches). Call after the actions
    consuming the curated plan have run; re-executing an already-built
    curated plan afterwards recomputes stages from scratch."""
    from pdf2dataset_spark.operators import rank

    n = rank.release_caches()
    with _STAGE_LOCK:
        frames = list(_STAGE_CACHES)
        _STAGE_CACHES.clear()
    while frames:
        d = frames.pop()
        try:
            d.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    return n


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_dup_bigram: float = 0.5,
    exact: bool = True,
    neardup: str = "lsh",
    jaccard_threshold: float = 0.8,
    verify_jaccard: bool = True,
    shingle_n: int = 3,
    train_frac: float = 0.9,
    n_shards: int = 16,
    benchmark: DataFrame | None = None,
    max_contamination: float = 0.1,
    persist_stages: bool = True,
) -> DataFrame:
    """The curated corpus: input columns + quality features +
    ``split`` ('train'/'test') + ``shard_id``. Lazy — nothing runs
    until the caller writes or counts.

    ``persist_stages`` (default on) marks the multi-consumer cut
    points (post-gates, post-exact-dedup, the shingle sets, post-
    near-dup) as MEMORY_AND_DISK persisted: the repetition/LSH/
    contamination stages each join BACK onto their input, banding and
    verification both read the shingle sets (persisted only when
    ``verify_jaccard`` gives them a second reader), and without a
    persist each branch re-executes the whole upstream lineage
    (measured 6.7x slower at 500k docs). Spark's ReusedExchange only
    kicks in for identical subtrees inside one plan — cross-branch scan
    pruning differences defeat it, so explicit persistence is the
    correct composition primitive here. Pass False for a fully lazy
    plan (e.g. to explain/audit it)."""
    from pyspark import StorageLevel

    def cut(d: DataFrame) -> DataFrame:
        if not persist_stages:
            return d
        d = d.persist(StorageLevel.MEMORY_AND_DISK)
        with _STAGE_LOCK:
            _STAGE_CACHES.append(d)
        return d
    out = tx.quality_filter(
        df, text_col, min_tokens=min_tokens, max_tokens=max_tokens
    )
    if max_dup_bigram < 1.0:
        # computed on the already-quality-filtered set: docs dropped by
        # the cheap gates never pay the bigram explode
        rep = tx.repetition_stats(out, text_col, id_col).select(
            id_col, "dup_bigram_frac"
        )
        out = (
            out.join(rep, id_col, "left")
            .filter(
                F.coalesce(F.col("dup_bigram_frac"), F.lit(0.0))
                <= max_dup_bigram
            )
            .drop("dup_bigram_frac")
        )
    out = cut(out)
    if exact:
        out = cut(
            dd.exact_dedup(
                out, text_col, order_col=id_col, keep_hash=False, strategy="join"
            )
        )
    if neardup == "lsh":
        # verify_jaccard=True (default): LSH candidates are confirmed
        # with exact Jaccard before any drop, so an LSH collision can
        # never delete a unique document. False drops candidates
        # unverified — ~2x faster on the near-dup stage, with the
        # false-positive drop risk bounded by the banding parameters.
        # one cut of the shingle sets: banding and verification both
        # read it, so each doc is shingled once
        sh_sets = out.select(
            id_col, dd.shingles(text_col, n=shingle_n).alias("__sh")
        )
        if verify_jaccard:
            sh_sets = cut(sh_sets)
        sig = sh_sets.select(
            id_col, dd.minhash_signature("__sh").alias("minhash")
        )
        pairs = dd.lsh_candidate_pairs(sig, id_col=id_col, max_bucket=64)
        if verify_jaccard:
            pairs = dd.jaccard_pairs(
                sh_sets,
                id_col=id_col,
                set_col="__sh",
                threshold=jaccard_threshold,
                candidates=pairs,
            ).select("id1", "id2")
        out = cut(cl.dedup_by_components(out, pairs, id_col=id_col))
    elif neardup != "none":
        raise ValueError(f"unknown neardup mode {neardup!r}")
    if benchmark is not None:
        # eval-set decontamination (F21 primitive): drop docs whose
        # 5-gram shingles overlap the benchmark beyond the threshold;
        # the benchmark's distinct shingle set is broadcast, the
        # corpus text never shuffles for this stage.
        cont = dd.ngram_contamination(
            out, benchmark, id_col=id_col, text_col=text_col
        ).select(id_col, "contamination_frac")
        out = (
            out.join(cont, id_col, "left")
            .filter(
                F.coalesce(F.col("contamination_frac"), F.lit(0.0))
                <= max_contamination
            )
            .drop("contamination_frac")
        )
    u = split_hash(id_col)
    return out.withColumn(
        "split", F.when(u < train_frac, "train").otherwise("test")
    ).withColumn(
        "shard_id", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )


def run(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    **opts,
) -> dict:
    """Read → curate → sharded write (+ manifest); returns the audit
    report (input/kept counts per split). The per-split counts are
    observed on the frame the shard write materializes, so the audit
    costs no extra pass over the curated result."""
    df = spark.read.parquet(in_path)
    n_in = df.count()
    bench_path = opts.pop("benchmark_path", None)
    if bench_path:
        opts["benchmark"] = spark.read.parquet(bench_path)
    try:
        cur, audit = observed(
            curate(df, **opts),
            "curate_audit",
            F.count_if(F.col("split") == "train").alias("train"),
        )
        sh.write_shards(
            cur,
            out_path,
            shard_col="shard_id",
            id_col=opts.get("id_col", "doc_id"),
            token_col="q_n_tokens",
        )
        counts = audit.get
    finally:
        # the write is the last action over the curated plan; drop the
        # stage/rank caches so repeated runs don't accumulate cached RDDs
        release_caches()
    report = {
        "input_docs": n_in,
        "kept_docs": counts["n_rows"],
        "train_docs": counts["train"],
        "test_docs": counts["n_rows"] - counts["train"],
        "out_path": out_path,
    }
    return report


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m pdf2dataset_spark.curate",
        description="Curate a parquet document corpus into training shards.",
    )
    p.add_argument("input", help="input parquet path (documents table)")
    p.add_argument("output", help="output directory (data/ + manifest/)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--min-tokens", type=int, default=5)
    p.add_argument("--max-tokens", type=int, default=100_000)
    p.add_argument("--max-dup-bigram", type=float, default=0.5)
    p.add_argument("--no-exact-dedup", action="store_true")
    p.add_argument("--neardup", choices=["lsh", "none"], default="lsh")
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument(
        "--no-verify-jaccard",
        action="store_true",
        help="drop LSH candidates without exact-Jaccard confirmation "
        "(~2x faster near-dup stage; small false-drop risk)",
    )
    p.add_argument(
        "--decontaminate",
        default=None,
        metavar="BENCH_PARQUET",
        help="drop docs whose 5-gram overlap with this eval corpus "
        "exceeds --max-contamination",
    )
    p.add_argument("--max-contamination", type=float, default=0.1)
    p.add_argument("--train-frac", type=float, default=0.9)
    p.add_argument("--shards", type=int, default=16)
    p.add_argument("--num-cpus", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    from pdf2dataset_spark.session import get_spark

    args = build_parser().parse_args(argv)
    master = f"local[{args.num_cpus}]" if args.num_cpus else None
    # getOrCreate may hand us a pre-existing session (library/test
    # embedding) — only stop what this CLI itself created
    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark("pdf2dataset-curate", master=master)
    try:
        report = run(
            spark,
            args.input,
            args.output,
            text_col=args.text_col,
            id_col=args.id_col,
            min_tokens=args.min_tokens,
            max_tokens=args.max_tokens,
            max_dup_bigram=args.max_dup_bigram,
            exact=not args.no_exact_dedup,
            neardup=args.neardup,
            jaccard_threshold=args.jaccard,
            verify_jaccard=not args.no_verify_jaccard,
            train_frac=args.train_frac,
            n_shards=args.shards,
            benchmark_path=args.decontaminate,
            max_contamination=args.max_contamination,
        )
        print(json.dumps(report))
    finally:
        if not pre_existing:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
