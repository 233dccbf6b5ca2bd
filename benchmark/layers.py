"""Per-layer figures for a traced run.

Spans on the Spark driver time only planning, because Spark is lazy. Each
layer is therefore also forced on its own input: the input is
persisted, then the layer's output is forced with a ``noop`` write
(or the layer's own write, for sinks) and timed, with the VM CPU
seconds it used.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from pathlib import Path

from pdf2dataset_spark.sources.codecs import DocumentCodec, PdfCodec

from benchmark import probes
from benchmark.sparkstats import RestStatus


class FloorCodec(DocumentCodec):
    """Replays the reference page texts without any PDF work: the
    same rows, error rows and Arrow traffic as ``PdfCodec``, with the
    engine taken out."""

    name = "floor"

    def __init__(self, docs: dict[str, bytes],
                 reference: dict[str, list[str] | None]) -> None:
        self.pages = {hashlib.sha1(docs[p]).digest(): t
                      for p, t in reference.items()}

    def open(self, content: bytes) -> list[str]:
        pages = self.pages[hashlib.sha1(content).digest()]
        if pages is None:
            raise ValueError("rejected by the reference codec")
        return pages

    def page_count(self, handle: list[str]) -> int:
        return len(handle)

    def page_text(self, handle: list[str], page: int) -> str:
        return handle[page - 1]


class TimedPdfCodec(PdfCodec):
    """``PdfCodec`` that adds the CPU seconds its ``open`` spends, in
    the Python worker, to a Spark accumulator."""

    def __init__(self, acc) -> None:
        super().__init__()
        self.acc = acc

    def open(self, content: bytes):
        t0 = time.thread_time()
        try:
            return super().open(content)
        finally:
            self.acc.add(time.thread_time() - t0)


class Forcer:
    """Runs actions under named job groups and times them."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.rest = RestStatus(self.sc)

    def timed(self, group: str, fn) -> tuple[float, float, object]:
        """(wall s, VM CPU s, result) of ``fn()`` under job group
        ``group``."""
        self.sc.setJobGroup(group, group)
        c0, t0 = probes.cpu_seconds(), time.perf_counter()
        res = fn()
        t1, c1 = time.perf_counter(), probes.cpu_seconds()
        return t1 - t0, c1 - c0, res

    def noop(self, group: str, df) -> tuple[float, float]:
        wall, cpu, _ = self.timed(
            group, lambda: df.write.format("noop").mode("overwrite").save())
        return wall, cpu

    @staticmethod
    def persist(df):
        df = df.persist()
        df.count()
        return df


def minipdf_split(docs: dict[str, bytes]) -> dict[str, float]:
    """In-process ms per page of ``PdfCodec.open`` and of the three
    engine stages behind it: parse (object table and page tree),
    resolve (each page's content, fonts and resources) and layout
    (content lexing, interpretation and reading-order assembly)."""
    from pdf2dataset_spark.sources import minipdf

    codec = PdfCodec()
    opened = parse = resolve = layout = 0.0
    pages = 0
    for content in docs.values():
        t0 = time.perf_counter()
        try:
            codec.open(content)
        except ValueError:
            continue
        opened += time.perf_counter() - t0
        t0 = time.perf_counter()
        try:
            doc = minipdf.PdfDocument(content)
            page_dicts = doc.pages()
        except ValueError:
            continue
        parse += time.perf_counter() - t0
        for p in page_dicts:
            t1 = time.perf_counter()
            stream = doc.page_content(p)
            kw = dict(
                fonts=doc.page_fonts(p),
                rotate=minipdf.page_rotation(doc, p),
                media_box=minipdf.page_media_box(doc, p),
                forms=doc.page_forms(p),
                ext_gstates=doc.page_ext_gstates(p),
                props=doc.page_properties(p),
            )
            t2 = time.perf_counter()
            minipdf.content_text_layout(stream, **kw)
            resolve += t2 - t1
            layout += time.perf_counter() - t2
            pages += 1
    per = 1e3 / max(pages, 1)
    return {
        "codecs.open_ms_per_page": opened * per,
        "minipdf.parse_ms_per_page": parse * per,
        "minipdf.resolve_ms_per_page": resolve * per,
        "minipdf.layout_ms_per_page": layout * per,
    }


#: SQL metrics of the ``MapInArrow`` node behind the ``features.py_*``
#: and ``features.bytes_*`` figures.
PY_NODE_METRICS = (
    "time to start Python workers", "time to initialize Python workers",
    "time to run Python workers", "data sent to Python workers",
    "data returned from Python workers",
)

#: Per-layer metrics only the curation workload measures, and only
#: the extraction workloads measure: a traced run sets the other
#: kind's to 0.
CURATE_ONLY = (
    "curate.count_s", "curate.audit_s", "text.quality_s",
    "dedup.exact_s", "dedup.exact_dropped", "dedup.lsh_s",
    "dedup.lsh_candidates", "dedup.verified_pairs", "dedup.lsh_precision",
    "cluster.components_s", "shards.write_s", "shards.write_mb",
)
EXTRACTION_ONLY = (
    "sources.manifest_s", "sources.manifest_mb", "sources.partitions",
    "minipdf.parse_ms_per_page", "minipdf.resolve_ms_per_page",
    "minipdf.layout_ms_per_page", "codecs.open_ms_per_page",
    "codecs.engine_cpu_s", "features.floor_s", "features.floor_cpu_s",
    "features.py_init_s", "features.py_run_s", "features.bytes_to_py",
    "features.bytes_from_py", "features.rows_out", "features.error_rows",
    "features.error_row_share", "resume.load_done_s", "resume.docs_skipped",
    "resume.skip_share", "io.sink_s", "io.sink_cpu_s", "io.sink_mb",
    "split.unexplained_cpu_s",
)


def extraction_layers(wl, spark, one_call) -> dict[str, float]:
    """Sources, resume, features (engine and floor) and sink of an
    extraction workload, each forced on its own input.

    The floor, engine and sink are measured in ``wl.split_rounds``
    rounds, each next to one more user call (``one_call(group)`` ->
    (wall s, CPU s)), so the CPU split compares figures taken in the
    same JVM state and host speed: the median over rounds of the
    call's CPU minus that round's engine, floor and sink CPU."""
    import statistics

    from pyspark.sql import functions as F

    from pdf2dataset_spark import ExtractionPipeline
    from pdf2dataset_spark.io import write_parquet_append
    from pdf2dataset_spark.operators.features import extract_features
    from pdf2dataset_spark.operators.resume import load_done, resume_filter

    f = Forcer(spark)
    pipe = ExtractionPipeline(spark=spark)
    m: dict[str, float] = {}

    m["sources.manifest_s"], _ = f.noop("layer-manifest", pipe.manifest(wl.input))
    mf = f.persist(pipe.manifest(wl.input))
    n_docs = mf.count()
    m["sources.partitions"] = mf.rdd.getNumPartitions()
    m["sources.manifest_mb"] = sum(len(v) for v in wl.docs.values()) / 2**20

    out = wl.stage()
    t0 = time.perf_counter()
    done = load_done(spark, str(out), keys=["path"])
    if done is not None:
        f.noop("layer-resume", done)
    m["resume.load_done_s"] = time.perf_counter() - t0
    pending = mf if done is None else f.persist(resume_filter(mf, done, ["path"]))
    skipped = n_docs - pending.count()
    m["resume.docs_skipped"] = skipped
    m["resume.skip_share"] = skipped / n_docs
    floor_out = str(out)
    # the floor is the very call (manifest, resume read, fan-out, error
    # rows) with a codec that does no PDF work, into a noop sink
    floor = ExtractionPipeline(spark=spark,
                               codec=FloorCodec(wl.docs, wl.reference))
    sink_out = wl.work / "layer-sink"

    rounds: list[dict[str, float]] = []
    unexplained = []
    for r in range(wl.split_rounds):
        call_cpu = one_call(f"split-{r}")[1]
        row: dict[str, float] = {}
        row["features.floor_s"], row["features.floor_cpu_s"], _ = f.timed(
            f"layer-floor-{r}",
            lambda: floor.pages(wl.input, resume_from=floor_out)
            .write.format("noop").mode("overwrite").save())
        acc = spark.sparkContext.accumulator(0.0)
        feats = extract_features(pending, ["text"],
                                 codec=TimedPdfCodec(acc)).persist()
        f.noop(f"layer-features-{r}", feats)
        row["codecs.engine_cpu_s"] = acc.value
        noop_s, noop_cpu = f.noop(f"layer-sink-noop-{r}", feats)
        write_s, write_cpu, _ = f.timed(
            f"layer-sink-{r}", lambda: write_parquet_append(feats, str(sink_out)))
        row["io.sink_s"] = write_s - noop_s
        row["io.sink_cpu_s"] = write_cpu - noop_cpu
        rounds.append(row)
        unexplained.append(call_cpu - row["codecs.engine_cpu_s"]
                           - row["features.floor_cpu_s"] - row["io.sink_cpu_s"])
        if r + 1 < wl.split_rounds:
            feats.unpersist()
            shutil.rmtree(sink_out)
    for k in rounds[0]:
        m[k] = statistics.median(row[k] for row in rounds)
    m["split.unexplained_cpu_s"] = statistics.median(unexplained)

    py = f.rest.python_node("layer-features-0", PY_NODE_METRICS)
    m["features.py_init_s"] = (py["time to start Python workers"]
                               + py["time to initialize Python workers"])
    m["features.py_run_s"] = py["time to run Python workers"]
    m["features.bytes_to_py"] = py["data sent to Python workers"]
    m["features.bytes_from_py"] = py["data returned from Python workers"]
    rows = feats.count()
    errors = feats.filter(F.col("error").isNotNull()).count()
    m["features.rows_out"] = rows
    m["features.error_rows"] = errors
    m["features.error_row_share"] = errors / rows if rows else 0.0
    m["io.sink_mb"] = dir_mb(sink_out)

    for d in (feats, pending, mf):
        d.unpersist()
    shutil.rmtree(out, ignore_errors=True)
    m.update(minipdf_split(wl.docs))
    return m


def curate_layers(wl, spark) -> dict[str, float]:
    """Quality gates, exact dedup, LSH near-dup, components and the
    shard write of ``curate.run``, each forced on its own input with
    the arguments ``curate.run`` uses by default."""
    from pdf2dataset_spark import curate as cu
    from pdf2dataset_spark.operators import cluster as cl
    from pdf2dataset_spark.operators import dedup as dd
    from pdf2dataset_spark.operators import shards as sh

    f = Forcer(spark)
    m: dict[str, float] = {}
    df = f.persist(spark.read.parquet(str(wl.in_path)))

    m["text.quality_s"], _ = f.noop(
        "layer-quality",
        cu.curate(df, exact=False, neardup="none", persist_stages=False))
    q = f.persist(cu.curate(df, exact=False, neardup="none",
                            persist_stages=False))

    exact_plan = dd.exact_dedup(q, "text", order_col="doc_id",
                                keep_hash=False, strategy="join")
    m["dedup.exact_s"], _ = f.noop("layer-exact", exact_plan)
    e = f.persist(exact_plan)
    m["dedup.exact_dropped"] = q.count() - e.count()

    sig = f.persist(e.select(
        "doc_id",
        dd.minhash_signature(dd.shingles("text", n=3)).alias("minhash"),
        dd.shingles("text", n=3).alias("__sh"),
    ))

    def verified(cands):
        return dd.jaccard_pairs(sig, id_col="doc_id", set_col="__sh",
                                threshold=0.8, candidates=cands).select("id1", "id2")

    m["dedup.lsh_s"], _ = f.noop(
        "layer-lsh",
        verified(dd.lsh_candidate_pairs(sig, id_col="doc_id", max_bucket=64)))
    cands = f.persist(dd.lsh_candidate_pairs(sig, id_col="doc_id", max_bucket=64))
    pairs = f.persist(verified(cands))
    n_cand, n_ver = cands.count(), pairs.count()
    m["dedup.lsh_candidates"] = n_cand
    m["dedup.verified_pairs"] = n_ver
    m["dedup.lsh_precision"] = n_ver / n_cand if n_cand else 0.0

    m["cluster.components_s"], _, _ = f.timed(
        "layer-components",
        lambda: cl.dedup_by_components(e, pairs, id_col="doc_id")
        .write.format("noop").mode("overwrite").save())

    cur = f.persist(cu.curate(df))
    shard_out = wl.work / "layer-shards"
    m["shards.write_s"], _, _ = f.timed(
        "layer-shards",
        lambda: sh.write_shards(cur, str(shard_out), shard_col="shard_id",
                                id_col="doc_id", token_col="q_n_tokens"))
    m["shards.write_mb"] = dir_mb(shard_out)
    cu.release_caches()
    for d in (cur, pairs, cands, sig, e, q, df):
        d.unpersist()
    return m


def dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20
