"""The three workloads: inputs, the timed user call, and its check.

A workload is built from its seed before Spark starts. ``stage``
does the untimed per-call preparation, ``call`` is the one user call
that is timed, and ``check`` verifies its output (untimed) and
returns a list of problems, empty when the output is correct.
"""

from __future__ import annotations

import hashlib
import shutil
from pathlib import Path


def _sha(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


#: Processes computing the reference texts before Spark starts. They
#: are forked (no Spark thread exists yet), which, unlike a spawned
#: pool, starts no resource-tracker process that outlives the pool.
REFERENCE_PROCS = 3


def reference_pages(content: bytes) -> list[str] | None:
    """Page texts of ``PdfCodec.open`` run outside Spark; None when
    the codec rejects the bytes (the package must then write one error
    row)."""
    from pdf2dataset_spark.sources.codecs import PdfCodec

    try:
        return PdfCodec().open(content).pages
    except ValueError:
        return None


def _read_rows(path: Path, columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


class Workload:
    name = ""
    #: whether the traced run forces the extraction layers (else the
    #: curation layers)
    extraction = False

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None
        self._out: Path | None = None
        self._n = 0

    def bind(self, spark) -> None:
        self.spark = spark

    def stage(self) -> Path:
        """Untimed: a fresh output path for the next call."""
        self._n += 1
        self._out = self.work / f"out-{self._n:04d}"
        return self._out

    def call(self):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def cleanup(self) -> None:
        if self._out is not None:
            shutil.rmtree(self._out, ignore_errors=True)


class _Extraction(Workload):
    extraction = True
    #: Rounds of (one user call, floor, engine, sink) behind the
    #: traced run's CPU split (see ``layers.extraction_layers``). A
    #: real-corpus call's CPU swings by ~1 CPU-s; with three rounds the
    #: median residual still read 13% of a call's CPU in one run, with
    #: five it read -1% to 2%.
    split_rounds = 5

    def _expect(self, docs: dict[str, bytes]) -> None:
        """Reference page texts from ``PdfCodec.open`` on the very
        bytes the package receives, outside Spark (``None`` for a doc
        the codec rejects)."""
        from concurrent.futures import ProcessPoolExecutor
        from multiprocessing import get_context

        paths = sorted(docs)
        with ProcessPoolExecutor(REFERENCE_PROCS, mp_context=get_context("fork")) as pool:
            texts = pool.map(reference_pages, [docs[p] for p in paths],
                             chunksize=max(1, len(paths) // (4 * REFERENCE_PROCS)))
            self.reference = dict(zip(paths, texts))
        self.expected = {
            p: None if t is None else [_sha(x) for x in t]
            for p, t in self.reference.items()
        }

    def _check_pages(self, out: Path, paths: set[str]) -> list[str]:
        """Every page of every doc in ``paths`` exactly once with the
        reference text, exactly one ``page = -1`` row per malformed
        doc, and nothing else."""
        errs: list[str] = []
        seen: dict[tuple[str, int], str | None] = {}
        n_rows = 0
        for r in _read_rows(out, ["path", "page", "text", "error"]):
            n_rows += 1
            key = (r["path"], r["page"])
            if key in seen:
                errs.append(f"repeated row {key}")
            seen[key] = _sha(r["text"]) if r["error"] is None else "error"
        want = 0
        for path in sorted(paths):
            exp = self.expected[path]
            if exp is None:
                want += 1
                if seen.get((path, -1)) != "error":
                    errs.append(f"{path}: no error row")
                continue
            want += len(exp)
            for page, sha in enumerate(exp, 1):
                if seen.get((path, page)) != sha:
                    errs.append(f"{path} page {page}: text differs")
        if n_rows != want:
            errs.append(f"{n_rows} rows, expected {want}")
        return errs[:20]


class RealCorpusExtract(_Extraction):
    """``extract(dir, out, use_pdf_codec=True)`` over 32 copies of two
    real manuals: the PDF engine does most of the work."""

    name = "real_corpus_extract"

    def __init__(self, work: Path, seed: int) -> None:
        from benchmark import inputs

        super().__init__(work)
        self.docs = inputs.real_corpus(seed)
        self.in_dir = work / "in"
        for rel, content in self.docs.items():
            p = self.in_dir / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(content)
        self._expect(self.docs)

    @property
    def input(self) -> str:
        return str(self.in_dir)

    def call(self):
        from pdf2dataset_spark import extract

        return extract(self.input, str(self._out), spark=self.spark,
                       use_pdf_codec=True)

    def check(self, result) -> list[str]:
        return self._check_pages(self._out, set(self.docs))


class SmallDocsExtract(_Extraction):
    """``ExtractionPipeline.run(dict, out)`` over ~1,500 pages of tiny
    documents, ~3% malformed, resuming onto an output that already
    holds a seeded half: Spark's fixed costs, the manifest, the Arrow
    boundary, the error path and the resume read do the work."""

    name = "small_docs_extract"
    #: Each action's VM CPU swings by ~0.3 CPU-s here, a seventh of
    #: a call, so the split's medians need more rounds.
    split_rounds = 11

    def __init__(self, work: Path, seed: int) -> None:
        from benchmark import inputs

        super().__init__(work)
        self.corpus = inputs.small_corpus(seed)
        self.docs = self.corpus.docs
        self._expect(self.docs)
        self.done_out = work / "done"
        self._write_done()

    @property
    def input(self) -> dict[str, bytes]:
        return self.docs

    def _write_done(self) -> None:
        """The output a previous, interrupted run left behind: the
        rows of the done half, in the sink's own layout."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = []
        for path in sorted(self.corpus.done):
            texts = self.reference[path]
            if texts is None:
                rows.append((path, -1, None, "ValueError: not a PDF"))
            else:
                rows += [(path, i, t, None) for i, t in enumerate(texts, 1)]
        schema = pa.schema([("path", pa.string(), False),
                            ("page", pa.int32(), False),
                            ("text", pa.string()), ("error", pa.string())])
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
            schema=schema,
        )
        self.done_out.mkdir(parents=True)
        pq.write_table(table, self.done_out / "part-00000-done.gz.parquet",
                       compression="gzip")

    def stage(self) -> Path:
        out = super().stage()
        shutil.copytree(self.done_out, out)
        return out

    def call(self):
        from pdf2dataset_spark import ExtractionPipeline
        from pdf2dataset_spark.sources.codecs import PdfCodec

        return ExtractionPipeline(spark=self.spark, codec=PdfCodec()).run(
            self.docs, str(self._out))

    def check(self, result) -> list[str]:
        return self._check_pages(self._out, set(self.docs))


class CurateCorpus(Workload):
    """``curate.run`` over the 500-document table plus ~10% seeded
    copies: Spark job and stage count, no PDF engine, no Python
    worker."""

    name = "curate_corpus"

    def __init__(self, work: Path, seed: int) -> None:
        from benchmark import inputs

        super().__init__(work)
        self.corpus = inputs.curate_corpus(seed)
        work.mkdir(parents=True, exist_ok=True)
        self.in_path = work / "documents.parquet"
        inputs.write_curate_input(self.corpus, self.in_path)

    def call(self):
        from pdf2dataset_spark import curate

        return curate.run(self.spark, str(self.in_path), str(self._out))

    def check(self, report) -> list[str]:
        rows = _read_rows(self._out / "data", ["doc_id", "text"])
        errs = []
        ids = [r["doc_id"] for r in rows]
        if len(set(ids)) != len(ids):
            errs.append("a doc_id is kept twice")
        if len({r["text"] for r in rows}) != len(rows):
            errs.append("two kept texts are equal")
        kept_copies = self.corpus.exact_copies & set(ids)
        if kept_copies:
            errs.append(f"exact copies kept: {sorted(kept_copies)[:5]}")
        if len(rows) != report["kept_docs"]:
            errs.append(f"{len(rows)} shard rows, report says "
                        f"{report['kept_docs']}")
        if report["input_docs"] != len(self.corpus.rows):
            errs.append(f"report input_docs {report['input_docs']} != "
                        f"{len(self.corpus.rows)}")
        return errs


WORKLOADS = {w.name: w for w in (RealCorpusExtract, SmallDocsExtract,
                                 CurateCorpus)}
