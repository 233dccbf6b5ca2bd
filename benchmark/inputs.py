"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and the package under test only ever sees what
these functions return. The source files live in ``data/`` next to
this module so the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"

#: Real manuals whose text layers make the PDF engine do the work:
#: 36 and 17 pages, FlateDecode content and embedded Type1/TrueType
#: font encodings.
MANUALS = ("libtasn1.pdf", "shared-mime-info-spec.pdf")
#: Seeded copies of each manual (2 x 16 = 32 documents, 848 pages).
REAL_COPIES = 16

#: Target page count of the small-document corpus, its malformed
#: share and the share of documents already present in the output
#: before each timed call (the resume half).
SMALL_PAGES = 1500
SMALL_MALFORMED_SHARE = 0.03
SMALL_DONE_SHARE = 0.5

#: Share of curation documents re-added as copies; half of the copies
#: are exact, half have a few words changed.
CURATE_COPY_SHARE = 0.10
CURATE_COPY_ID_BASE = 1_000_000

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu table column page index record "
    "stream batch merge shard token corpus parse layout render"
).split()


def real_corpus(seed: int) -> dict[str, bytes]:
    """``REAL_COPIES`` copies of each manual, each made distinct by a
    seeded comment line after ``%%EOF`` (ignored by PDF readers, so
    every copy extracts to its manual's text)."""
    rng = random.Random(seed)
    docs: dict[str, bytes] = {}
    for name in MANUALS:
        base = (DATA / name).read_bytes()
        stem = name.rsplit(".", 1)[0]
        for i in range(REAL_COPIES):
            tail = b"%" + rng.randbytes(24).hex().encode() + b"\n"
            docs[f"{stem}/{stem}-{i:02d}.pdf"] = base + tail
    return docs


@dataclass(frozen=True)
class SmallCorpus:
    docs: dict[str, bytes]
    #: path -> expected page texts; ``None`` marks a malformed doc.
    pages: dict[str, list[str] | None]
    #: paths already present in the output before each timed call
    done: frozenset[str]


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _malformed(rng: random.Random) -> bytes:
    """Bytes every PDF reader must reject: either no ``%PDF-`` header
    at all, or a header followed by garbage with no catalog."""
    junk = rng.randbytes(rng.randint(64, 512)).replace(b"%PDF", b"%PDX")
    if rng.random() < 0.5:
        return b"\x00" + junk
    return b"%PDF-1.4\n" + junk.replace(b"obj", b"ojb") + b"\n%%EOF\n"


def small_corpus(seed: int) -> SmallCorpus:
    """~``SMALL_PAGES`` pages of 1-2 page ``minipdf.build_pdf``
    documents, ~3% malformed, and a seeded half marked as done."""
    from pdf2dataset_spark.sources import minipdf

    rng = random.Random(seed)
    docs: dict[str, bytes] = {}
    pages: dict[str, list[str] | None] = {}
    total = 0
    i = 0
    while total < SMALL_PAGES:
        path = f"d{i // 100:02d}/doc-{i:05d}.pdf"
        if rng.random() < SMALL_MALFORMED_SHARE:
            docs[path] = _malformed(rng)
            pages[path] = None
        else:
            texts = [
                "\n".join(
                    _sentence(rng, rng.randint(4, 12))
                    for _ in range(rng.randint(1, 4))
                )
                for _ in range(rng.randint(1, 2))
            ]
            docs[path] = minipdf.build_pdf(texts, compress=rng.random() < 0.5)
            pages[path] = texts
            total += len(texts)
        i += 1
    paths = sorted(docs)
    done = frozenset(rng.sample(paths, int(len(paths) * SMALL_DONE_SHARE)))
    return SmallCorpus(docs=docs, pages=pages, done=done)


@dataclass(frozen=True)
class CurateCorpus:
    #: rows of (doc_id, text, lang, source, n_chars) in seeded order
    rows: list[dict]
    #: doc_ids of the byte-exact copies (every one must be dropped)
    exact_copies: frozenset[int]
    #: doc_ids of the copies with a few words changed
    near_copies: frozenset[int]


def curate_corpus(seed: int) -> CurateCorpus:
    """The 500-document table in seeded row order plus seeded copies
    of ~10% of it (half exact, half with 1-3 words changed). Copies
    take ids above every original, so keep-first dedup keeps the
    original."""
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    base = pq.read_table(DATA / "documents.parquet").to_pylist()
    rng.shuffle(base)
    picks = rng.sample(base, int(len(base) * CURATE_COPY_SHARE))
    exact: set[int] = set()
    near: set[int] = set()
    copies: list[dict] = []
    for k, src in enumerate(picks):
        doc_id = CURATE_COPY_ID_BASE + k
        text = src["text"]
        if k % 2 == 0:
            exact.add(doc_id)
        else:
            words = text.split(" ")
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
            near.add(doc_id)
        copies.append({**src, "doc_id": doc_id, "text": text,
                       "n_chars": len(text)})
    rows = base + copies
    rng.shuffle(rows)
    return CurateCorpus(rows=rows, exact_copies=frozenset(exact),
                        near_copies=frozenset(near))


def write_curate_input(corpus: CurateCorpus, path: Path) -> None:
    """The corpus as one parquet file with the source table's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(DATA / "documents.parquet").remove_metadata()
    pq.write_table(pa.Table.from_pylist(corpus.rows, schema=schema), path)
