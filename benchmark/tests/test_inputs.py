"""The input generators are pure functions of the seed."""

import unittest

from benchmark import inputs
from pdf2dataset_spark.sources.codecs import PdfCodec


class RealCorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(inputs.real_corpus(7), inputs.real_corpus(7))

    def test_seeds_differ_and_copies_are_distinct(self):
        a, b = inputs.real_corpus(7), inputs.real_corpus(8)
        self.assertEqual(sorted(a), sorted(b))
        self.assertNotEqual(a, b)
        self.assertEqual(len(set(a.values())), len(a))
        self.assertEqual(len(a), len(inputs.MANUALS) * inputs.REAL_COPIES)

    def test_copy_extracts_like_its_manual(self):
        codec = PdfCodec()
        docs = inputs.real_corpus(3)
        for name in inputs.MANUALS:
            stem = name.rsplit(".", 1)[0]
            base = codec.open((inputs.DATA / name).read_bytes()).pages
            self.assertEqual(codec.open(docs[f"{stem}/{stem}-05.pdf"]).pages, base)


class SmallCorpusTest(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        self.assertEqual(inputs.small_corpus(11), inputs.small_corpus(11))
        self.assertNotEqual(inputs.small_corpus(11).docs,
                            inputs.small_corpus(12).docs)

    def test_shape(self):
        c = inputs.small_corpus(5)
        good = [v for v in c.pages.values() if v is not None]
        n_pages = sum(len(v) for v in good)
        self.assertGreaterEqual(n_pages, inputs.SMALL_PAGES)
        self.assertLess(n_pages, inputs.SMALL_PAGES + 2)
        self.assertTrue(all(len(v) in (1, 2) for v in good))
        share = sum(v is None for v in c.pages.values()) / len(c.docs)
        self.assertTrue(0.01 < share < 0.06, share)
        self.assertEqual(len(c.done), len(c.docs) // 2)

    def test_malformed_rejected_and_good_docs_open(self):
        codec = PdfCodec()
        c = inputs.small_corpus(5)
        for path, content in c.docs.items():
            if c.pages[path] is None:
                with self.assertRaises(ValueError, msg=path):
                    codec.open(content)
            else:
                self.assertEqual(codec.page_count(codec.open(content)),
                                 len(c.pages[path]), path)


class CurateCorpusTest(unittest.TestCase):
    def test_same_seed_same_rows(self):
        self.assertEqual(inputs.curate_corpus(4), inputs.curate_corpus(4))
        self.assertNotEqual(inputs.curate_corpus(4).rows,
                            inputs.curate_corpus(5).rows)

    def test_copies(self):
        c = inputs.curate_corpus(4)
        ids = [r["doc_id"] for r in c.rows]
        self.assertEqual(len(set(ids)), len(ids))
        self.assertEqual(len(ids), 550)
        self.assertEqual(len(c.exact_copies), 25)
        self.assertEqual(len(c.near_copies), 25)
        originals = {r["text"] for r in c.rows
                     if r["doc_id"] < inputs.CURATE_COPY_ID_BASE}
        by_id = {r["doc_id"]: r for r in c.rows}
        for i in c.exact_copies:
            self.assertIn(by_id[i]["text"], originals)
        for i in c.near_copies:
            self.assertEqual(by_id[i]["n_chars"], len(by_id[i]["text"]))


if __name__ == "__main__":
    unittest.main()
