"""The input generators are deterministic: the same arguments give the
same bytes, and another seed gives other bytes.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import os
import tempfile
import unittest

import gen


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name
        gen.tables(os.path.join(self.dir, "t"), 0.0005)

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.dir, name)

    def test_tables_are_fixed(self):
        gen.tables(self.path("t2"), 0.0005)
        for t in gen.TABLES:
            self.assertEqual(digest(self.path(f"t/{t}.parquet")),
                             digest(self.path(f"t2/{t}.parquet")), t)

    def test_sql_dump_same_seed_same_bytes(self):
        gen.sql_dump(self.path("t"), self.path("a.sql"), 7)
        gen.sql_dump(self.path("t"), self.path("b.sql"), 7)
        gen.sql_dump(self.path("t"), self.path("c.sql"), 8)
        self.assertEqual(digest(self.path("a.sql")), digest(self.path("b.sql")))
        self.assertNotEqual(digest(self.path("a.sql")), digest(self.path("c.sql")))

    def test_sql_dump_holds_every_row_once(self):
        gen.sql_dump(self.path("t"), self.path("a.sql"), 7)
        with open(self.path("a.sql")) as f:
            inserts = [line for line in f if line.startswith("INSERT INTO")]
        self.assertEqual(len(inserts), len(set(inserts)))
        self.assertEqual(len(inserts), sum(gen.row_counts(0.0005).values()))

    def test_corpus_same_seed_same_bytes(self):
        gen.corpus(self.path("a.parquet"), 500, 7)
        gen.corpus(self.path("b.parquet"), 500, 7)
        gen.corpus(self.path("c.parquet"), 500, 8)
        self.assertEqual(digest(self.path("a.parquet")), digest(self.path("b.parquet")))
        self.assertNotEqual(digest(self.path("a.parquet")), digest(self.path("c.parquet")))


if __name__ == "__main__":
    unittest.main()
