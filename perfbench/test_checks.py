"""The output checks refuse wrong answers.

    python3 perfbench/test_checks.py

Needs no JVM: each case builds a right answer, breaks it one way, and
asserts that the check names the break.
"""
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import checks


def table(**cols):
    return pa.table(cols)


class CompareTest(unittest.TestCase):
    want = table(k=pa.array([1, 2, 3], pa.int64()),
                 v=pa.array([0.5, 1.25, 2.0], pa.float64()))

    def test_equal_in_any_row_and_column_order(self):
        got = table(v=pa.array([2.0, 0.5, 1.25]), k=pa.array([3, 1, 2], pa.int64()))
        self.assertIsNone(checks.compare(got, self.want))

    def test_wrong_value(self):
        got = table(k=pa.array([1, 2, 3], pa.int64()),
                    v=pa.array([0.5, 1.25, 2.0000001]))
        self.assertIn("differs", checks.compare(got, self.want))

    def test_wrong_type(self):
        got = table(k=pa.array([1, 2, 3], pa.int32()), v=pa.array([0.5, 1.25, 2.0]))
        self.assertIn("Arrow types differ", checks.compare(got, self.want))

    def test_missing_row(self):
        got = table(k=pa.array([1, 2], pa.int64()), v=pa.array([0.5, 1.25]))
        self.assertIn("row count", checks.compare(got, self.want))

    def test_renamed_column(self):
        got = table(k=pa.array([1, 2, 3], pa.int64()), w=pa.array([0.5, 1.25, 2.0]))
        self.assertIn("columns differ", checks.compare(got, self.want))


class BatchTest(unittest.TestCase):
    """A batch run over a one-table data directory, with the DuckDB
    answer cache in a temporary directory."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.cache, checks.CACHE = checks.CACHE, os.path.join(self.dir, "cache")
        self.src = os.path.join(self.dir, "src")
        os.makedirs(self.src)
        pq.write_table(table(r_regionkey=pa.array([0, 1], pa.int64())),
                       os.path.join(self.src, "region.parquet"))

    def tearDown(self):
        checks.CACHE = self.cache
        shutil.rmtree(self.dir)

    def output(self, name, keys):
        d = os.path.join(self.dir, "out", name)
        os.makedirs(d)
        pq.write_table(table(r_regionkey=pa.array(keys, pa.int64())),
                       os.path.join(d, "part-0.parquet"))
        return {"name": name, "dir": d,
                "oracle": "SELECT r_regionkey FROM region"}

    def test_right_answer_passes(self):
        run = {"order": ["qA"], "outputs": [self.output("qA", [1, 0])]}
        self.assertEqual(checks.check_batch(run, self.src), ([], 2))

    def test_wrong_answer(self):
        run = {"order": ["qA"], "outputs": [self.output("qA", [0, 2])]}
        problems, _ = checks.check_batch(run, self.src)
        self.assertTrue(any("differs" in p for p in problems))

    def test_unchecked_query(self):
        run = {"order": ["qA", "qB"], "outputs": [self.output("qA", [0, 1])]}
        problems, _ = checks.check_batch(run, self.src)
        self.assertEqual(len(problems), 1)
        self.assertIn("qB: no result to check", problems[0])


class IngestTest(unittest.TestCase):
    """A hand-made round over two days of events and four documents,
    of which doc 3 repeats doc 1's text in a later batch."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        src = os.path.join(self.dir, "src")
        os.makedirs(src)
        ts = pa.array([1704067200_000000, 1704070800_000000, 1704153600_000000],
                      pa.timestamp("us"))
        pq.write_table(pa.table({"ts": ts, "value": [1.0, 2.0, 4.0]}),
                       os.path.join(src, "events.parquet"))
        pq.write_table(pa.table({"doc_id": pa.array([1, 2, 3, 4], pa.int64()),
                                 "text": ["a b c", "d e f", "a b c", "g h i"]}),
                       os.path.join(src, "documents.parquet"))
        self.src = src
        for date, rows in [("2024-01-01", [1.0, 2.0]), ("2024-01-02", [4.0])]:
            d = os.path.join(self.dir, "appended", f"date={date}")
            os.makedirs(d)
            pq.write_table(pa.table({"value": rows}), os.path.join(d, "p.parquet"))
        self.decide([(1, False, None, 0), (2, False, None, 0),
                     (3, True, 1, 1), (4, False, None, 1)])

    def tearDown(self):
        shutil.rmtree(self.dir)

    def decide(self, rows):
        d = os.path.join(self.dir, "decisions")
        shutil.rmtree(d, ignore_errors=True)
        for b in sorted({r[3] for r in rows}):
            v = os.path.join(d, f"v_{b:020d}")
            os.makedirs(v)
            mine = [r for r in rows if r[3] == b]
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in mine], pa.int64()),
                "is_dup": [r[1] for r in mine],
                "dup_of": pa.array([r[2] for r in mine], pa.int64()),
                "batch_id": pa.array([r[3] for r in mine], pa.int64())}),
                os.path.join(v, "p.parquet"))

    def problems(self, read_rows=None):
        rnd = {"appended": os.path.join(self.dir, "appended"),
               "decisions": os.path.join(self.dir, "decisions"),
               "read_from": "2024-01-02", "read_to": "2024-01-31",
               "read_rows": read_rows if read_rows is not None else
               [{"date": "2024-01-02", "n": 1, "value_sum": 4.0}]}
        con = checks.connect(self.src, ["events", "documents"])
        return checks.check_ingest_round(rnd, con)

    def test_right_round_passes(self):
        self.assertEqual(self.problems(), [])

    def test_wrong_partition_read(self):
        self.assertTrue(self.problems([{"date": "2024-01-02", "n": 1, "value_sum": 4.5}]))

    def test_unflagged_repeat(self):
        self.decide([(1, False, None, 0), (2, False, None, 0),
                     (3, False, None, 1), (4, False, None, 1)])
        self.assertTrue(any("not flagged" in p for p in self.problems()))

    def test_dup_of_a_later_doc(self):
        self.decide([(1, True, 3, 0), (2, False, None, 0),
                     (3, True, 1, 1), (4, False, None, 1)])
        self.assertTrue(any("not an earlier doc" in p for p in self.problems()))

    def test_missing_decision(self):
        self.decide([(1, False, None, 0), (3, True, 1, 1), (4, False, None, 1)])
        self.assertTrue(any("decisions" in p for p in self.problems()))

    def test_lost_append(self):
        shutil.rmtree(os.path.join(self.dir, "appended", "date=2024-01-02"))
        self.assertTrue(any("appended" in p for p in self.problems()))


if __name__ == "__main__":
    unittest.main()
