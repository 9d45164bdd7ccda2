"""Tests of the hub generator: the same seed gives byte-identical files, and
the manifest matches a recount of the files it describes.

Run from the repository root: python3 -m unittest perfbench/test_hubgen.py
"""
import math
import os
import sys
import tempfile
import unittest

import pyarrow.csv as pacsv
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hubgen  # noqa: E402

TASKS_JSON = os.path.join(os.path.dirname(HERE), "src", "test", "resources", "integration",
                          "data", "flu-metrocast", "hub-config", "tasks.json")
SIZE = dict(n_files=30, n_tail=20, rows_per_file=300)


def tree(root):
    """{relative path: bytes} of every file under `root`."""
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def recount(path, kind):
    """(rows, nulls per nullable column, value sum) read back from one file,
    with the reader's CSV sentinels counted as nulls."""
    if kind == "parquet":
        t = pq.read_table(path)
        cols = {c: t.column(c).to_pylist() for c in hubgen.NULLABLE}
        is_null = lambda v: v is None  # noqa: E731
    else:
        opts = pacsv.ConvertOptions(column_types={c: "string" for c in hubgen.NULLABLE},
                                    strings_can_be_null=False, null_values=[])
        t = pacsv.read_csv(path, convert_options=opts)
        cols = {c: t.column(c).to_pylist() for c in hubgen.NULLABLE}
        is_null = lambda v: v is None or v in hubgen.SENTINELS  # noqa: E731
    nulls = {c: sum(1 for v in vals if is_null(v)) for c, vals in cols.items()}
    total = math.fsum(float(v) for v in cols["value"] if not is_null(v))
    return t.num_rows, nulls, total


class HubGenTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            hubgen.generate(a, 7, tasks_json=TASKS_JSON, **SIZE)
            hubgen.generate(b, 7, tasks_json=TASKS_JSON, **SIZE)
            self.assertEqual(tree(a), tree(b))
        with tempfile.TemporaryDirectory() as c, tempfile.TemporaryDirectory() as d:
            hubgen.generate(c, 7, tasks_json=TASKS_JSON, **SIZE)
            hubgen.generate(d, 8, tasks_json=TASKS_JSON, **SIZE)
            self.assertNotEqual(tree(c), tree(d))

    def test_manifest_matches_recount(self):
        with tempfile.TemporaryDirectory() as out:
            m = hubgen.generate(out, 11, tasks_json=TASKS_JSON, **SIZE)
            kinds = {f["kind"] for f in m["files"] + m["tail_files"]}
            self.assertEqual(kinds, {"csv", "parquet", "other"})
            for f in m["files"] + m["tail_files"]:
                root = "raw" if f in m["files"] else "pending"
                path = os.path.join(out, "hub", root, f["path"])
                self.assertEqual(os.path.getsize(path), f["bytes"], f["path"])
                if f["action"] != "add":
                    continue
                rows, nulls, total = recount(path, f["kind"])
                self.assertEqual(rows, f["rows"], f["path"])
                self.assertEqual(nulls, f["nulls"], f["path"])
                self.assertEqual(total, f["value_sum"], f["path"])
            ops = [e["op"] for e in m["events"]]
            self.assertEqual(len(ops), SIZE["n_tail"])
            self.assertEqual(set(ops), {"add_new", "readd", "remove"})

    def test_scan_queries_expect_manifest_aggregates(self):
        with tempfile.TemporaryDirectory() as out:
            m = hubgen.generate(out, 3, tasks_json=TASKS_JSON, **SIZE)
            qs = hubgen.scan_queries(m, 3, 20)
            good = [f for f in m["files"] if f["action"] == "add"]
            self.assertEqual(qs[0]["files"], len(good))
            self.assertEqual(sum(e[3] for e in qs[0]["expect"]), sum(f["rows"] for f in good))
            self.assertTrue(all(0 < q["files"] <= 6 for i, q in enumerate(qs) if i % 10))


if __name__ == "__main__":
    unittest.main()
