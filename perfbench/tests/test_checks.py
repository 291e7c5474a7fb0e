import json
import os
import shutil
import struct
import sys
import tempfile
import unittest
import zlib

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pb import checks  # noqa: E402


def png(rows, cols, color=2, corrupt=False):
    channels = checks.PNG_CHANNELS[color]
    raw = b"".join(b"\x00" + bytes(cols * channels) for _ in range(rows))

    def chunk(kind, body):
        return (struct.pack(">I", len(body)) + kind + body +
                struct.pack(">I", zlib.crc32(kind + body)))
    data = zlib.compress(raw)
    if corrupt:
        data = data[: len(data) // 2]
    return (checks.PNG_MAGIC + chunk(b"IHDR", struct.pack(">IIBBBBB", cols, rows, 8, color, 0, 0, 0))
            + chunk(b"IDAT", data) + chunk(b"IEND", b""))


class FramesLanded(unittest.TestCase):
    EXPECTED = {("cam0", 1), ("cam0", 2), ("cam1", 1)}

    def test_exact_output_passes(self):
        failures, once = checks.frames_landed(sorted(self.EXPECTED), self.EXPECTED)
        self.assertEqual((failures, once), ([], self.EXPECTED))

    def test_rejects_missing_duplicated_and_unexpected(self):
        rows = [("cam0", 1), ("cam0", 1), ("cam9", 5)]
        failures, once = checks.frames_landed(rows, self.EXPECTED)
        self.assertEqual({f["check"] for f in failures},
                         {"frame_missing", "frame_duplicated", "frame_unexpected"})
        self.assertEqual(once, set())


class Pngs(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, name, data):
        with open(os.path.join(self.dir, name), "wb") as f:
            f.write(data)

    def test_expected_pngs_pass(self):
        self.write("cam0-T-5.png", png(12, 16))
        failures, n, size = checks.pngs(self.dir, {"cam0-T-5.png"}, 12, 16)
        self.assertEqual((failures, n), ([], 1))
        self.assertGreater(size, 0)

    def test_rejects_wrong_geometry_corrupt_data_and_wrong_set(self):
        self.write("cam0-T-5.png", png(16, 12))
        self.write("cam0-T-6.png", png(12, 16, corrupt=True))
        failures, _, _ = checks.pngs(self.dir, {"cam0-T-5.png", "cam1-T-5.png"}, 12, 16)
        self.assertEqual({f["check"] for f in failures}, {"png_set", "png_geometry", "png_decode"})

    def test_static_scene_expects_none(self):
        self.write("cam0-T-5.png", png(12, 16))
        failures, _, _ = checks.pngs(self.dir, set(), 12, 16)
        self.assertEqual([f["check"] for f in failures], ["png_set"])


class CatalogOracle(unittest.TestCase):
    """The catalog check runs the entry's oracle SQL over the generated
    tables and compares the way tools/verify_local.py does."""

    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.root = tempfile.mkdtemp()
        self.tables = os.path.join(self.root, "tables")
        self.results = os.path.join(self.root, "results")
        os.makedirs(self.tables)
        os.makedirs(os.path.join(self.results, "e1"))
        pq.write_table(pa.table({"doc_id": [1, 2, 3], "lang": ["en", "de", "en"]}),
                       os.path.join(self.tables, "documents.parquet"))
        with open(os.path.join(self.results, "oracle_sql.json"), "w") as f:
            json.dump({"e1": "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang"}, f)
        self.pa, self.pq = pa, pq

    def tearDown(self):
        shutil.rmtree(self.root)

    def result(self, langs, counts):
        self.pq.write_table(self.pa.table({"lang": langs, "n": counts}),
                            os.path.join(self.results, "e1", "part-0.parquet"))
        return checks.catalog(os.path.dirname(HERE), self.tables, self.results, ["e1"])[0]

    def test_matching_result_passes(self):
        self.assertEqual(self.result(["de", "en"], [1, 2]), [])

    def test_wrong_result_is_rejected(self):
        failures = self.result(["de", "en"], [1, 3])
        self.assertEqual([f["check"] for f in failures], ["catalog_oracle"])
        self.assertIn("VALUE_MISMATCH", failures[0]["detail"])


if __name__ == "__main__":
    unittest.main()
