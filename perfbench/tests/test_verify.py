import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import run


def q(name, phase, fp, err=None):
    return dict(k="q", name=name, phase=phase, fp=fp, err=err)


def oracle(name, fp):
    return dict(k="oracle", name=name, fp=fp)


class VerifyTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        datagen.write(cls.data, 3, 0.00001)
        cls.dump = os.path.join(cls.tmp.name, "dump")
        for name, x in (("q_good", 1), ("q_wrong", 2), ("q_free", 5)):
            os.makedirs(os.path.join(cls.dump, name))
            pq.write_table(pa.table({"x": pa.array([x], pa.int64())}),
                           os.path.join(cls.dump, name, "part-0.parquet"))
        cls.cat = {"q_good": ("m", "SELECT 1::BIGINT AS x"),
                   "q_wrong": ("m", "SELECT 1::BIGINT AS x"),
                   "q_free": ("m", None),
                   "q_throws": ("m", "SELECT 1 AS x")}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def check(self, records):
        execs, bad = run.verify(records, self.cat, self.data, self.dump)
        return bad, run.failures(execs, bad)

    def test_oracle_fingerprint_match_passes(self):
        bad, failed = self.check([q("q_good", "timed", "1:7"), q("q_good", "traced", "1:7"),
                                  oracle("q_good", "1:7")])
        self.assertEqual(bad, {})
        self.assertEqual(failed, 0)

    def test_written_result_equal_to_oracle_passes(self):
        bad, _ = self.check([q("q_good", "timed", "1:7"), oracle("q_good", "1:6"),
                             q("q_good", "verify", "1:7")])
        self.assertEqual(bad, {})

    def test_repeated_result_without_oracle_passes(self):
        bad, _ = self.check([q("q_free", "timed", "1:9"), oracle("q_free", None),
                             q("q_free", "verify", "1:9")])
        self.assertEqual(bad, {})

    def test_wrong_expected_fingerprint_fails(self):
        # The verified (written, oracle-equal) result has another fingerprint
        # than the timed executions.
        bad, failed = self.check([q("q_good", "timed", "1:8"), q("q_good", "timed", "1:8"),
                                  oracle("q_good", "1:7"), q("q_good", "verify", "1:7")])
        self.assertIn("q_good", bad)
        self.assertEqual(failed, 2)

    def test_unmatched_oracle_fingerprint_fails(self):
        bad, failed = self.check([q("q_good", "timed", "1:8"), oracle("q_good", "1:7")])
        self.assertIn("q_good", bad)
        self.assertEqual(failed, 1)

    def test_fingerprints_differing_between_executions_fail(self):
        bad, failed = self.check([q("q_good", "timed", "1:7"), q("q_good", "timed", "1:8"),
                                  q("q_good", "traced", "1:7"), oracle("q_good", "1:7")])
        self.assertIn("q_good", bad)
        self.assertEqual(failed, 3)

    def test_oracle_mismatch_fails(self):
        bad, failed = self.check([q("q_wrong", "timed", "1:2"), oracle("q_wrong", "1:1"),
                                  q("q_wrong", "verify", "1:2")])
        self.assertIn("row 0", bad["q_wrong"])
        self.assertEqual(failed, 1)

    def test_exception_fails(self):
        bad, failed = self.check([q("q_throws", "timed", None, "boom"),
                                  oracle("q_throws", None),
                                  q("q_throws", "verify", None, "boom")])
        self.assertEqual(bad["q_throws"], "boom")
        self.assertEqual(failed, 1)

    def test_unrepeated_fingerprint_without_oracle_fails(self):
        bad, _ = self.check([q("q_free", "timed", "1:9"), oracle("q_free", None),
                             q("q_free", "verify", "1:10")])
        self.assertIn("q_free", bad)

    def test_oracle_sql_error_fails(self):
        execs, bad = run.verify([q("q_good", "timed", "1:7"), oracle("q_good", "1:7")],
                                self.cat, self.data, self.dump, {"q_good": "oracle SQL failed"})
        self.assertEqual(bad, {"q_good": "oracle SQL failed"})

    def test_write_oracles(self):
        out = os.path.join(self.tmp.name, "oracle")
        errors = run.write_oracles(["q_good", "q_free", "q_throws"],
                                   dict(self.cat, q_throws=("m", "SELECT nope")), self.data, out)
        self.assertEqual(sorted(os.listdir(out)), ["q_good.parquet"])
        self.assertEqual(list(errors), ["q_throws"])


class OracleNormTest(unittest.TestCase):
    def test_cells(self):
        from oracle import norm_cell
        self.assertEqual(norm_cell(None), "NULL")
        self.assertEqual(norm_cell(float("nan")), "NaN")
        self.assertEqual(norm_cell(0.1 + 0.2), "0.30000000000000004")
        self.assertEqual(norm_cell([1, None]), "[int:1,NULL]")
        self.assertEqual(norm_cell(True), "bool:True")


if __name__ == "__main__":
    unittest.main()
