import contextlib
import io
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gate  # noqa: E402


class OracleTest(unittest.TestCase):
    def test_agreement_and_disagreement_via_check_oracle(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = tempfile.mkdtemp()
        data, results = os.path.join(d, "data"), os.path.join(d, "results")
        os.makedirs(data)
        pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64())}),
                       os.path.join(data, "t.parquet"))
        for name, ks in [("q_ok", [2, 3]), ("q_bad", [2, 4])]:
            os.makedirs(os.path.join(results, name))
            pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}),
                           os.path.join(results, name, "part-0.parquet"))
        sql = {"q_ok": "SELECT k FROM t WHERE k > 1 ORDER BY k",
               "q_bad": "SELECT k FROM t WHERE k > 1 ORDER BY k"}
        with contextlib.redirect_stderr(io.StringIO()):
            got = gate.oracle(os.path.dirname(HERE), results, data, sql, ["t"])
        self.assertEqual(got["q_ok"], [])
        self.assertTrue(got["q_bad"])


if __name__ == "__main__":
    unittest.main()
