import base64
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import payloads  # noqa: E402

FIELDS = {"datetime", "@timestamp", "random_id", "kind_id", "account_id", "performer_id",
          "repository_id", "ip", "metadata", "request_url", "http_method",
          "performer_username", "performer_email", "performer_kind", "auth_type",
          "user_agent", "request_id", "x_forwarded_for"}


def decode(p):
    return base64.b64decode(p).decode("utf-8")


class PayloadTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a = payloads.generate(7, 3000, 0.01, 0.05, 7)
        b = payloads.generate(7, 3000, 0.01, 0.05, 7)
        self.assertEqual("\n".join(a.payloads).encode(), "\n".join(b.payloads).encode())
        self.assertNotEqual(a.payloads, payloads.generate(8, 3000, 0.01, 0.05, 7).payloads)

    def test_exact_shares(self):
        n = 10000
        b = payloads.generate(3, n, 0.01, 0.05, 7)
        self.assertEqual(len(b.payloads), n)
        self.assertEqual(len(b.poison), 100)
        self.assertEqual(len(b.duplicates), 500)
        self.assertEqual(len(b.valid), n - 100)
        self.assertEqual(len(set(b.ids[i] for i in b.valid)), n - 100 - 500)
        self.assertEqual(len(set(b.days[i] for i in b.valid)), 7)

    def test_duplicates_repeat_an_earlier_valid_record(self):
        b = payloads.generate(5, 2000, 0.02, 0.05, 3)
        valid = set(b.valid)
        for i in b.duplicates:
            earlier = [j for j in range(i) if b.payloads[j] == b.payloads[i] and j in valid]
            self.assertTrue(earlier, f"duplicate {i} has no earlier original")

    def test_record_shape(self):
        b = payloads.generate(1, 200, 0.05, 0.0, 1)
        for i in b.valid:
            rec = json.loads(decode(b.payloads[i]))
            self.assertEqual(set(rec), FIELDS)
            self.assertEqual(rec["datetime"][:10], b.days[i])
            self.assertEqual(rec["random_id"], b.ids[i])
        self.assertEqual(len({b.days[i] for i in b.valid}), 1)

    def test_poison_lacks_required_fields(self):
        b = payloads.generate(2, 3000, 0.03, 0.0, 1)
        for i in b.poison:
            text = decode(b.payloads[i])
            try:
                rec = json.loads(text)
            except ValueError:
                continue
            self.assertFalse("random_id" in rec and "datetime" in rec)

    def test_rejects_impossible_shares(self):
        with self.assertRaises(ValueError):
            payloads.generate(1, 10, 0.5, 0.5, 1)


if __name__ == "__main__":
    unittest.main()
