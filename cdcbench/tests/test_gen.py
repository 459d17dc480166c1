"""Generator self-tests: determinism per seed, op mix, wire shape."""

import collections
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

# Schemas.envelopeSchema / sourceDocSchema field names, plus seq/event_time
ENVELOPE = {"operation", "document_id", "timestamp", "data", "seq", "event_time"}
DOC = {"video_id", "session_id", "watched_seconds", "video_duration_seconds",
       "timestamp", "device_type", "quality"}


class GenTest(unittest.TestCase):
    def test_same_seed_same_lines(self):
        self.assertEqual(gen.lines(7, 3000), gen.lines(7, 3000))

    def test_other_seed_other_lines(self):
        self.assertNotEqual(gen.lines(1, 3000), gen.lines(2, 3000))

    def test_prefix_stable(self):
        # a longer run extends a shorter one: preload and workload input
        # are one sequence
        self.assertEqual(gen.lines(3, 5000)[:2000], gen.lines(3, 2000))

    def test_op_mix(self):
        ops = collections.Counter(e["operation"] for e in gen.events(11, 20000))
        n = sum(ops.values())
        for op, share in (("insert", 0.5), ("update", 0.3), ("delete", 0.2)):
            self.assertAlmostEqual(ops[op] / n, share, delta=0.02, msg=op)

    def test_documents_follow_their_lifecycle(self):
        live = set()
        for e in gen.events(5, 20000):
            if e["operation"] == "insert":
                self.assertNotIn(e["document_id"], live)
                live.add(e["document_id"])
            else:
                self.assertIn(e["document_id"], live)
                if e["operation"] == "delete":
                    live.remove(e["document_id"])

    def test_wire_shape_and_bounds(self):
        for i, line in enumerate(gen.lines(9, 5000)):
            e = json.loads(line)
            self.assertEqual(set(e), ENVELOPE)
            self.assertEqual(e["seq"], i)
            if e["operation"] == "delete":
                self.assertIsNone(e["data"])
            else:
                self.assertEqual(set(e["data"]), DOC)
                d = e["data"]
                self.assertTrue(0 <= d["watched_seconds"] <= d["video_duration_seconds"])


if __name__ == "__main__":
    unittest.main()
