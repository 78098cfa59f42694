"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The generator tests are pure Python. `SelfTestTest` builds the harness if
needed and runs its JVM self-test: seeded chat generation is
reproducible, and the chat, stream and docs output checks each reject a
corrupted output (a dropped triple, an altered key, a key emitted twice).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import inputs  # noqa: E402


def digest(rows):
    """Order-independent digest of row tuples."""
    acc = 0
    for r in rows:
        h = hashlib.sha256("\x01".join(map(str, r)).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
    return len(rows), acc


class DocumentsTest(unittest.TestCase):

    def test_same_seed_same_digest(self):
        self.assertEqual(digest(inputs.documents(3, 500)), digest(inputs.documents(3, 500)))

    def test_other_seed_other_digest(self):
        self.assertNotEqual(digest(inputs.documents(3, 500)), digest(inputs.documents(4, 500)))

    def test_digest_sees_one_changed_row(self):
        rows = inputs.documents(3, 100)
        changed = rows[:-1] + [rows[-1][:1] + ("x",) + rows[-1][2:]]
        self.assertNotEqual(digest(rows), digest(changed))
        self.assertNotEqual(digest(rows), digest(rows[:-1]))

    def test_shape(self):
        rows = inputs.documents(5, 4000)
        vocab = set(inputs.VOCAB) | {inputs.DUP_MARK}
        for doc_id, text, lang, source, n_chars in rows:
            words = text.split(" ")
            self.assertTrue(set(words) <= vocab)
            self.assertTrue(inputs.MIN_WORDS <= len(words) <= inputs.MAX_WORDS + 1)
            self.assertEqual(n_chars, len(text))
            self.assertIn(lang, inputs.LANGS)
            self.assertEqual(source, "src%d" % (doc_id % inputs.SOURCES))
        dups = sum(1 for r in rows if r[1].endswith(" " + inputs.DUP_MARK))
        self.assertTrue(0.03 * len(rows) < dups < 0.07 * len(rows), dups)


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
class SelfTestTest(unittest.TestCase):

    def test_checks_reject_corrupted_outputs(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"],
                           cwd=os.path.dirname(BENCH), stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=1200)
        lines = [l for l in p.stdout.splitlines() if l.startswith("[selftest]")]
        self.assertGreaterEqual(len(lines), 10, p.stdout)
        self.assertEqual([l for l in lines if "FAIL" in l], [])
        self.assertEqual(p.returncode, 0, p.stdout)


if __name__ == "__main__":
    unittest.main()
