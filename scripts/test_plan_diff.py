"""Tests for plan_diff.py: build/JVM noise reads `identical`, a real
operator change reads `DIFFERS`.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import contextlib
import io
import os
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

BEFORE = """[info] welcome to sbt
========== stream_session_window ==========
== Physical Plan ==
*(2) HashAggregate(keys=[user_id#12], functions=[count(1)], plan_id=41)
+- FileScan parquet [user_id#12] Location: InMemoryFileIndex[file:/tmp/graft_stream_sess_out4412378812377/part], plan_id=40
   +- Project [graft_simhash16(tokens#7) AS h#9]
      +- Filter exists(m#3, lambdafunction(lambda x_4#20.medium IN (a), lambda x_4#20, false))
         +- MapPartitions Dataset$$Lambda$3667/0x00007f6ef4fe9d60@5b18, obj#8
========== text_top_tokens ==========
*(1) Scan ExistingRDD[token#3] MapPartitionsRDD[128] at Text.scala:17
"""


def dump(text):
    f = tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False, encoding="utf-8")
    f.write(text)
    f.close()
    return f.name


class PlanDiffTest(unittest.TestCase):
    def run_diff(self, before, after):
        paths = [dump(before), dump(after)]
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                code = plan_diff.main(["plan_diff.py"] + paths)
        finally:
            for p in paths:
                os.unlink(p)
        return code, out.getvalue()

    def test_temp_dir_suffix_expression_and_plan_ids_are_noise(self):
        after = (BEFORE.replace("graft_stream_sess_out4412378812377", "graft_stream_sess_out90017")
                 .replace("user_id#12", "user_id#305")
                 .replace("plan_id=41", "plan_id=977")
                 .replace("x_4#20", "x_13#20")
                 .replace("$$Lambda$3667/0x00007f6ef4fe9d60", "$$Lambda$5458/0x00007f49b1546e68"))
        self.assertNotEqual(after, BEFORE)
        code, out = self.run_diff(BEFORE, after)
        self.assertEqual(code, 0, out)
        self.assertIn("stream_session_window: identical", out)
        self.assertIn("text_top_tokens: identical", out)

    def test_operator_change_differs(self):
        after = BEFORE.replace("*(2) HashAggregate", "*(2) SortAggregate")
        code, out = self.run_diff(BEFORE, after)
        self.assertEqual(code, 1)
        self.assertIn("stream_session_window: DIFFERS", out)
        self.assertIn("text_top_tokens: identical", out)

    def test_function_name_digits_are_not_noise(self):
        after = BEFORE.replace("graft_simhash16", "graft_simhash64")
        code, out = self.run_diff(BEFORE, after)
        self.assertEqual(code, 1)
        self.assertIn("stream_session_window: DIFFERS", out)

    def test_query_missing_from_one_side_differs(self):
        after = BEFORE.split("========== text_top_tokens")[0]
        code, out = self.run_diff(BEFORE, after)
        self.assertEqual(code, 1)
        self.assertIn("text_top_tokens: only in BEFORE", out)

    def test_long_literal_normalizes_in_linear_time(self):
        # plans inline serialized sketches as hex literals of 200k+ chars
        line = "Output [1]: [cms_estimate(0x" + "0A" * 50000 + ") at Text.scala:17]"
        text = "========== q ==========\n" + line + "\n"
        start = time.monotonic()
        code, out = self.run_diff(text, text.replace(":17]", ":99]"))
        self.assertLess(time.monotonic() - start, 5.0)
        self.assertEqual(code, 0, out)


if __name__ == "__main__":
    unittest.main()
