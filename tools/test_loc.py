"""Self-tests for tools/loc.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import tempfile
import unittest

import loc

SOURCE = """package p

/** Scaladoc
  * continues here.
  */
object A {
  // a comment
  val x = 1 /* trailing */

  /* a block
     comment */
  def f(y: Int): Int =
    y
      * 2
}
"""


class LocTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        os.makedirs(os.path.join(self.root, "src", "p"))
        self.a = os.path.join(self.root, "src", "p", "A.scala")
        self.b = os.path.join(self.root, "src", "B.scala")
        with open(self.a, "w", encoding="utf-8") as f:
            f.write(SOURCE)
        with open(self.b, "w", encoding="utf-8") as f:
            f.write("object B\n\n// done\n")
        with open(os.path.join(self.root, "src", "notes.txt"), "w") as f:
            f.write("not scala\n")

    def tearDown(self):
        self.tmp.cleanup()

    def run_main(self, *args):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            loc.main(list(args))
        return out.getvalue().splitlines()

    def test_count_skips_blank_comment_and_doc_lines(self):
        # code: package, object A {, val x, def f, y, } (the `* 2` line
        # counts as a doc continuation, the documented rule)
        self.assertEqual(loc.count(self.a), (15, 6))
        self.assertEqual(loc.count(self.b), (3, 1))

    def test_one_line_per_path(self):
        src = os.path.join(self.root, "src")
        self.assertEqual(self.run_main(self.a), [f"15 6 {self.a}"])
        self.assertEqual(self.run_main(src), [f"18 7 {src}"])

    def test_several_paths_print_each_then_a_total_counting_files_once(self):
        src = os.path.join(self.root, "src")
        self.assertEqual(self.run_main(src, self.a), [
            f"18 7 {src}",
            f"15 6 {self.a}",
            "18 7 total",
        ])

    def test_per_file_lists_files_before_their_path_line(self):
        src = os.path.join(self.root, "src")
        self.assertEqual(self.run_main("--per-file", src), [
            f"3 1 {self.b}",
            f"15 6 {self.a}",
            f"18 7 {src}",
        ])


if __name__ == "__main__":
    unittest.main()
