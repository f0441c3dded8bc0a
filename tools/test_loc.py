"""Unit tests of tools/loc.py's line classifier.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loc import classify  # noqa: E402


class ClassifyTest(unittest.TestCase):
    def test_blank_code_and_line_comments(self):
        self.assertEqual(
            classify(["", "   ", "val x = 1", "  // note", "f() // trailing"]),
            ["blank", "blank", "code", "comment", "code"])

    def test_scaladoc_block_spans_lines(self):
        self.assertEqual(
            classify(["/** One writer.", "  *", "  * Cells.", "  */",
                      "class W"]),
            ["comment", "comment", "comment", "comment", "code"])

    def test_blank_line_inside_block_is_comment(self):
        self.assertEqual(classify(["/*", "", "*/", ""]),
                         ["comment", "comment", "comment", "blank"])

    def test_code_after_closing_block(self):
        self.assertEqual(classify(["/* a */ val y = 2", "/* b */"]),
                         ["code", "comment"])

    def test_nested_blocks(self):
        self.assertEqual(classify(["/* outer /* inner */", "still */",
                                   "code()"]),
                         ["comment", "comment", "code"])

    def test_comment_markers_inside_strings_are_code(self):
        self.assertEqual(
            classify(['val u = "http://x" // c', 'val s = "/* no"',
                      'val q = "a\\"//b"', 'val t = """/*"""', "next"]),
            ["code", "code", "code", "code", "code"])

    def test_multiline_string_is_code(self):
        self.assertEqual(classify(['val s = """a', "// inside", '"""']),
                         ["code", "code", "code"])


if __name__ == "__main__":
    unittest.main()
