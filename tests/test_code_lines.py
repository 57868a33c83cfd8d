"""tools/code_lines: blank lines, comments and docstrings do not count."""

from tools.code_lines import code_lines


def test_code_lines_skips_blank_lines_comments_and_docstrings():
    src = (
        "def f(x):\n"
        '    """A docstring\n'
        '    over two lines."""\n'
        "    # a comment\n"
        "\n"
        "    y = (x +\n"
        "         1)  # a trailing comment\n"
        "    return y\n"
    )
    # def, the two lines of the assignment, return
    assert code_lines(src) == 4
    # lines 6-8 only
    assert code_lines(src, 6, 8) == 3
