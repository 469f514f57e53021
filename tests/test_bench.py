"""bench.py's stdout tail: the last lines must warn when they approach
the 2000-char tail capture."""

from __future__ import annotations

import bench


def test_print_tail_warns_only_above_limit(capsys):
    short = "x" * 100
    bench.print_tail(short, short)
    out = capsys.readouterr()
    assert out.out == f"{short}\n{short}\n"
    assert out.err == ""

    long = "y" * (bench.TAIL_WARN_CHARS // 2)
    bench.print_tail(long, long)
    out = capsys.readouterr()
    assert out.out == f"{long}\n{long}\n"
    assert "WARNING" in out.err and str(bench.TAIL_WARN_CHARS) in out.err
