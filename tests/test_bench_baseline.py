"""``bench.py --scaling`` rewrites only its own marked section of
BENCH/BASELINE.md; hand-recorded sections around it survive."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_rewrites_only_the_marked_section(tmp_path):
    p = tmp_path / "BASELINE.md"
    p.write_text(f"{bench.SCALING_BEGIN}\n# old report\nold table\n"
                 f"{bench.SCALING_END}\n\n## A/B appended later\n\nkeep me\n")
    bench.write_marked_section(str(p), "# new report\nnew table\n")
    assert p.read_text() == (
        f"{bench.SCALING_BEGIN}\n# new report\nnew table\n"
        f"{bench.SCALING_END}\n\n## A/B appended later\n\nkeep me\n")
    # a second run replaces the same section again, nothing accumulates
    bench.write_marked_section(str(p), "# third\n")
    text = p.read_text()
    assert text.count(bench.SCALING_BEGIN) == 1
    assert "# third" in text and "# new report" not in text
    assert text.endswith("## A/B appended later\n\nkeep me\n")


def test_unmarked_file_keeps_its_text(tmp_path):
    p = tmp_path / "BASELINE.md"
    p.write_text("## hand-written\n")
    bench.write_marked_section(str(p), "# report")
    assert p.read_text() == (f"{bench.SCALING_BEGIN}\n# report\n"
                             f"{bench.SCALING_END}\n\n## hand-written\n")


def test_missing_file_is_created(tmp_path):
    p = tmp_path / "BASELINE.md"
    bench.write_marked_section(str(p), "# report")
    assert p.read_text() == (f"{bench.SCALING_BEGIN}\n# report\n"
                             f"{bench.SCALING_END}\n")


def test_repo_baseline_carries_the_markers():
    path = os.path.join(bench._BENCH_DIR, "BASELINE.md")
    with open(path) as f:
        text = f.read()
    assert text.startswith(bench.SCALING_BEGIN)
    assert text.count(bench.SCALING_END) == 1
