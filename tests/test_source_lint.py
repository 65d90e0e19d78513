"""Source lint — the complement of test_plan_lint.py for patterns that
are visible in the code before any plan exists.

A driver-side vector, matrix or bound table must enter a plan through
``functions.vector.array_lit`` (one folded literal node, O(1) py4j
calls), never through a per-element ``F.array(*[F.lit(x) ...])`` list:
that form costs one py4j round trip per element (1.7-2.5 s for a
32×128 centroid matrix) and an O(k·D)-node tree to analyze.
"""

from __future__ import annotations

import pathlib
import re

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_PKG = _ROOT / "the_build_project_image_retrieval_with_vector_databases_spark"

# F.array(*[F.lit( … with any whitespace / line breaks between tokens
_PER_ELEMENT_LIT = re.compile(r"F\.array\(\s*\*\s*\[\s*F\.lit\(")


def _hit_lines(text: str) -> list[int]:
    return [
        text.count("\n", 0, m.start()) + 1
        for m in _PER_ELEMENT_LIT.finditer(text)
    ]


def test_no_per_element_array_literals_in_package_or_scripts():
    paths = sorted(_PKG.rglob("*.py")) + sorted((_ROOT / "scripts").glob("*.py"))
    assert paths, "package sources not found"
    hits = [
        f"{path.relative_to(_ROOT)}:{line}"
        for path in paths
        for line in _hit_lines(path.read_text(encoding="utf-8"))
    ]
    assert not hits, (
        "per-element array literal; use functions.vector.array_lit: "
        + ", ".join(hits)
    )


def test_lint_pattern_catches_wrapped_and_nested_forms():
    """Negative control: the pattern matches the flat, line-wrapped and
    nested-matrix spellings it exists for, and not array_lit itself."""
    planted = (
        "a = F.array(*[F.lit(float(x)) for x in q])\n"
        "b = F.array(\n    *[F.lit(int(v)) for v in c]\n)\n"
        "c = F.array(*[F.array(*[F.lit(x) for x in r]) for r in m])\n"
        "d = array_lit(q)\n"
    )
    assert _hit_lines(planted) == [1, 2, 5]
