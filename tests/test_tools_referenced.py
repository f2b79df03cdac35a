"""Every script under ``tools/`` and ``examples/`` is run by something:
a test, the package, or a current run guide names it. A script nothing
names is an orphan; delete it (git history keeps it) instead of
carrying it. Historical reports (BASELINE.md, OPTIMIZATION_r*.md, ...)
do not count as a reference."""

from __future__ import annotations

from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
_GUIDES = ["README.md", "DEPLOYMENT.md", "bench.py", ".claude/skills/verify/SKILL.md"]


def _referrers() -> list[Path]:
    package = _ROOT / "kafka_streams_spring_cloud_stream_tp1_spark"
    return [
        *sorted((_ROOT / "tests").glob("*.py")),
        *sorted(package.rglob("*.py")),
        *(p for p in (_ROOT / g for g in _GUIDES) if p.exists()),
    ]


def _orphans(directory: str) -> list[str]:
    texts = [p.read_text(encoding="utf-8") for p in _referrers()]
    scripts = sorted(p.name for p in (_ROOT / directory).iterdir() if p.is_file())
    assert scripts
    return [name for name in scripts if not any(name in text for text in texts)]


def test_every_tool_is_named_by_a_test_the_package_or_a_guide():
    orphans = _orphans("tools")
    assert not orphans, f"tools nothing names (delete them or use them): {orphans}"


def test_every_example_is_named_by_a_test_the_package_or_a_guide():
    orphans = _orphans("examples")
    assert not orphans, f"examples nothing names (delete them or use them): {orphans}"
